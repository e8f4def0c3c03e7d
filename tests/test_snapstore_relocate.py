"""Store relocatability (r15): a snapstore directory moved with
``shutil.move`` (mv/cp/remount semantics) keeps working — reads, pruning,
metadata counts, DV-masked deletes, CDF feeds, appends, DML, restore,
sidecar folds, and vacuum all operate under the new root.

Mechanism under test: heads record the root they were published under
(``root`` key) and readers rebase path lists at load; sidecar parts
carry their origin root in schema metadata and self-rebase at load;
deletion-vector rows carry a per-row origin root so deletes recorded
before a move keep masking rows after it (Delta/Iceberg reach the same
property with root-relative paths; rebase-on-read preserves this
store's absolute-path in-memory invariants instead).
"""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from wsspark import snapstore as ss


@pytest.fixture()
def sidecar_mode(monkeypatch):
    monkeypatch.setattr(ss, "DETAIL_INLINE_MAX", 0)
    monkeypatch.setattr(ss, "FILES_INLINE_MAX", 0)


def _df(spark, lo, hi):
    return spark.createDataFrame(
        [(i, i * 2, f"s{i % 7}") for i in range(lo, hi)],
        "id long, val long, s string",
    )


def _build(spark, root):
    """A store with every path-carrying structure: multipart sidecar
    chain, O(1) head, DV delete, CDF feed, bloom + stats."""
    ss.snap_commit(
        _df(spark, 0, 100).repartitionByRange(4, "id"),
        root,
        stats_cols=["id"],
        bloom_cols=["s"],
    )
    ss.snap_enable_cdf(root)
    ss.snap_commit(
        _df(spark, 100, 130).coalesce(1),
        root,
        stats_cols=["id"],
        bloom_cols=["s"],
    )
    ss.snap_update_where(spark, root, "id % 20 = 0", {"val": "val + 1"})
    ss.snap_delete_dv(spark, root, "id >= 120")
    return ss.snap_current_version(root)


EXPECTED_IDS = set(range(0, 120))


def _check_full_surface(spark, root, feed_from):
    rows = ss.snap_read(spark, root).collect()
    assert {r.id for r in rows} == EXPECTED_IDS, "DV mask survives"
    assert {r.val for r in rows if r.id % 20 == 0} == {
        i * 2 + 1 for i in range(0, 120, 20)
    }, "COW update survives"
    assert ss.snap_count(root) == 120
    kept, total = ss.snap_prune_files(root, "id", 0, 10)
    assert 0 < len(kept) < total
    kept_eq, _ = ss.snap_prune_files_eq(root, "s", "s3")
    assert 0 < len(kept_eq) <= total
    # where-read drives off the pruned plan AND applies DVs
    got = ss.snap_read_between(spark, root, "id", 0, 10).collect()
    assert {r.id for r in got} == set(range(0, 11))
    # CDF feed replays across the move
    feed = ss.snap_read_changes_cdf(spark, root, feed_from)
    assert feed.filter(F.col("_change_type") == "delete").count() == 10
    hist = ss.snap_history(root)
    assert sum(h["n_change_rows"] for h in hist) > 0


def test_relocated_store_full_lifecycle(spark, tmp_path, sidecar_mode):
    src = str(tmp_path / "store-src")
    feed_from = 1  # version cdf was enabled at
    _build(spark, src)
    dst = str(tmp_path / "nested" / "store-dst")
    os.makedirs(os.path.dirname(dst))
    shutil.move(src, dst)
    _check_full_surface(spark, dst, feed_from)
    # post-move WRITES: append, DML, restore, vacuum
    ss.snap_commit(
        _df(spark, 200, 220).coalesce(1), dst,
        stats_cols=["id"], bloom_cols=["s"],
    )
    assert ss.snap_count(dst) == 140
    ss.snap_delete_dv(spark, dst, "id >= 210")
    assert ss.snap_count(dst) == 130
    v_before = ss.snap_current_version(dst)
    ss.snap_restore(dst, v_before - 2)
    assert ss.snap_count(dst) == 120
    ss.snap_restore(dst, v_before)
    ss.snap_vacuum(dst, keep_last=99, staged_grace_minutes=0)
    assert {r.id for r in ss.snap_read(spark, dst).collect()} == (
        EXPECTED_IDS | set(range(200, 210))
    )
    # a SECOND move (including back under the original name) still reads
    dst2 = str(tmp_path / "store-src")
    shutil.move(dst, dst2)
    assert ss.snap_count(dst2) == 130
    assert {r.id for r in ss.snap_read(spark, dst2).collect()} == (
        EXPECTED_IDS | set(range(200, 210))
    )


def test_relocated_inline_store(spark, tmp_path):
    """Inline-mode manifests (small tables, dicts in the head) rebase
    their file lists and detail dict keys the same way."""
    src = str(tmp_path / "a")
    ss.snap_commit(
        _df(spark, 0, 50).coalesce(2), src, stats_cols=["id"]
    )
    ss.snap_delete_dv(spark, src, "id >= 40")
    dst = str(tmp_path / "b")
    shutil.move(src, dst)
    m = ss._read_manifest(dst, ss.snap_current_version(dst))
    assert all(f.startswith(dst + os.sep) for f in m["files"])
    assert all(k.startswith(dst + os.sep) for k in m["file_stats"])
    assert {r.id for r in ss.snap_read(spark, dst).collect()} == set(
        range(40)
    )
    kept, total = ss.snap_prune_files(dst, "id", 0, 5)
    assert 0 < len(kept) <= total
    # appends under the new root interleave with pre-move metadata
    ss.snap_commit(_df(spark, 100, 110).coalesce(1), dst, stats_cols=["id"])
    assert ss.snap_count(dst) == 50


def test_rebase_leaves_external_paths_untouched(spark, tmp_path):
    """Paths outside the recorded root (externally-registered files)
    pass through the rebase unchanged rather than being mangled."""
    recorded, actual = "/old/root", "/new/root"
    assert ss._rebase_path("/old/root/data/x.parquet", recorded, actual) == (
        "/new/root/data/x.parquet"
    )
    assert ss._rebase_path("/elsewhere/x.parquet", recorded, actual) == (
        "/elsewhere/x.parquet"
    )
    assert ss._rebase_path("/old/rootette/x.parquet", recorded, actual) == (
        "/old/rootette/x.parquet"
    ), "prefix match is component-wise, not string-wise"


def test_clone_dv_rows_do_not_rebase(spark, tmp_path, sidecar_mode):
    """Shallow clones reference the SOURCE's files in place, so DV rows
    whose origin root differs from the clone root must NOT rebase —
    rebasing them would dangle the delete and resurrect rows (caught in
    r15 by test_dml_and_clone_skip_dict_reconstruction when the naive
    origin!=actual rule shipped). The discriminator: an origin that
    still anchors live file paths is a reference, not a move."""
    src = str(tmp_path / "src")
    ss.snap_commit(_df(spark, 0, 100).coalesce(2), src, stats_cols=["id"])
    ss.snap_delete_dv(spark, src, "id >= 90")
    dst = str(tmp_path / "clone")
    ss.snap_clone(src, dst)
    assert ss.snap_read(spark, dst).count() == 90, "clone keeps DV mask"
    assert {r.id for r in ss.snap_read(spark, dst).collect()} == set(
        range(90)
    )
    # a MOVED clone still resolves: its own root rebases, the source
    # references (files + DV origins) stay anchored at the source
    dst2 = str(tmp_path / "clone-moved")
    shutil.move(dst, dst2)
    assert ss.snap_read(spark, dst2).count() == 90
    # and deletes recorded ON the clone root survive the clone's move
    ss.snap_delete_dv(spark, dst2, "id >= 80")
    dst3 = str(tmp_path / "clone-moved-again")
    shutil.move(dst2, dst3)
    assert ss.snap_read(spark, dst3).count() == 80
    # source untouched throughout
    assert ss.snap_read(spark, src).count() == 90


def test_staged_wap_survives_relocation(spark, tmp_path, sidecar_mode):
    """r15 follow-up (the closing certification's named residual,
    closed): a staged WAP commit's recorded paths rebase at read like
    manifests do, so stage -> move -> audit -> publish works; aborting
    after a move cleans the staged data under the new root."""
    src = str(tmp_path / "src")
    ss.snap_commit(_df(spark, 0, 50).coalesce(1), src, stats_cols=["id"])
    sid = ss.snap_stage(_df(spark, 100, 120).coalesce(1), src, stats_cols=["id"])
    sid2 = ss.snap_stage(_df(spark, 300, 310).coalesce(1), src)
    dst = str(tmp_path / "dst")
    shutil.move(src, dst)
    # audit under the new root sees the staged frame
    assert ss.snap_read_staged(spark, dst, sid).count() == 20
    v = ss.snap_publish_staged(dst, sid)
    assert v == 1
    assert ss.snap_count(dst) == 70
    assert {r.id for r in ss.snap_read(spark, dst).collect()} == (
        set(range(50)) | set(range(100, 120))
    )
    # staged stats survived into the published manifest under new paths
    m = ss._read_manifest(dst, v)
    assert set(m["file_stats"]) == set(m["files"])
    # abort of the second stage removes its data under the new root
    ss.snap_abort_staged(dst, sid2)
    assert ss.snap_count(dst) == 70


def test_rootless_dv_survives_move_then_commit(spark, tmp_path):
    """The first commit after a move re-records the NEW root while
    carrying the old DV sidecars by name; their rows keep the OLD root
    as their origin, which now dangles and rebases, so the deletes keep
    masking and agree with snap_count. Covers every by-name carry path:
    append, dv-delete and restore (the inline fold has its own test)."""
    src = str(tmp_path / "a")
    ss.snap_commit(_df(spark, 0, 100).coalesce(2), src, stats_cols=["id"])
    ss.snap_delete_dv(spark, src, "id >= 90")
    dst = str(tmp_path / "b")
    shutil.move(src, dst)
    assert ss.snap_read(spark, dst).count() == 90  # pre-commit: rebased read
    # APPEND re-records the root; the mask and the count must agree
    ss.snap_commit(_df(spark, 200, 210).coalesce(1), dst, stats_cols=["id"])
    assert ss.snap_count(dst) == 100
    assert {r.id for r in ss.snap_read(spark, dst).collect()} == (
        set(range(90)) | set(range(200, 210))
    )
    # DV-DELETE carries the restamped sidecar plus a fresh one
    ss.snap_delete_dv(spark, dst, "id >= 205")
    assert ss.snap_count(dst) == 95
    assert ss.snap_read(spark, dst).count() == 95
    # RESTORE republishes a pre-delete version under the new root
    ss.snap_restore(dst, 1)
    assert ss.snap_count(dst) == 90
    assert ss.snap_read(spark, dst).count() == 90
    # a SECOND move still resolves (the recorded origins dangle ->
    # suffix-resolved rebase)
    dst2 = str(tmp_path / "c")
    shutil.move(dst, dst2)
    assert ss.snap_read(spark, dst2).count() == 90


def test_rootless_dv_survives_move_then_fold(
    spark, tmp_path, sidecar_mode, monkeypatch
):
    """The inline sidecar fold also runs on a moved store: the first
    append after the move pushes the part chain past
    ``DETAIL_PARTS_MAX``, folds parts written under the OLD root into
    one part under the new one and re-records the root; the carried DV
    rows keep their old origin root and keep masking."""
    monkeypatch.setattr(ss, "DETAIL_PARTS_MAX", 2)
    src = str(tmp_path / "a")
    ss.snap_commit(
        _df(spark, 0, 100).repartitionByRange(4, "id"), src, stats_cols=["id"]
    )
    ss.snap_commit(_df(spark, 100, 130).coalesce(1), src, stats_cols=["id"])
    ss.snap_delete_dv(spark, src, "id >= 120")
    dst = str(tmp_path / "b")
    shutil.move(src, dst)
    v = ss.snap_commit(_df(spark, 200, 210).coalesce(1), dst, stats_cols=["id"])
    with open(ss._manifest_path(dst, v)) as f:
        assert len(ss._pointer_names(json.load(f))) == 1, "chain folded"
    assert ss.snap_count(dst) == 130
    assert {r.id for r in ss.snap_read(spark, dst).collect()} == (
        set(range(120)) | set(range(200, 210))
    )


def test_clone_of_moved_source_keeps_dv_mask(spark, tmp_path):
    """r16: a shallow clone of a source that MOVED after its deletes
    were recorded holds files under the source's current root while
    the DV rows record the source's OLD root. The old root dangles, so
    the naive rebase target (the clone root) would dangle every delete
    and resurrect the rows; the target must resolve from the
    manifest's own file list (suffix vote) to the source's current
    root."""
    src = str(tmp_path / "src")
    ss.snap_commit(_df(spark, 0, 100).coalesce(2), src, stats_cols=["id"])
    ss.snap_delete_dv(spark, src, "id >= 90")
    moved = str(tmp_path / "src-moved")
    shutil.move(src, moved)
    clone = str(tmp_path / "clone")
    ss.snap_clone(moved, clone)
    assert ss.snap_count(clone) == 90
    assert {r.id for r in ss.snap_read(spark, clone).collect()} == set(
        range(90)
    ), "clone of a moved source keeps the DV mask"
    # and the clone itself moving afterwards still resolves
    clone2 = str(tmp_path / "clone-moved")
    shutil.move(clone, clone2)
    assert ss.snap_read(spark, clone2).count() == 90


def test_clone_restamps_rootless_dv(spark, tmp_path):
    """A clone's head records the CLONE root while the carried DV rows
    keep the source's root as their origin, on every row, so the clone
    reads them as recorded and masks the deleted rows."""
    src = str(tmp_path / "src")
    ss.snap_commit(_df(spark, 0, 60).coalesce(1), src, stats_cols=["id"])
    ss.snap_delete_dv(spark, src, "id >= 50")
    clone = str(tmp_path / "clone")
    ss.snap_clone(src, clone)
    assert ss.snap_read(spark, clone).count() == 50
    m = ss._read_manifest(clone, 0)
    import pyarrow.parquet as pq

    for p in m["dv_files"]:
        col = pq.read_table(p, columns=["root"]).column("root")
        assert col.null_count == 0, "every carried DV row has its root"


def test_moved_store_dv_read_with_file_root_columns(spark, tmp_path):
    """r16 advisor: the rebased DV anti-join must qualify its ``file``/
    ``root`` references — a user table with columns of those names on a
    MOVED store otherwise fails with AMBIGUOUS_REFERENCE."""
    src = str(tmp_path / "a")
    df = spark.createDataFrame(
        [(i, f"f{i}", f"r{i}") for i in range(20)],
        "id long, file string, root string",
    )
    ss.snap_commit(df.coalesce(1), src)
    ss.snap_delete_dv(spark, src, "id >= 15")
    dst = str(tmp_path / "b")
    shutil.move(src, dst)
    got = ss.snap_read(spark, dst)
    assert got.count() == 15
    assert {r.file for r in got.collect()} == {f"f{i}" for i in range(15)}


def test_unmoved_store_read_plan_has_no_rebase(spark, tmp_path):
    """Rebase-on-read's bargain: the UNMOVED common case must stay
    byte-identical — the DV anti-join key is the raw==raw equality with
    zero per-row string work (no url_decode normalization, no rebase
    when-chain in the plan); only a store with dangling DV origins pays
    the normalized+rebased comparison. Pinned on the optimized plan."""
    root = str(tmp_path / "a")
    ss.snap_commit(_df(spark, 0, 60).coalesce(2), root, stats_cols=["id"])
    ss.snap_delete_dv(spark, root, "id >= 50")
    plan = (
        ss.snap_read(spark, root)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "StartsWith(_dv_f" not in plan and "Url" not in plan, (
        "unmoved DV read must stay raw==raw"
    )
    assert ss.snap_read(spark, root).count() == 50
    # the moved store DOES pay the normalization — and stays correct
    dst = str(tmp_path / "b")
    shutil.move(root, dst)
    plan2 = (
        ss.snap_read(spark, dst)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "StartsWith(_dv_f" in plan2, "moved store reads rebase per-row"
    assert ss.snap_read(spark, dst).count() == 50


def test_dv_rebase_target_votes_from_file_list(tmp_path):
    """Unit pin of _dv_rebase_map's target resolution: a dangling
    origin rebases to wherever its files' suffixes actually live in
    the manifest — not blindly to the current root — and falls back to
    the current root when no suffix matches (stale entries)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    actual = str(tmp_path / "clone")
    elsewhere = str(tmp_path / "elsewhere")
    old = str(tmp_path / "old")  # dangles; files live under `elsewhere`
    dv_dir = tmp_path / "dv"
    dv_dir.mkdir()
    dvp = str(dv_dir / "dv.parquet")
    pq.write_table(
        pa.table(
            {
                "file": pa.array(
                    [f"file://{old}/data/part-{i:02d}.parquet" for i in range(3)]
                    + [f"file://{old}/data/gone-{i}.parquet" for i in range(2)]
                ),
                "idx": pa.array([0] * 5, pa.int64()),
                "root": pa.array([old] * 5),
            }
        ),
        dvp,
    )
    m = {
        "root": actual,
        "dv_files": [dvp],
        "files": [f"{elsewhere}/data/part-{i:02d}.parquet" for i in range(3)],
    }
    assert ss._dv_rebase_map(m) == {old: elsewhere}, (
        "suffix vote must resolve the dangling origin to the files' "
        "actual location"
    )
    # no suffix matches at all (every entry stale): fall back to actual
    m2 = {
        "root": actual,
        "dv_files": [dvp],
        "files": [f"{elsewhere}/data/other-{i}.parquet" for i in range(3)],
    }
    assert ss._dv_rebase_map(m2) == {old: actual}
