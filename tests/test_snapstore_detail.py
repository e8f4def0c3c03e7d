"""Manifest DETAIL sidecar — the metadata plane at scale.

Above ``ss.DETAIL_INLINE_MAX`` files, a commit's per-file
metadata (min/max stats, Bloom bitmaps, rows/bytes) moves out of the
version JSON into one parquet sidecar; the head stays O(1)+paths and
readers reconstruct/prune lazily. These tests force sidecar mode with
threshold 0 and pin:

- exact round-trip: reconstructed dicts are bit-identical with inline
  mode (stats ride as their original JSON text, blooms re-hex exactly);
- pruning parity: the planner keeps EXACTLY the same files on the
  vectorized arrow path as on the dict path (and never fewer —
  widening may only keep more, and only for >2^53 integers);
- every lifecycle op (append, merge, update, DV delete, constraint
  commits, restore, clone, vacuum, CDF) behaves identically on a
  detail-backed store;
- metadata commits and restores SHARE the parent's sidecar pointer
  (zero metadata copied), and vacuum collects sidecars by reference.
"""

from __future__ import annotations

import json
import os
from unittest import mock

import pytest
from pyspark.sql import functions as F

from wsspark import snapstore as ss


@pytest.fixture()
def detail_mode(monkeypatch):
    monkeypatch.setattr(ss, "DETAIL_INLINE_MAX", 0)


def _df(spark, rows, cols=("id", "v")):
    return spark.createDataFrame(rows, list(cols))


def _head(root, version):
    with open(ss._manifest_path(root, version)) as f:
        return json.load(f)


def _parts(head):
    return ss._pointer_names(head)


def test_sidecar_written_and_head_stays_small(spark, detail_mode, tmp_path):
    root = str(tmp_path / "t")
    df = spark.range(0, 1000).select(
        F.col("id"), (F.col("id") % 7).alias("v")
    ).repartition(4)
    v = ss.snap_commit(df, root, stats_cols=["id"], bloom_cols=["v"])
    head = _head(root, v)
    assert _parts(head)
    for k in ("file_stats", "file_blooms", "file_meta"):
        assert k not in head
    for name in _parts(head):
        assert os.path.exists(os.path.join(ss._manifest_dir(root), name))
    # lazy reconstruction answers like inline mode would
    m = ss._read_manifest(root, v)
    assert isinstance(m, ss._LazyManifest)
    assert set(m["file_stats"]) == set(m["files"])
    assert set(m["file_blooms"]) == set(m["files"])
    assert all(set(b) == {"v"} for b in m["file_blooms"].values())
    assert ss.snap_count(root) == 1000
    got = sorted(r["id"] for r in ss.snap_read(spark, root).collect())
    assert got == list(range(1000))


def test_roundtrip_bit_identical_with_inline(spark, tmp_path, monkeypatch):
    import datetime as dt

    rows = [
        (i, f"k{i % 13}", dt.datetime(2024, 1, 1 + i % 20, i % 24))
        for i in range(400)
    ]
    df = _df(spark, rows, ("id", "k", "ts")).repartition(4)
    inline_root = str(tmp_path / "inline")
    detail_root = str(tmp_path / "detail")
    monkeypatch.setattr(ss, "DETAIL_INLINE_MAX", 100_000)
    ss.snap_commit(df, inline_root, stats_cols=["id", "ts"], bloom_cols=["k"])
    monkeypatch.setattr(ss, "DETAIL_INLINE_MAX", 0)
    ss.snap_commit(df, detail_root, stats_cols=["id", "ts"], bloom_cols=["k"])

    mi = ss._read_manifest(inline_root, 0)
    md = ss._read_manifest(detail_root, 0)

    # commit dirs carry uuids: align the two stores' files by sorted
    # order (identical data written identically -> same per-file values)
    fi, fd = sorted(mi["files"]), sorted(md["files"])
    assert len(fi) == len(fd)
    for a, b in zip(fi, fd):
        assert md["file_stats"][b] == mi["file_stats"][a]
        assert md["file_blooms"][b] == mi["file_blooms"][a]
        assert md["file_meta"][b] == mi["file_meta"][a]
    assert md["bloom_meta"] == mi["bloom_meta"]


def test_prune_parity_range_eq_and_spark(spark, detail_mode, tmp_path, monkeypatch):
    """The planner keeps EXACTLY the same files on the sidecar's typed
    index as on the exact dicts (the inline representation), for closed
    and half-open ranges, equality, IN lists, conjunctions, and the
    DataSource's pushed filters (strict bounds widen to inclusive on
    both)."""
    from pyspark.sql.datasource import (
        EqualTo,
        GreaterThan,
        GreaterThanOrEqual,
        In,
        LessThan,
    )

    from wsspark.snapsource import SnapstoreBatchReader

    root = str(tmp_path / "t")
    df = (
        spark.range(0, 4000)
        .select(F.col("id"), (F.col("id") % 97).alias("k"))
        .repartitionByRange(8, "id")
    )
    ss.snap_commit(df, root, stats_cols=["id"], bloom_cols=["k"])

    def inline():
        # dict-path ground truth: a loaded manifest prunes on the dicts
        m = ss._read_manifest(root, 0)
        m._ensure()
        return m

    def sidecar():
        m = ss._read_manifest(root, 0)  # fresh lazy -> vectorized path
        assert ss._detail_table_for_prune(m) is not None
        return m

    n_files = len(inline()["files"])
    cases = {
        "range": [("id", 100, 400)],
        "ge": [("id", 3500, None)],
        "le": [("id", None, 600)],
        "eq": [("k", [42])],
        "in": [("k", [42, 7, 96])],
        "empty_in": [("k", [])],
        "range_and_in": [("id", 100, 2000), ("k", [42, 7])],
        "none": [],
    }
    for name, atoms in cases.items():
        kept = ss._plan_files(inline(), atoms)
        assert ss._plan_files(sidecar(), atoms) == kept, name
    assert 0 < len(ss._plan_files(inline(), cases["range"])) < n_files
    assert 0 < len(ss._plan_files(inline(), cases["ge"])) < n_files
    assert ss._plan_files(inline(), cases["empty_in"]) == []
    assert ss._plan_files(inline(), []) == inline()["files"]
    # IN is the union of its values' equality plans
    union = set()
    for v in (42, 7, 96):
        union |= set(ss._plan_files(inline(), [("k", [v])]))
    assert set(ss._plan_files(inline(), cases["in"])) == union

    def pushed(m, filters):
        reader = SnapstoreBatchReader(root, None)
        reader._manifest = m
        reader.pushFilters(filters)
        return [p.file for p in reader.partitions()]

    for filters in (
        [GreaterThanOrEqual(("id",), 1500), LessThan(("id",), 1700)],
        [GreaterThan(("id",), 3500)],
        [EqualTo(("id",), 1234)],
        [In(("k",), (42, 7)), LessThan(("id",), 2000)],
        [In(("id",), (3, 1543))],
    ):
        kept = pushed(inline(), filters)
        assert pushed(sidecar(), filters) == kept, filters
        assert 0 < len(kept) < n_files, filters
    assert pushed(inline(), [EqualTo(("k",), 42)]) == pushed(
        sidecar(), [EqualTo(("k",), 42)]
    )
    # a strict bound keeps the file whose recorded bound equals it
    first = inline()["files"][0]
    lo0, hi0 = inline()["file_stats"][first]["id"]
    for m in (inline(), sidecar()):
        assert first in pushed(m, [LessThan(("id",), lo0)])
        assert first in pushed(m, [GreaterThan(("id",), hi0)])

    # results stay exact through the pruned read
    got = sorted(
        r["id"] for r in ss.snap_read_between(spark, root, "id", 100, 400).collect()
    )
    assert got == list(range(100, 401))
    got_eq = sorted(
        r["id"] for r in ss.snap_read_where_eq(spark, root, "k", 42).collect()
    )
    assert got_eq == [i for i in range(4000) if i % 97 == 42]


def test_widening_keeps_superset_on_huge_ints(spark, detail_mode, tmp_path):
    root = str(tmp_path / "t")
    base = 2**60
    rows = [(base + i,) for i in range(0, 1000, 10)]
    df = spark.createDataFrame(rows, ["id"]).repartitionByRange(4, "id")
    ss.snap_commit(df, root, stats_cols=["id"])
    m = ss._read_manifest(root, 0)
    m._ensure()
    exact = set(ss._plan_files(m, [("id", base + 100, base + 200)]))
    lazy = ss._read_manifest(root, 0)
    vec = set(ss._plan_files(lazy, [("id", base + 100, base + 200)]))
    assert vec >= exact  # widening may only KEEP more
    got = sorted(
        r["id"]
        for r in ss.snap_read_between(
            spark, root, "id", base + 100, base + 200
        ).collect()
    )
    assert got == [base + i for i in range(100, 201, 10)]


def test_temporal_and_string_stats_prune_vectorized(spark, detail_mode, tmp_path):
    import datetime as dt

    root = str(tmp_path / "t")
    rows = [
        (i, dt.datetime(2024, 1, 1) + dt.timedelta(hours=i)) for i in range(200)
    ]
    df = _df(spark, rows, ("id", "ts")).repartitionByRange(4, "ts")
    ss.snap_commit(df, root, stats_cols=["ts"])
    lo, hi = dt.datetime(2024, 1, 3), dt.datetime(2024, 1, 5)
    m = ss._read_manifest(root, 0)
    m._ensure()
    exact = ss._plan_files(m, [("ts", lo, hi)])
    lazy = ss._read_manifest(root, 0)
    assert ss._plan_files(lazy, [("ts", lo, hi)]) == exact
    assert 0 < len(exact) < len(m["files"])
    got = ss.snap_read_between(spark, root, "ts", lo, hi).count()
    assert got == sum(1 for _, t in rows if lo <= t <= hi)


def test_append_merges_detail_and_dml_candidates(spark, detail_mode, tmp_path):
    root = str(tmp_path / "t")
    d1 = spark.range(0, 1000).select(F.col("id")).repartitionByRange(4, "id")
    ss.snap_commit(d1, root, stats_cols=["id"])
    d2 = (
        spark.range(1000, 2000)
        .select(F.col("id"))
        .repartitionByRange(4, "id")
    )
    v = ss.snap_commit(d2, root, stats_cols=["id"])
    m = ss._read_manifest(root, v)
    cand = ss._dml_candidate_files(m, "id >= 1500 AND id <= 1600")
    assert 0 < len(cand) < len(m["files"])
    # the candidate set matches the dict-path plan
    m2 = ss._read_manifest(root, v)
    m2._ensure()
    assert cand == ss._dml_candidate_files(m2, "id >= 1500 AND id <= 1600")
    assert set(m["file_stats"]) == set(m["files"])


def test_dml_lifecycle_on_detail_backed_store(spark, detail_mode, tmp_path):
    root = str(tmp_path / "t")
    df = _df(spark, [(i, i % 10) for i in range(500)]).repartition(4)
    ss.snap_commit(df, root, stats_cols=["id"])
    # merge upsert
    src = _df(spark, [(1, 111), (500, 500)])
    ss.snap_merge(spark, root, src, on=["id"])
    # COW update
    ss.snap_update_where(spark, root, "id = 2", {"v": "222"})
    # DV delete
    ss.snap_delete_dv(spark, root, "id = 3")
    got = {r["id"]: r["v"] for r in ss.snap_read(spark, root).collect()}
    assert got[1] == 111 and got[500] == 500 and got[2] == 222
    assert 3 not in got and len(got) == 500  # 500 added, 3 deleted
    # every published version above threshold carries a sidecar
    for v in ss.snap_versions(root):
        assert _parts(_head(root, v))


def test_metadata_commit_and_restore_share_sidecar(spark, detail_mode, tmp_path):
    root = str(tmp_path / "t")
    df = spark.range(0, 300).select(F.col("id"), (F.col("id") % 3).alias("v"))
    ss.snap_commit(df.repartition(3), root, stats_cols=["id"])
    h0 = _head(root, 0)
    v1 = ss.snap_add_constraint(spark, root, "nonneg", "id >= 0")
    h1 = _head(root, v1)
    assert _parts(h1) == _parts(h0)  # zero-copy pointer share
    ss.snap_commit(
        spark.range(300, 400).select(F.col("id"), (F.col("id") % 3).alias("v")).repartition(2),
        root,
        stats_cols=["id"],
    )
    v3 = ss.snap_restore(root, v1)
    h3 = _head(root, v3)
    assert _parts(h3) == _parts(h0)
    assert ss.snap_count(root) == 300
    m = ss._read_manifest(root, v3)
    assert m.get("constraints") == {"nonneg": "id >= 0"}
    assert set(m["file_stats"]) == set(m["files"])


def test_clone_rewrites_detail_under_destination(spark, detail_mode, tmp_path):
    src_root, dst_root = str(tmp_path / "src"), str(tmp_path / "dst")
    df = spark.range(0, 300).select(F.col("id")).repartition(3)
    ss.snap_commit(df, src_root, stats_cols=["id"])
    ss.snap_clone(src_root, dst_root)
    hd = _head(dst_root, 0)
    assert _parts(hd)
    for name in _parts(hd):
        assert os.path.exists(os.path.join(ss._manifest_dir(dst_root), name))
    md = ss._read_manifest(dst_root, 0)
    ms = ss._read_manifest(src_root, 0)
    assert md["file_stats"] == ms["file_stats"]
    assert ss.snap_read(spark, dst_root).count() == 300


def test_vacuum_sweeps_unreferenced_sidecars_keeps_shared(
    spark, detail_mode, tmp_path
):
    root = str(tmp_path / "t")
    for i in range(3):
        ss.snap_commit(
            spark.range(i * 100, (i + 1) * 100).select(F.col("id")).repartition(2),
            root,
            stats_cols=["id"],
        )
    # constraint commit shares v2's sidecar
    v3 = ss.snap_add_constraint(spark, root, "nonneg", "id >= 0")
    shared = _parts(_head(root, v3))[0]
    assert _parts(_head(root, v3)) == _parts(_head(root, 2))
    # an orphan from a crashed committer
    orphan = os.path.join(ss._manifest_dir(root), "v999-dead.detail.parquet")
    with open(orphan, "wb") as f:
        f.write(b"x")
    old = __import__("time").time() - 7200
    os.utime(orphan, (old, old))
    for v in range(3):
        for name in _parts(_head(root, v)):
            p = os.path.join(ss._manifest_dir(root), name)
            os.utime(p, (old, old))
    ss.snap_vacuum(root, keep_last=1, staged_grace_minutes=30)
    names = set(os.listdir(ss._manifest_dir(root)))
    assert shared in names  # still referenced by the retained v3
    assert "v999-dead.detail.parquet" not in names
    # sidecars of vacuumed v0/v1 are gone (v2's == shared survives)
    live = set()
    for v in ss.snap_versions(root):
        live.update(_parts(_head(root, v)))
    for n in names:
        if n.endswith(".detail.parquet"):
            assert n in live
    assert ss.snap_read(spark, root).count() == 300


def test_cdf_on_detail_backed_store(spark, detail_mode, tmp_path):
    root = str(tmp_path / "t")
    df = _df(spark, [(i, i) for i in range(200)]).repartition(2)
    ss.snap_commit(df, root, stats_cols=["id"])
    v_on = ss.snap_enable_cdf(root)
    ss.snap_merge(spark, root, _df(spark, [(1, 101), (777, 777)]), on=["id"])
    ch = ss.snap_read_changes_cdf(spark, root, since=v_on)
    kinds = {
        (r["id"], r["_change_type"]) for r in ch.collect() if r["id"] in (1, 777)
    }
    assert ("777", "insert") in {(str(k), t) for k, t in kinds} or (
        777,
        "insert",
    ) in kinds
    assert (1, "update_postimage") in kinds or ("1", "update_postimage") in {
        (str(k), t) for k, t in kinds
    }


def test_stage_publish_on_detail_backed_store(spark, detail_mode, tmp_path):
    root = str(tmp_path / "t")
    ss.snap_commit(
        spark.range(0, 100).select(F.col("id")).repartition(2),
        root,
        stats_cols=["id"],
    )
    sid = ss.snap_stage(
        spark.range(100, 200).select(F.col("id")).repartition(2),
        root,
        stats_cols=["id"],
    )
    v = ss.snap_publish_staged(root, sid)
    assert _parts(_head(root, v))
    m = ss._read_manifest(root, v)
    assert set(m["file_stats"]) == set(m["files"])
    assert ss.snap_count(root) == 200


@pytest.mark.parametrize(
    "case", ["head_without_format", "head_format_2", "staged_without_format"]
)
def test_format_gate_refuses_other_formats(spark, tmp_path, case):
    """A manifest head or staged JSON whose ``format`` is not
    ``ss.FORMAT`` is refused by every reader with one ValueError — no
    reader keeps a fallback for another shape."""
    root = str(tmp_path / "t")
    ss.snap_commit(spark.range(0, 10).select(F.col("id")), root)
    if case == "staged_without_format":
        sid = ss.snap_stage(spark.range(10, 20).select(F.col("id")), root)
        path = ss._staged_path(root, sid)
    else:
        path = ss._manifest_path(root, 0)
    with open(path) as f:
        doc = json.load(f)
    if case == "head_format_2":
        doc["format"] = 2
    else:
        del doc["format"]
    with open(path, "w") as f:
        json.dump(doc, f)
    if case == "staged_without_format":
        calls = [
            lambda: ss.snap_read_staged(spark, root, sid),
            lambda: ss.snap_publish_staged(root, sid),
        ]
    else:
        calls = [
            lambda: ss.snap_count(root),
            lambda: ss.snap_read(spark, root),
            lambda: ss.snap_commit(
                spark.range(10, 20).select(F.col("id")), root
            ),
        ]
    for call in calls:
        with pytest.raises(ValueError, match="snapstore format"):
            call()
    assert ss.snap_current_version(root) == 0


@pytest.mark.parametrize("sidecar", [False, True])
def test_every_head_writer_stamps_format(spark, tmp_path, monkeypatch, sidecar):
    """A fresh commit, a staged publish (and its staged JSON), a restore
    and a clone each write ``format: 1``, inline and sidecar-backed."""
    if sidecar:
        monkeypatch.setattr(ss, "DETAIL_INLINE_MAX", 0)
    root = str(tmp_path / "t")
    v0 = ss.snap_commit(spark.range(0, 10).select(F.col("id")), root)
    sid = ss.snap_stage(spark.range(10, 20).select(F.col("id")), root)
    with open(ss._staged_path(root, sid)) as f:
        assert json.load(f)["format"] == 1
    v1 = ss.snap_publish_staged(root, sid)
    v2 = ss.snap_restore(root, v0)
    clone = str(tmp_path / "c")
    ss.snap_clone(root, clone, v1)
    for r, v in [(root, v0), (root, v1), (root, v2), (clone, 0)]:
        assert _head(r, v)["format"] == ss.FORMAT == 1
    assert ss.snap_count(root) == 10 and ss.snap_count(clone) == 20


def test_lost_race_removes_its_sidecar(spark, detail_mode, tmp_path):
    root = str(tmp_path / "t")
    ss.snap_commit(spark.range(0, 50).select(F.col("id")), root)
    manifest = {
        "version": 1,
        "parent": 0,
        "mode": "append",
        "tag": None,
        "schema": ss._read_manifest(root, 0)["schema"],
        "files": [f"/fake/{i}.parquet" for i in range(5)],
        "file_stats": {f"/fake/{i}.parquet": {"id": [i, i + 1]} for i in range(5)},
        "file_blooms": {},
        "file_meta": {},
        "ts": 0.0,
    }
    ss._write_manifest_file(root, dict(manifest))
    before = {
        n
        for n in os.listdir(ss._manifest_dir(root))
        if n.endswith(".detail.parquet")
    }
    with pytest.raises(FileExistsError):
        ss._write_manifest_file(root, dict(manifest))  # lost the race
    after = {
        n
        for n in os.listdir(ss._manifest_dir(root))
        if n.endswith(".detail.parquet")
    }
    assert after == before  # the loser's sidecar was removed


def test_analyze_retrofit_preserves_untouched_detail(spark, detail_mode, tmp_path):
    """snap_analyze on a detail-backed table updates ONE detail family
    without dropping the others: a stats-only retrofit must carry the
    existing blooms and file_meta into the new sidecar (the zero-copy
    pointer share is only legal when NO detail changes)."""
    root = str(tmp_path / "t")
    df = spark.range(0, 400).select(
        F.col("id"), (F.col("id") % 5).alias("k")
    ).repartition(4)
    ss.snap_commit(df, root, bloom_cols=["k"])  # blooms, no stats
    m0 = ss._read_manifest(root, 0)
    blooms_before = dict(m0["file_blooms"])
    meta_before = dict(m0["file_meta"])
    v = ss.snap_analyze(spark, root, stats_cols=["id"])
    m1 = ss._read_manifest(root, v)
    assert set(m1["file_stats"]) == set(m1["files"])  # retrofit landed
    assert m1["file_blooms"] == blooms_before  # untouched family kept
    assert m1["file_meta"] == meta_before
    # and the head did NOT pointer-share (detail changed)
    assert _parts(_head(root, v)) != _parts(_head(root, 0))
    # geometry refusal still enforced on the detail-backed path
    with pytest.raises(ValueError, match="geometry"):
        ss.snap_analyze(spark, root, bloom_cols=["k"], bloom_bits=1 << 10)


# ---------------------------------------------------------------------------
# Property: the vectorized typed-index prune NEVER drops a file the exact
# dict-path prune keeps (soundness), and is exactly equal whenever no
# float-widening is involved. Fabricated manifests, no Spark needed.
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_num_val = st.one_of(
    st.integers(min_value=-(2**62), max_value=2**62),
    st.floats(allow_nan=False, allow_infinity=False, width=64),
)
_str_val = st.text(
    alphabet="0123456789-T:abz", min_size=1, max_size=12
)


def _mk_manifest(tmpdir, file_stats, blooms, n_bits):
    import time as _time

    files = [f"/fab/part-{i:04d}.parquet" for i in range(len(file_stats) + 1)]
    stats = {
        files[i]: {"x": mm} for i, mm in enumerate(file_stats) if mm is not None
    }
    fb = {}
    for i, values in enumerate(blooms):
        if values is None:
            continue
        words = [0] * (n_bits // 63 + 1)
        for v in values:
            for p in ss._bloom_positions_py(v, n_bits, 4):
                words[p // 63] |= 1 << (p % 63)
        fb[files[i]] = {"k": "".join(f"{w:016x}" for w in words)}
    manifest = {
        "version": 0,
        "parent": None,
        "mode": "overwrite",
        "tag": None,
        "schema": json.dumps(
            {
                "type": "struct",
                "fields": [
                    {"name": "x", "type": "long", "nullable": True, "metadata": {}},
                    {"name": "k", "type": "long", "nullable": True, "metadata": {}},
                ],
            }
        ),
        "files": files,  # one extra file with NO detail rows at all
        "file_stats": stats,
        "file_blooms": fb,
        "bloom_meta": {"k": {"n_bits": n_bits, "k": 4}} if fb else {},
        "file_meta": {},
        "dv_files": [],
        "constraints": {},
        "cdf": False,
        "cdf_files": [],
        "ts": _time.time(),
    }
    root = str(tmpdir)
    os.makedirs(ss._manifest_dir(root), exist_ok=True)
    with mock.patch.object(ss, "DETAIL_INLINE_MAX", 0):
        ss._write_manifest_file(root, manifest)
    ss._advance_current(root, 0)
    return root


@settings(
    max_examples=60,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=st.data())
def test_vectorized_prune_superset_of_dict_prune(tmp_path_factory, data):
    kind_num = data.draw(st.booleans(), label="numeric_domain")
    val = _num_val if kind_num else _str_val
    pair = st.tuples(val, val).map(sorted)
    file_stats = data.draw(
        st.lists(
            st.one_of(
                st.none(),  # file without stats
                pair,
                st.tuples(st.none(), st.none()).map(list),  # all-NULL file
            ),
            min_size=1,
            max_size=10,
        ),
        label="file_stats",
    )
    blooms = data.draw(
        st.lists(
            st.one_of(
                st.none(),
                st.lists(st.integers(0, 50), min_size=0, max_size=6),
            ),
            min_size=len(file_stats),
            max_size=len(file_stats),
        ),
        label="blooms",
    )
    lo = data.draw(val, label="lo")
    hi = data.draw(val, label="hi")
    if not kind_num:
        lo, hi = sorted([lo, hi])
    elif lo > hi:
        lo, hi = hi, lo
    root = _mk_manifest(
        tmp_path_factory.mktemp("fab"), file_stats, blooms, n_bits=256
    )
    lazy = ss._read_manifest(root, 0)
    assert isinstance(lazy, ss._LazyManifest)
    loaded = ss._read_manifest(root, 0)
    loaded._ensure()

    vec = set(ss._plan_files(lazy, [("x", lo, hi)]))
    exact = set(ss._plan_files(loaded, [("x", lo, hi)]))
    assert vec >= exact  # soundness: widening may only KEEP more
    # no widening possible -> exactly equal (floats round-trip; ints
    # inside float53 are exact)
    flat = [
        v
        for mm in file_stats
        if mm is not None
        for v in mm
        if v is not None
    ] + ([lo, hi] if kind_num else [])
    if not kind_num or all(
        isinstance(v, float) or abs(v) < 2**52 for v in flat
    ):
        assert vec == exact

    # half-open ranges
    vec_h = set(ss._plan_files(lazy, [("x", lo, None)]))
    exact_h = set(ss._plan_files(loaded, [("x", lo, None)]))
    assert vec_h >= exact_h

    # bloom equality: bit-exact, so ALWAYS equal
    probe = data.draw(st.integers(0, 60), label="eq_probe")
    vec_eq = set(ss._plan_files(lazy, [("k", [probe])]))
    exact_eq = set(ss._plan_files(loaded, [("k", [probe])]))
    assert vec_eq == exact_eq
    # IN = union of its values' equality plans; atoms intersect
    probe2 = data.draw(st.integers(0, 60), label="eq_probe2")
    exact_eq2 = set(ss._plan_files(loaded, [("k", [probe2])]))
    assert set(ss._plan_files(loaded, [("k", [probe, probe2])])) == (
        exact_eq | exact_eq2
    )
    assert set(ss._plan_files(loaded, [("x", lo, hi), ("k", [probe])])) == (
        exact & exact_eq
    )
    # and a file whose bloom lacks the probe's bits is really dropped
    # only when it provably cannot contain it (no false drops by
    # construction): every file whose value list contains probe is kept
    files = lazy["files"]
    for i, values in enumerate(blooms):
        if values is not None and probe in values:
            assert files[i] in vec_eq


def test_append_uses_incremental_arrow_concat(spark, detail_mode, tmp_path, monkeypatch):
    """r13: an append atop a sidecar-backed parent must NOT reconstruct
    the parent's dicts — the parent table concatenates with the new
    files' rows in the arrow domain. Pinned by making the dict-rebuild
    path explode: _detail_to_dicts (the dict-rebuild entry)
    (reconstruction) both raise, and the append still publishes with
    exact merged metadata."""
    root = str(tmp_path / "t")
    ss.snap_commit(
        spark.range(0, 400).select(F.col("id")).repartitionByRange(4, "id"),
        root,
        stats_cols=["id"],
    )

    def _boom(*a, **k):
        raise AssertionError("dict-rebuild path taken on an append")

    monkeypatch.setattr(ss, "_detail_to_dicts", _boom)
    v = ss.snap_commit(
        spark.range(400, 800).select(F.col("id")).repartitionByRange(4, "id"),
        root,
        stats_cols=["id"],
    )
    monkeypatch.undo()
    m = ss._read_manifest(root, v)
    assert set(m["file_stats"]) == set(m["files"])  # parent + new rows
    kept, total = ss.snap_prune_files(root, "id", 500, 600)
    assert 0 < len(kept) < total
    assert ss.snap_read_between(spark, root, "id", 500, 600).count() == 101


def test_append_new_stats_col_unions_typed_index(spark, detail_mode, tmp_path):
    """An append recording stats for a column the parent never profiled
    unions the typed-index fields: parent rows are null for the new
    column (kept — no stats recorded), new rows prune on it, and both
    columns prune after the append."""
    root = str(tmp_path / "t")
    df1 = spark.range(0, 300).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    ).repartitionByRange(3, "id")
    ss.snap_commit(df1, root, stats_cols=["id"])
    df2 = spark.range(300, 600).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    ).repartitionByRange(3, "id")
    v = ss.snap_commit(df2, root, stats_cols=["id", "v"])
    m = ss._read_manifest(root, v)
    # id prunes across BOTH halves
    kept_id = ss._plan_files(m, [("id", 100, 120)])
    assert 0 < len(kept_id) < len(m["files"])
    # v prunes only the new half; every parent file is kept (null index)
    m2 = ss._read_manifest(root, v)
    kept_v = ss._plan_files(m2, [("v", 700, 720)])
    parent_files = set(ss._read_manifest(root, 0)["files"])
    assert parent_files <= set(kept_v)
    assert len(kept_v) < len(m["files"])  # some new files dropped
    got = ss.snap_read_between(spark, root, "v", 700, 720).count()
    assert got == 11


def test_append_without_stats_keeps_parent_detail(spark, detail_mode, tmp_path):
    root = str(tmp_path / "t")
    ss.snap_commit(
        spark.range(0, 300).select(F.col("id")).repartitionByRange(3, "id"),
        root,
        stats_cols=["id"],
        bloom_cols=["id"],
    )
    v = ss.snap_commit(
        spark.range(300, 400).select(F.col("id")).repartition(2), root
    )
    m = ss._read_manifest(root, v)
    parent_files = set(ss._read_manifest(root, 0)["files"])
    assert parent_files <= set(m["file_stats"])  # parent detail intact
    assert parent_files <= set(m["file_blooms"])
    # stat-less new files are kept by every prune
    kept, total = ss.snap_prune_files(root, "id", 0, 10)
    new_files = set(m["files"]) - parent_files
    assert new_files <= set(kept)
    assert ss.snap_read_between(spark, root, "id", 350, 360).count() == 11


def test_threshold_drop_falls_back_to_inline(spark, tmp_path, monkeypatch):
    """If the inline threshold RISES past the table size between
    commits, the append atop a detail-backed parent reconstructs the
    dicts and publishes inline — correctness over the fast path."""
    monkeypatch.setattr(ss, "DETAIL_INLINE_MAX", 0)
    root = str(tmp_path / "t")
    ss.snap_commit(
        spark.range(0, 200).select(F.col("id")).repartition(2),
        root,
        stats_cols=["id"],
    )
    assert _parts(_head(root, 0))
    monkeypatch.setattr(ss, "DETAIL_INLINE_MAX", 100_000)
    v = ss.snap_commit(
        spark.range(200, 300).select(F.col("id")).repartition(2),
        root,
        stats_cols=["id"],
    )
    h = _head(root, v)
    assert not _parts(h) and set(h["file_stats"]) == set(h["files"])
    assert ss.snap_count(root) == 300


def test_dml_and_clone_skip_dict_reconstruction(spark, detail_mode, tmp_path, monkeypatch):
    """r13: COW rewrites (merge/update/delete), dv-deletes, and clones
    atop a sidecar-backed parent carry the kept files' metadata as a
    filtered/whole arrow table — never a dict reconstruction. Pinned by
    making _detail_to_dicts explode while the ops
    run; results stay exact."""
    root = str(tmp_path / "t")
    df = spark.range(0, 400).select(
        F.col("id"), (F.col("id") * 2).alias("val")
    ).repartitionByRange(4, "id")
    ss.snap_commit(df, root, stats_cols=["id"])

    def _boom(*a, **k):
        raise AssertionError("dict-rebuild path taken on DML/clone")

    monkeypatch.setattr(ss, "_detail_to_dicts", _boom)
    ss.snap_merge(
        spark,
        root,
        spark.createDataFrame([(3, 999), (500, 1)], "id long, val long"),
        on=["id"],
    )
    ss.snap_update_where(spark, root, "id = 7", {"val": "0"})
    ss.snap_delete_dv(spark, root, "id = 9")
    dst = str(tmp_path / "clone")
    ss.snap_clone(root, dst)
    monkeypatch.undo()
    got = {r.id: r.val for r in ss.snap_read(spark, root).collect()}
    assert got[3] == 999 and got[500] == 1 and got[7] == 0
    assert 9 not in got and len(got) == 400
    # untouched + rewritten files' stats survived into the latest sidecar
    m = ss._read_manifest(root, ss.snap_current_version(root))
    assert m["file_stats"] and set(m["file_stats"]) <= set(m["files"])
    kept, total = ss.snap_prune_files(root, "id", 200, 250)
    assert 0 < len(kept) < total
    # the clone's own sidecar carries the SAME per-file metadata (the
    # clone references the source's files verbatim)
    mc = ss._read_manifest(dst, 0)
    assert mc["file_stats"] == m["file_stats"]
    assert ss.snap_read(spark, dst).count() == 400


def test_relative_root_cdf_merge_and_vacuum_sound(spark, detail_mode, tmp_path, monkeypatch):
    """Review-found (r13): a store addressed by a RELATIVE root must not
    silently mis-join scan-metadata (absolute) paths against manifest
    entries — the CDF path->version map, merge's touched-file
    discovery, and vacuum's referenced-set walk all cross that domain.
    End to end on a relative root: the feed carries every change, the
    merge rewrites (no duplicates), and vacuum never deletes a live
    file."""
    monkeypatch.chdir(tmp_path)
    root = "relstore"  # deliberately relative
    df = spark.range(0, 200).select(F.col("id"), (F.col("id") * 2).alias("val"))
    ss.snap_commit(df.repartition(2), root, stats_cols=["id"])
    v_en = ss.snap_enable_cdf(root)
    ss.snap_commit(
        spark.range(200, 300).select(F.col("id"), (F.col("id") * 2).alias("val")),
        root,
    )
    ss.snap_merge(
        spark,
        root,
        spark.createDataFrame([(5, 555), (900, 9)], "id long, val long"),
        on=["id"],
    )
    feed = ss.snap_read_changes_cdf(spark, root, v_en).collect()
    by_type = {}
    for r in feed:
        by_type.setdefault(r["_change_type"], set()).add(r["id"])
    assert set(range(200, 300)) <= by_type.get("insert", set())
    assert 5 in by_type.get("update_postimage", set())
    assert 900 in by_type.get("insert", set())
    # merge rewrote (no duplicate id=5) and results are exact
    got = {r.id: r.val for r in ss.snap_read(spark, root).collect()}
    assert got[5] == 555 and got[900] == 9 and len(got) == 301
    # vacuum with everything referenced deletes nothing live
    ss.snap_vacuum(root, keep_last=1, staged_grace_minutes=0)
    assert ss.snap_read(spark, root).count() == 301


def test_count_bytes_answer_from_sidecar_columns(spark, detail_mode, tmp_path, monkeypatch):
    """Review-found (r13): COUNT(*)/size on a detail-backed manifest
    must stay a metadata lookup — summed from the sidecar's vectorized
    rows/bytes columns, never via the O(files x bloom_bits) dict
    reconstruction."""
    root = str(tmp_path / "t")
    ss.snap_commit(
        spark.range(0, 500).select(F.col("id")).repartition(4),
        root,
        stats_cols=["id"],
        bloom_cols=["id"],
    )

    def _boom(*a, **k):
        raise AssertionError("dict reconstruction on a metadata count")

    monkeypatch.setattr(ss, "_detail_to_dicts", _boom)
    assert ss.snap_count(root) == 500
    assert ss.snap_bytes(root) > 0
    monkeypatch.undo()


def test_shared_sidecar_publish_verifies_and_refreshes(spark, detail_mode, tmp_path):
    """Review-found (r13): a pointer-sharing publish (metadata commit /
    restore) touches its sidecar (re-arming vacuum's grace clock) and
    refuses up front if a sweep already collected it — never publishing
    a dangling pointer."""
    import time as _time

    root = str(tmp_path / "t")
    ss.snap_commit(
        spark.range(0, 300).select(F.col("id")).repartition(3),
        root,
        stats_cols=["id"],
    )
    side = os.path.join(ss._manifest_dir(root), _parts(_head(root, 0))[0])
    old = _time.time() - 7200
    os.utime(side, (old, old))
    v1 = ss.snap_add_constraint(spark, root, "nonneg", "id >= 0")
    assert os.path.getmtime(side) > old + 3600  # refreshed at publish
    # a collected sidecar refuses instead of dangling
    os.remove(side)
    with pytest.raises(FileNotFoundError, match="sidecar"):
        ss.snap_add_constraint(spark, root, "other", "id >= -1")
    assert ss.snap_current_version(root) == v1  # nothing published


def test_rewrite_keeps_profiling_untyped_stats_cols(spark, detail_mode, tmp_path):
    """Review-found (r13 wave 2): a profiled column with NO typed-index
    field (all-NULL in every file) must stay in the rewrite config — a
    COW rewrite's new files keep recording its stats instead of
    silently narrowing the metadata vs inline mode."""
    root = str(tmp_path / "t")
    df = spark.range(0, 200).select(
        F.col("id"),
        F.lit(None).cast("long").alias("b"),  # all-NULL profiled column
    ).repartitionByRange(2, "id")
    ss.snap_commit(df, root, stats_cols=["id", "b"])
    cfg = ss._rewrite_config(ss._read_manifest(root, 0))
    assert cfg["stats_cols"] == ["b", "id"]
    ss.snap_update_where(spark, root, "id = 3", {"id": "3"})
    m = ss._read_manifest(root, ss.snap_current_version(root))
    # every file (incl. the rewritten one) carries entries for BOTH cols
    for f in m["files"]:
        assert set(m["file_stats"][f]) == {"b", "id"}, f


def test_detail_cache_is_lru(tmp_path, monkeypatch):
    """Advisor-found (r13): the sidecar cache must evict least-RECENTLY
    used, not insertion order — a working set alternating over more
    than max sidecars would otherwise re-read the hottest table from
    parquet on every touch."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    monkeypatch.setattr(ss, "_DETAIL_CACHE_MAX", 3)
    ss._detail_cache.clear()
    paths = []
    for i in range(4):
        p = str(tmp_path / f"s{i}.detail.parquet")
        pq.write_table(pa.table({"path": [f"f{i}"]}), p)
        paths.append(p)
    ss._load_detail_table(paths[0])
    ss._load_detail_table(paths[1])
    ss._load_detail_table(paths[2])
    ss._load_detail_table(paths[0])  # refresh 0 — now hottest
    ss._load_detail_table(paths[3])  # must evict 1 (LRU), not 0 (FIFO)
    assert paths[0] in ss._detail_cache
    assert paths[1] not in ss._detail_cache
    ss._detail_cache.clear()


def test_meta_sum_falls_back_on_sidecar_path_mismatch(
    spark, detail_mode, tmp_path, monkeypatch
):
    """Advisor-found (r13): _meta_column_sum trusted len(sidecar) ==
    len(files) as proof of a bijection; a sidecar whose path SET skews
    from the file list (same length) must fall back to the exact dict
    path instead of silently summing the wrong rows.

    Pinned to inline-files heads: the defense needs the head's list as
    independent ground truth — on a files_in_detail head a corrupted
    sidecar corrupts the list itself (same failure domain as a
    corrupted Delta checkpoint), which no read-side check can see."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    monkeypatch.setattr(ss, "FILES_INLINE_MAX", 1_000_000)
    root = str(tmp_path / "t")
    ss.snap_commit(
        spark.range(0, 400).select(F.col("id")).repartition(4),
        root,
        stats_cols=["id"],
    )
    assert ss.snap_count(root) == 400
    head = _head(root, 0)
    side = os.path.join(ss._manifest_dir(root), _parts(head)[0])
    t = ss._load_detail_table(side)
    # corrupt: same row count, skewed path set, zeroed row counts — the
    # length check alone would accept this and return 0
    bogus = t.set_column(
        t.schema.get_field_index("path"),
        "path",
        pc.binary_join_element_wise(t.column("path").cast("string"), ".bogus", ""),
    ).set_column(
        t.schema.get_field_index("rows"),
        "rows",
        pc.multiply(t.column("rows"), 0),
    )
    os.remove(side)
    pq.write_table(bogus, side)
    ss._detail_cache.clear()
    # falls back to per-file footers: still the true count, never 0
    assert ss.snap_count(root) == 400


def test_shared_sidecar_vanishing_mid_publish_is_retryable(
    spark, detail_mode, tmp_path
):
    """Advisor-found (r13): a vacuum sweep can collect a shared sidecar
    between the publish-time existence check and the O_EXCL head write;
    the publish must then remove its just-written head and raise the
    retryable conflict instead of leaving a dangling pointer."""
    root = str(tmp_path / "t")
    ss.snap_commit(
        spark.range(0, 200).select(F.col("id")).repartition(2),
        root,
        stats_cols=["id"],
    )
    m = ss._read_manifest(root, 0)
    manifest = m.head_copy()
    manifest.update({"version": 1, "parent": 0, "ts": 1.0})
    sides = list(m._part_paths())

    def _sweep():  # the vacuum unlink landing inside the syscall gap
        for s in sides:
            os.remove(s)

    with pytest.raises(ss.SnapshotConflict, match="vacuum"):
        ss._write_manifest_file(root, manifest, pre_publish=_sweep)
    # the half-published head was rolled back; CURRENT never advanced
    assert not os.path.exists(ss._manifest_path(root, 1))
    assert ss.snap_current_version(root) == 0


def test_cdf_path_domain_skew_fails_loudly(spark, tmp_path, monkeypatch):
    """Advisor-found (r13): the CDF path->version recovery join must
    RAISE on a normalization mismatch (new URI scheme/encoding form),
    never silently drop change rows from the feed."""
    root = str(tmp_path / "t")
    df = spark.range(0, 50).select(F.col("id"))
    ss.snap_commit(df, root)
    v_on = ss.snap_enable_cdf(root)
    ss.snap_commit(spark.range(50, 60).select(F.col("id")), root)
    # healthy feed first
    assert ss.snap_read_changes_cdf(spark, root, v_on).count() == 10

    real = ss._norm_dv_path_col

    def _skewed(col):  # a future normalization drift, simulated
        return F.concat(real(col), F.lit(".skew"))

    monkeypatch.setattr(ss, "_norm_dv_path_col", _skewed)
    with pytest.raises(Exception, match="path-domain skew"):
        ss.snap_read_changes_cdf(spark, root, v_on).collect()


# ---------------------------------------------------------------------------
# r14: MULTIPART sidecar chains + O(1) files-in-detail heads


@pytest.fixture()
def o1_head_mode(monkeypatch):
    monkeypatch.setattr(ss, "DETAIL_INLINE_MAX", 0)
    monkeypatch.setattr(ss, "FILES_INLINE_MAX", 0)


def test_append_writes_incremental_part_chain(spark, detail_mode, tmp_path):
    """An append atop a sidecar-backed parent writes ONE new part with
    only the NEW files' rows and shares the parent's parts by name —
    O(new files) metadata I/O per append."""
    import pyarrow.parquet as pq

    root = str(tmp_path / "t")
    ss.snap_commit(
        spark.range(0, 300).select(F.col("id")).repartition(3),
        root,
        stats_cols=["id"],
    )
    h0 = _parts(_head(root, 0))
    assert len(h0) == 1
    ss.snap_commit(
        spark.range(300, 500).select(F.col("id")).repartition(2),
        root,
        stats_cols=["id"],
    )
    h1 = _parts(_head(root, 1))
    assert h1[0] == h0[0]  # parent part shared by NAME
    assert len(h1) == 2
    new_part = os.path.join(ss._manifest_dir(root), h1[1])
    assert pq.read_metadata(new_part).num_rows == 2  # only the new files
    m = ss._read_manifest(root, 1)
    assert ss.snap_count(root) == 500
    assert set(m["file_stats"]) == set(m["files"]) and len(m["files"]) == 5
    # pruning still exact across the chain
    kept = ss._plan_files(ss._read_manifest(root, 1), [("id", 350, 360)])
    assert 0 < len(kept) < 5
    got = ss.snap_read_between(spark, root, "id", 350, 360).count()
    assert got == 11


def test_part_chain_compacts_past_max(spark, detail_mode, tmp_path, monkeypatch):
    monkeypatch.setattr(ss, "DETAIL_PARTS_MAX", 3)
    root = str(tmp_path / "t")
    for i in range(5):
        ss.snap_commit(
            spark.range(i * 100, (i + 1) * 100).select(F.col("id")).repartition(2),
            root,
            stats_cols=["id"],
        )
    counts = [len(_parts(_head(root, v))) for v in range(5)]
    assert max(counts) <= 3  # never exceeds the chain cap
    assert counts[3] == 1 or counts[4] == 1  # a compaction happened
    # compaction is lossless: every file keeps stats, reads stay exact
    m = ss._read_manifest(root, 4)
    assert set(m["file_stats"]) == set(m["files"]) and len(m["files"]) == 10
    assert ss.snap_count(root) == 500
    # superseded pre-compaction parts were removed with the publish;
    # every remaining part is referenced by some retained head
    live = set()
    for v in ss.snap_versions(root):
        live.update(_parts(_head(root, v)))
    on_disk = {
        n
        for n in os.listdir(ss._manifest_dir(root))
        if n.endswith(".detail.parquet")
    }
    assert on_disk == live


def test_files_in_detail_head_is_o1(spark, o1_head_mode, tmp_path):
    """Above the files threshold (forced to 0) an exact chain drops the
    path list from the JSON head: heads carry counts + pointer only,
    and ``files`` reconstructs exactly from the parts' path column."""
    root = str(tmp_path / "t")
    ss.snap_commit(
        spark.range(0, 400).select(F.col("id")).repartition(4),
        root,
        stats_cols=["id"],
    )
    h = _head(root, 0)
    assert "files" not in h
    assert h["files_in_detail"] and h["detail_exact"] and h["file_count"] == 4
    m = ss._read_manifest(root, 0)
    files = m["files"]
    assert len(files) == 4 and all(os.path.exists(f) for f in files)
    assert files == sorted(files)  # birth order preserved exactly
    assert ss.snap_count(root) == 400
    assert ss.snap_read(spark, root).count() == 400
    # append keeps the O(1) head and extends the reconstruction
    ss.snap_commit(
        spark.range(400, 600).select(F.col("id")).repartition(2),
        root,
        stats_cols=["id"],
    )
    h1 = _head(root, 1)
    assert "files" not in h1 and h1["file_count"] == 6
    m1 = ss._read_manifest(root, 1)
    assert m1["files"][:4] == files  # parent prefix, in order
    assert ss.snap_count(root) == 600


def test_files_in_detail_full_lifecycle(spark, o1_head_mode, tmp_path):
    """DML, DV delete, metadata commits, restore, CDF, and vacuum all
    behave identically on an O(1)-head store — and every published
    head stays file-list-free."""
    root = str(tmp_path / "t")
    df = _df(spark, [(i, i) for i in range(300)]).repartition(3)
    ss.snap_commit(df, root, stats_cols=["id"])
    v_on = ss.snap_enable_cdf(root)
    ss.snap_update_where(spark, root, "id = 7", {"v": "707"})
    ss.snap_delete_dv(spark, root, "id = 9")
    got = {r["id"]: r["v"] for r in ss.snap_read(spark, root).collect()}
    assert got[7] == 707 and 9 not in got and len(got) == 299
    assert ss.snap_count(root) == 299
    feed = ss.snap_read_changes_cdf(spark, root, v_on).collect()
    kinds = {(r["id"], r["_change_type"]) for r in feed}
    assert ("7", "update_postimage") in {(str(k), t) for k, t in kinds} or (7, "update_postimage") in kinds
    assert (9, "delete") in kinds
    v_c = ss.snap_add_constraint(spark, root, "nonneg", "id >= 0")
    v_r = ss.snap_restore(root, v_c)
    for v in ss.snap_versions(root):
        assert "files" not in _head(root, v), f"v{v} re-inlined the list"
    ss.snap_vacuum(root, keep_last=2)
    assert ss.snap_count(root) == 299
    assert ss.snap_read(spark, root).count() == 299
    assert ss._read_manifest(root, v_r).get("constraints") == {
        "nonneg": "id >= 0"
    }


def test_files_in_detail_vacuum_never_deletes_live(spark, o1_head_mode, tmp_path):
    """Vacuum's referenced-set derives from the RECONSTRUCTED file list
    on O(1)-head stores — it must keep every live file across deep
    version drops."""
    root = str(tmp_path / "t")
    for i in range(4):
        ss.snap_commit(
            spark.range(i * 50, (i + 1) * 50).select(F.col("id")).repartition(2),
            root,
            stats_cols=["id"],
        )
    removed = ss.snap_vacuum(root, keep_last=1, staged_grace_minutes=0)
    assert removed == 0  # appends: every file still referenced by CURRENT
    assert ss.snap_read(spark, root).count() == 200
    # an overwrite strands the old lineage; vacuum collects exactly it
    ss.snap_commit(
        spark.range(0, 30).select(F.col("id")).repartition(2),
        root,
        mode="overwrite",
        stats_cols=["id"],
    )
    removed = ss.snap_vacuum(root, keep_last=1, staged_grace_minutes=0)
    assert removed == 8  # the four stranded 2-file commits
    assert ss.snap_read(spark, root).count() == 30


def test_exactness_gate_blocks_lossy_chains(spark, tmp_path, monkeypatch):
    """A chain whose exactness is UNPROVEN must keep the file list
    inline in the head even above the files threshold — vacuum's
    referenced-set may never derive from a possibly-lossy sidecar. The
    serializer builds such a chain when the detail dicts it is handed
    hold an entry outside the file list: it keeps every entry and
    forfeits ``detail_exact``. Appends atop it stay non-exact; a full
    rewrite (compaction) re-earns the flag."""
    monkeypatch.setattr(ss, "DETAIL_INLINE_MAX", 0)
    root = str(tmp_path / "t")
    ss.snap_commit(
        spark.range(0, 200).select(F.col("id")).repartition(2),
        root,
        stats_cols=["id"],
    )
    m = ss._materialize(ss._read_manifest(root, 0))
    stray = os.path.join(ss._data_dir(root), "stray.parquet")
    m["file_stats"][stray] = {"id": [0, 0]}
    m.update(version=1, parent=0)
    ss._write_manifest_file(root, m)
    ss._advance_current(root, 1)
    h = _head(root, 1)
    assert "detail_exact" not in h and "files" in h
    monkeypatch.setattr(ss, "FILES_INLINE_MAX", 0)
    v = ss.snap_commit(
        spark.range(200, 300).select(F.col("id")).repartition(1),
        root,
        stats_cols=["id"],
    )
    h1 = _head(root, v)
    assert "files" in h1 and "files_in_detail" not in h1  # gate held
    assert "detail_exact" not in h1
    assert ss.snap_count(root) == 300
    # a compaction rewrites every file and rebuilds one exact part
    v2 = ss.snap_compact(spark, root)
    h2 = _head(root, v2)
    assert h2.get("detail_exact") and "files" not in h2
    assert ss.snap_count(root) == 300
    assert ss.snap_read(spark, root).count() == 300


def test_deferred_append_never_materializes_path_list(
    spark, o1_head_mode, tmp_path, monkeypatch
):
    """An append (and a dv-delete) atop an exact O(1)-head parent must
    carry only the parent's file COUNT: no path-list reconstruction, no
    dict reconstruction, no parent part read — the per-append metadata
    cost is O(new files) with no O(table) term. Pinned by making every
    list/dict materializer explode while the ops run."""
    root = str(tmp_path / "t")
    ss.snap_commit(
        _df(spark, [(i, i) for i in range(300)]).repartition(3),
        root,
        stats_cols=["id"],
    )
    assert "files" not in _head(root, 0)

    def _boom(*a, **k):
        raise AssertionError("O(table) materialization on the append path")

    monkeypatch.setattr(ss, "_load_part_path_lists", _boom)
    monkeypatch.setattr(ss, "_detail_to_dicts", _boom)
    monkeypatch.setattr(ss, "_load_detail_parts", _boom)
    v = ss.snap_commit(
        _df(spark, [(i, i) for i in range(300, 400)]).repartition(1),
        root,
        stats_cols=["id"],
    )
    monkeypatch.undo()
    h = _head(root, v)
    assert "files" not in h and h["file_count"] == 4
    assert ss.snap_count(root) == 400
    m = ss._read_manifest(root, v)
    assert len(m["files"]) == 4 and set(m["file_stats"]) == set(m["files"])


def test_shared_part_vanishing_mid_append_is_retryable(
    spark, detail_mode, tmp_path
):
    """Review-found (r14): an incremental append shares the parent's
    parts by name, so a vacuum race can make the pre-publish verify see
    a missing part. _publish_commit must surface that as the retryable
    SnapshotConflict (what snap_commit_with_retry catches) and remove
    the loser's staged data — never a bare FileNotFoundError plus a
    leaked commit dir."""
    root = str(tmp_path / "t")
    ss.snap_commit(
        spark.range(0, 200).select(F.col("id")).repartition(2),
        root,
        stats_cols=["id"],
    )
    # sweep the parent's part out from under the coming append
    m = ss._read_manifest(root, 0)
    for p in m._part_paths():
        os.remove(p)
    ss._detail_cache.clear()
    data_before = {
        d for d in os.listdir(os.path.join(ss._manifest_dir(root), "..", "data"))
    }
    with pytest.raises(ss.SnapshotConflict, match="vanished|vacuum"):
        ss.snap_commit(
            spark.range(200, 300).select(F.col("id")).repartition(1),
            root,
            stats_cols=["id"],
        )
    # the loser's staged commit dir was cleaned up
    data_after = {
        d for d in os.listdir(os.path.join(ss._manifest_dir(root), "..", "data"))
    }
    assert data_after == data_before
    assert ss.snap_current_version(root) == 0


# ---------------------------------------------------------------------------
# The stats type matrix through a forced-sidecar commit

MATRIX_STATS = ["id", "big", "x", "s", "ts", "ntz", "d", "b", "dec"]
MATRIX_BLOOMS = ["s", "id"]
# ts/ntz/d are compared as the ISO text the manifest stores; the others
# compare as Python values (int/float/Decimal mix compares exactly)
_AS_TEXT = ("ts", "ntz", "d")


def _typed_df(spark, n=800, parts=6):
    """One column per stats family: >2^53 longs, doubles, strings,
    session-tz timestamps, NTZ, dates, booleans, and decimals whose
    float bounds need directional rounding."""
    return (
        spark.range(0, n)
        .select(
            F.col("id"),
            (F.col("id") * 2 + 9_007_199_254_740_993).alias("big"),
            (F.col("id").cast("double") / 3).alias("x"),
            F.concat(F.lit("k"), (F.col("id") % 97).cast("string")).alias("s"),
            F.timestamp_seconds(F.col("id") * 37 + 1_700_000_000).alias("ts"),
            F.timestamp_seconds(F.col("id") * 41 + 1_650_000_000)
            .cast("timestamp_ntz")
            .alias("ntz"),
            F.to_date(
                F.timestamp_seconds(F.col("id") * 1337 + 1_600_000_000)
            ).alias("d"),
            (F.col("id") % 7 == 0).alias("b"),
            # (id + 1) / 7: several file bounds whose nearest float lies
            # on the unsafe side, so only directional rounding brackets
            ((F.col("id") + 1).cast("decimal(38,4)") / 7).alias("dec"),
        )
        .repartitionByRange(parts, "id")
    )


@pytest.mark.parametrize("tz", ["UTC", "America/New_York"])
def test_type_matrix_sidecar_stats_bracket_and_prune(
    spark, tmp_path, tz, monkeypatch
):
    """Every supported stats type through the driver pass into a forced
    sidecar with an O(1) head: each file's recorded [min, max] brackets
    every value it holds (in the session-tz text domain for temporal
    columns), and range / equality reads planned from those stats return
    exactly the rows a plain filter returns."""
    from urllib.parse import unquote, urlparse

    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", tz)
    try:
        root = str(tmp_path / "t")
        monkeypatch.setattr(ss, "DETAIL_INLINE_MAX", 0)
        monkeypatch.setattr(ss, "FILES_INLINE_MAX", 0)
        v = ss.snap_commit(
            _typed_df(spark), root, mode="overwrite",
            stats_cols=MATRIX_STATS, bloom_cols=MATRIX_BLOOMS,
            bloom_bits=1 << 12, bloom_k=4,
        )
        head = _head(root, v)
        assert _parts(head) and head.get("files_in_detail")
        assert head.get("detail_exact") and "file_stats" not in head
        m = ss._read_manifest(root, v)
        assert len(m["files"]) == 6 and set(m["file_stats"]) == set(m["files"])

        full = ss.snap_read(spark, root)
        # ts/ntz/d rendered as the stats text domain: ISO wall clock in
        # the SESSION timezone (whole seconds, so no fraction)
        rows = full.select(
            F.col("_metadata.file_path").alias("_p"),
            *[
                F.regexp_replace(F.col(c).cast("string"), " ", "T").alias(c)
                if c in _AS_TEXT
                else F.col(c)
                for c in MATRIX_STATS
            ],
        ).collect()
        seen = set()
        for r in rows:
            path = unquote(urlparse(r["_p"]).path)
            seen.add(path)
            per = m["file_stats"][path]
            for c in MATRIX_STATS:
                lo, hi = per[c]
                assert lo <= r[c] <= hi, (path, c, lo, r[c], hi)
        assert seen == set(m["files"])

        def _same(pruned, pred):
            want = full.filter(pred)
            assert pruned.count() == want.count()
            assert pruned.exceptAll(want).count() == 0

        by_id = {r["id"]: r for r in rows}
        lo_r, hi_r = by_id[200], by_id[390]
        for c in MATRIX_STATS:
            lo, hi = sorted([lo_r[c], hi_r[c]])
            _same(
                ss.snap_read_between(spark, root, c, lo, hi),
                F.col(c).between(F.lit(lo), F.lit(hi)),
            )
        kept, total = ss.snap_prune_files(root, "id", 200, 390)
        assert 0 < len(kept) < total, "clustered id range prunes files"
        probe = by_id[123]
        for c in ("s", "id", "big", "d", "b"):
            _same(
                ss.snap_read_where_eq(spark, root, c, probe[c]),
                F.col(c) == F.lit(probe[c]),
            )
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)


def test_unparseable_session_timezone_keeps_timestamp_stats(
    spark, tmp_path, monkeypatch
):
    """A session timezone Spark accepts but zoneinfo cannot parse
    (``GMT+08:00``) leaves timestamp stats in the system domain instead
    of guessing — and the sidecar commit, its stats and its reads all
    still work."""
    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "GMT+08:00")
    try:
        assert ss._session_ts_normalizer(spark) is None
        root = str(tmp_path / "t")
        monkeypatch.setattr(ss, "DETAIL_INLINE_MAX", 0)
        v = ss.snap_commit(
            _typed_df(spark, n=100, parts=2), root, mode="overwrite",
            stats_cols=["ts", "id"],
        )
        stats = ss._read_manifest(root, v)["file_stats"]
        assert len(stats) == 2
        assert all("ts" in per and "id" in per for per in stats.values())
        assert ss.snap_read(spark, root).count() == 100
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)
