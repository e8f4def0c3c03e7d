"""Snapshot store: atomic manifest-pinned commits, snapshot isolation,
time travel, schema gating, optimistic concurrency, vacuum safety,
CDC reads, manifest-stats file skipping, exactly-once streaming sink."""

from __future__ import annotations

import ast
import json
import os
import pathlib

import pytest
from pyspark.sql import functions as F

from wsspark import snapstore as ss


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id"), (F.col("id") * 2).alias("val")
    )


def test_append_overwrite_and_time_travel(spark, tmp_path):
    root = str(tmp_path / "t1")
    v0 = ss.snap_commit(_df(spark, 0, 10), root)
    v1 = ss.snap_commit(_df(spark, 10, 15), root, mode="append")
    v2 = ss.snap_commit(_df(spark, 100, 102), root, mode="overwrite")
    assert (v0, v1, v2) == (0, 1, 2)
    assert ss.snap_read(spark, root, 0).count() == 10
    assert ss.snap_read(spark, root, 1).count() == 15
    # overwrite replaced the lineage; CURRENT points at it
    cur = ss.snap_read(spark, root)
    assert {r.id for r in cur.collect()} == {100, 101}
    assert ss.snap_versions(root) == [0, 1, 2]
    # append preserves earlier rows (lineage union, not a rewrite)
    assert {r.id for r in ss.snap_read(spark, root, 1).collect()} == set(range(15))


def test_snapshot_isolation_ignores_foreign_files(spark, tmp_path):
    """Readers plan from the manifest's explicit file list: a stray
    parquet file dropped into a commit directory (orphaned task output,
    concurrent writer debris) never leaks into any version."""
    root = str(tmp_path / "t2")
    ss.snap_commit(_df(spark, 0, 5), root)
    data_root = os.path.join(root, "data")
    commit_dir = os.path.join(data_root, sorted(os.listdir(data_root))[0])
    _df(spark, 900, 905).write.parquet(str(tmp_path / "foreign"))
    foreign = [
        f for f in os.listdir(str(tmp_path / "foreign")) if f.endswith(".parquet")
    ][0]
    os.link(
        os.path.join(str(tmp_path / "foreign"), foreign),
        os.path.join(commit_dir, "zz_orphan.parquet"),
    )
    assert {r.id for r in ss.snap_read(spark, root).collect()} == set(range(5))


def test_pinned_version_stable_across_commits(spark, tmp_path):
    root = str(tmp_path / "t3")
    ss.snap_commit(_df(spark, 0, 5), root)
    pinned = ss.snap_read(spark, root, 0)
    ss.snap_commit(_df(spark, 5, 50), root, mode="append")
    ss.snap_commit(_df(spark, 0, 1), root, mode="overwrite")
    assert pinned.count() == 5  # still exactly version 0


def test_append_schema_gate_and_conflict(spark, tmp_path):
    root = str(tmp_path / "t4")
    ss.snap_commit(_df(spark, 0, 3), root)
    other = spark.range(3).select(F.col("id").cast("string").alias("id2"))
    with pytest.raises(ValueError, match="schema mismatch"):
        ss.snap_commit(other, root, mode="append")
    ss.snap_commit(other, root, mode="overwrite")  # explicit evolution ok

    # optimistic concurrency: a manifest already present for the next
    # version makes the commit fail cleanly and leave no new files behind
    nxt = ss.snap_current_version(root) + 1
    with open(ss._manifest_path(root, nxt), "x") as f:
        json.dump({"version": nxt, "parent": nxt - 1, "mode": "append",
                   "schema": other.schema.json(), "files": []}, f)
    before = {
        d: sorted(os.listdir(os.path.join(root, "data", d)))
        for d in os.listdir(os.path.join(root, "data"))
    }
    with pytest.raises(ss.SnapshotConflict):
        ss.snap_commit(other, root, mode="overwrite")
    after = {
        d: sorted(os.listdir(os.path.join(root, "data", d)))
        for d in os.listdir(os.path.join(root, "data"))
    }
    assert before == after  # the losing commit's files were cleaned up


def test_vacuum_keeps_retained_versions_readable(spark, tmp_path):
    root = str(tmp_path / "t5")
    ss.snap_commit(_df(spark, 0, 10), root)
    ss.snap_commit(_df(spark, 10, 20), root, mode="append")
    ss.snap_commit(_df(spark, 50, 55), root, mode="overwrite")
    ss.snap_commit(_df(spark, 55, 60), root, mode="append")
    removed = ss.snap_vacuum(root, keep_last=2)
    assert removed > 0  # v0/v1's files are unreferenced by v2/v3
    assert ss.snap_versions(root) == [2, 3]
    assert {r.id for r in ss.snap_read(spark, root, 2).collect()} == set(range(50, 55))
    assert {r.id for r in ss.snap_read(spark, root, 3).collect()} == set(range(50, 60))
    with pytest.raises(FileNotFoundError):
        ss.snap_read(spark, root, 0)
    with pytest.raises(ValueError, match="keep_last"):
        ss.snap_vacuum(root, keep_last=0)


def test_empty_commit_and_empty_store(spark, tmp_path):
    root = str(tmp_path / "t6")
    with pytest.raises(FileNotFoundError):
        ss.snap_read(spark, root)
    empty = spark.range(0).select(F.col("id"))
    ss.snap_commit(empty.filter(F.lit(False)), root)
    got = ss.snap_read(spark, root)
    assert got.count() == 0
    # names/types survive the manifest roundtrip; nullability is relaxed
    # to True like every Spark file-source read
    assert [(f.name, f.dataType) for f in got.schema.fields] == [
        (f.name, f.dataType) for f in empty.schema.fields
    ]
    with pytest.raises(ValueError, match="mode"):
        ss.snap_commit(empty, root, mode="merge")


def test_compact_is_a_version_and_preserves_pinned_reads(spark, tmp_path):
    root = str(tmp_path / "t7")
    for i in range(5):  # five tiny appends -> many small files
        ss.snap_commit(_df(spark, i * 10, (i + 1) * 10).repartition(4), root,
                       mode="append" if i else "overwrite")
    pre_version = ss.snap_current_version(root)
    pre_files = len(ss._read_manifest(root, pre_version)["files"])
    pinned = ss.snap_read(spark, root, pre_version)

    v = ss.snap_compact(spark, root)
    assert v == pre_version + 1
    post_files = len(ss._read_manifest(root, v)["files"])
    assert post_files < pre_files
    assert {r.id for r in ss.snap_read(spark, root).collect()} == set(range(50))
    # the pinned pre-compaction frame still reads its own snapshot
    assert pinned.count() == 50
    # after vacuum to the compacted version only, data still reads
    ss.snap_vacuum(root, keep_last=1)
    assert ss.snap_read(spark, root).count() == 50


def test_read_changes_is_exact_append_delta(spark, tmp_path):
    root = str(tmp_path / "t8")
    ss.snap_commit(_df(spark, 0, 10), root)
    ss.snap_commit(_df(spark, 10, 25), root, mode="append")
    ss.snap_commit(_df(spark, 25, 30), root, mode="append")
    # delta (0 -> 2] = exactly the rows versions 1 and 2 added
    delta = ss.snap_read_changes(spark, root, since=0)
    assert {r.id for r in delta.collect()} == set(range(10, 30))
    assert {r.id for r in ss.snap_read_changes(spark, root, 1, 2).collect()} == set(
        range(25, 30)
    )
    # empty delta (since == until) keeps names/types
    empty = ss.snap_read_changes(spark, root, 2, 2)
    assert empty.count() == 0 and empty.columns == ["id", "val"]
    with pytest.raises(ValueError, match="since <= until"):
        ss.snap_read_changes(spark, root, 2, 1)


def test_read_changes_refuses_overwrite_lineage(spark, tmp_path):
    """An overwrite in (since, until] means the delta is not an append
    set — the honest behavior is a refusal, not a wrong diff."""
    root = str(tmp_path / "t9")
    ss.snap_commit(_df(spark, 0, 10), root)
    ss.snap_commit(_df(spark, 50, 55), root, mode="overwrite")
    ss.snap_commit(_df(spark, 55, 60), root, mode="append")
    with pytest.raises(ValueError, match="overwrite"):
        ss.snap_read_changes(spark, root, since=0)
    # but the post-overwrite segment is a clean append delta
    assert {r.id for r in ss.snap_read_changes(spark, root, 1, 2).collect()} == set(
        range(55, 60)
    )


def test_tail_cursor_protocol(spark, tmp_path):
    root = str(tmp_path / "t10")
    ss.snap_commit(_df(spark, 0, 5), root)
    delta, cursor = ss.snap_tail(spark, root, since=0)
    assert delta.count() == 0 and cursor == 0
    ss.snap_commit(_df(spark, 5, 9), root, mode="append")
    delta, cursor = ss.snap_tail(spark, root, since=cursor)
    assert {r.id for r in delta.collect()} == {5, 6, 7, 8} and cursor == 1


def test_stats_skipping_prunes_clustered_files(spark, tmp_path):
    """Range-clustered commit + manifest min/max stats: a narrow range
    predicate plans a strict subset of files, and the pruned read equals
    the full filtered read exactly."""
    root = str(tmp_path / "t11")
    df = _df(spark, 0, 10_000).repartitionByRange(16, "id")
    ss.snap_commit(df, root, stats_cols=["id"])
    kept, total = ss.snap_prune_files(root, "id", 100, 150)
    assert total == 16 and 1 <= len(kept) <= 2  # ~selectivity x files
    got = ss.snap_read_between(spark, root, "id", 100, 150)
    assert {r.id for r in got.collect()} == set(range(100, 151))
    # files without stats are kept (skipping never changes results):
    # append WITHOUT stats_cols, then prune -> the new file always reads
    ss.snap_commit(_df(spark, 20_000, 20_010).coalesce(1), root, mode="append")
    kept2, total2 = ss.snap_prune_files(root, "id", 100, 150)
    assert total2 == 17 and len(kept2) == len(kept) + 1
    got2 = ss.snap_read_between(spark, root, "id", 100, 150)
    assert got2.count() == 51  # residual filter still exact
    # disjoint range with full stats -> zero files planned, schema kept
    ss.snap_compact(spark, root, stats_cols=["id"])
    none_df = ss.snap_read_between(spark, root, "id", -50, -1)
    assert none_df.count() == 0 and none_df.columns == ["id", "val"]


def test_stats_survive_append_and_serialize_timestamps(spark, tmp_path):
    root = str(tmp_path / "t12")
    ts = spark.range(0, 100).select(
        F.col("id"),
        F.timestamp_add("DAY", F.col("id").cast("int"), F.lit("2024-01-01").cast("timestamp")).alias("ts"),
    )
    ss.snap_commit(ts.repartitionByRange(4, "ts"), root, stats_cols=["ts"])
    import datetime as dt

    kept, total = ss.snap_prune_files(
        root, "ts", dt.datetime(2024, 1, 5), dt.datetime(2024, 1, 10)
    )
    assert total == 4 and len(kept) == 1
    got = ss.snap_read_between(
        spark, root, "ts", dt.datetime(2024, 1, 5), dt.datetime(2024, 1, 10)
    )
    assert got.count() == 6  # days 5..10 inclusive


def test_snap_sink_exactly_once_under_replay(spark, tmp_path):
    """The foreachBatch sink: a replayed micro-batch (same batch id) is a
    no-op; distinct ids append. This is the crash window between sink
    write and checkpoint commit, simulated directly."""
    root = str(tmp_path / "t13")
    sink = ss.snap_sink(root)
    sink(_df(spark, 0, 5), 0)
    sink(_df(spark, 5, 10), 1)
    sink(_df(spark, 5, 10), 1)  # replay -> skipped
    sink(_df(spark, 3, 4), 0)   # stale replay -> skipped
    assert ss.snap_read(spark, root).count() == 10
    assert ss.snap_versions(root) == [0, 1]
    assert ss.snap_tag(root) == 1


def test_snap_sink_end_to_end_streaming_restart(spark, tmp_path):
    """Real Structured Streaming run: file source, one file per
    micro-batch, availableNow; then new files + restart from the same
    checkpoint continues the lineage without duplicating rows."""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    root = str(tmp_path / "t14")
    _df(spark, 0, 10).coalesce(1).write.parquet(src)
    _df(spark, 10, 20).coalesce(1).write.mode("append").parquet(src)

    def run():
        stream = (
            spark.readStream.schema("id long, val long")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = (
            stream.writeStream.foreachBatch(ss.snap_sink(root))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    assert {r.id for r in ss.snap_read(spark, root).collect()} == set(range(20))
    _df(spark, 20, 30).coalesce(1).write.mode("append").parquet(src)
    run()  # restart from checkpoint: only the new file lands
    assert ss.snap_read(spark, root).count() == 30
    # the CDC read composes: everything after the first run's cursor
    tags = [ss._read_manifest(root, v)["tag"] for v in ss.snap_versions(root)]
    assert tags == sorted(tags)  # monotone batch ids


def test_bloom_eq_pruning_on_hash_layout(spark, tmp_path):
    """Manifest blooms prune point lookups on a HASH-clustered layout —
    the case min/max stats cannot touch (every file's [min, max] spans
    the whole key range). Soundness is exact row equality vs the full
    filter for a sweep of present keys plus an absent one."""
    root = str(tmp_path / "tb1")
    df = _df(spark, 0, 2000).repartition(8, "id")
    ss.snap_commit(df, root, bloom_cols=["id"])

    pruned_counts = []
    for needle in [0, 7, 123, 999, 1999]:
        kept, total = ss.snap_prune_files_eq(root, "id", needle)
        assert total == 8
        got = ss.snap_read_where_eq(spark, root, "id", needle).collect()
        assert [(r.id, r.val) for r in got] == [(needle, needle * 2)]
        pruned_counts.append(len(kept))
    # effectiveness: at fp ~0.3% (2^14 bits, 250 keys/file) a needle
    # plans ~1 of 8 files; allow slack for unlucky fp collisions
    assert sum(pruned_counts) <= len(pruned_counts) * 3

    # absent key: no file is obligated to survive; result is empty
    assert ss.snap_read_where_eq(spark, root, "id", 555_555).count() == 0


def test_bloom_string_column_and_null_rows(spark, tmp_path):
    """String keys hash identically on both sides; NULL rows are never
    inserted (col == value cannot match them) and do not poison files."""
    root = str(tmp_path / "tb2")
    df = (
        _df(spark, 0, 500)
        .select(
            F.when(F.col("id") % 7 == 0, None)
            .otherwise(F.concat(F.lit("user-"), F.col("id")))
            .alias("name"),
            "val",
        )
        .repartition(6, "name")
    )
    ss.snap_commit(df, root, bloom_cols=["name"])
    kept, total = ss.snap_prune_files_eq(root, "name", "user-123")
    assert len(kept) < total
    got = ss.snap_read_where_eq(spark, root, "name", "user-123").collect()
    assert [(r.name, r.val) for r in got] == [("user-123", 246)]


def test_bloom_eq_degrades_without_blooms(spark, tmp_path):
    """A store committed without bloom_cols keeps every file on an
    equality plan — skipping must never change results."""
    root = str(tmp_path / "tb3")
    ss.snap_commit(_df(spark, 0, 100).repartition(4, "id"), root)
    kept, total = ss.snap_prune_files_eq(root, "id", 42)
    assert len(kept) == total == 4
    assert ss.snap_read_where_eq(spark, root, "id", 42).count() == 1


def test_bloom_composes_with_minmax_stats(spark, tmp_path):
    """With BOTH structures recorded on a range-clustered layout, the
    equality plan is at most the range plan (stats already prune to the
    value's cluster; the bloom can only drop further)."""
    root = str(tmp_path / "tb4")
    df = _df(spark, 0, 2000).repartitionByRange(8, "id")
    ss.snap_commit(df, root, stats_cols=["id"], bloom_cols=["id"])
    kept_eq, total = ss.snap_prune_files_eq(root, "id", 1000)
    kept_rng, _ = ss.snap_prune_files(root, "id", 1000, 1000)
    assert set(kept_eq) <= set(kept_rng)
    assert len(kept_eq) <= 2
    assert ss.snap_read_where_eq(spark, root, "id", 1000).count() == 1


def test_bloom_append_inherits_and_gates_geometry(spark, tmp_path):
    """Appends keep resident files' blooms untouched and refuse a
    geometry change (a bloom filter cannot be resized)."""
    root = str(tmp_path / "tb5")
    ss.snap_commit(
        _df(spark, 0, 500).repartition(4, "id"), root, bloom_cols=["id"]
    )
    ss.snap_commit(
        _df(spark, 500, 1000).repartition(4, "id"),
        root,
        mode="append",
        bloom_cols=["id"],
    )
    # needles from both the v0-resident and v1-appended halves prune
    for needle in (123, 789):
        kept, total = ss.snap_prune_files_eq(root, "id", needle)
        assert total == 8 and len(kept) < total
        assert ss.snap_read_where_eq(spark, root, "id", needle).count() == 1
    with pytest.raises(ValueError, match="geometry"):
        ss.snap_commit(
            _df(spark, 1000, 1100),
            root,
            mode="append",
            bloom_cols=["id"],
            bloom_bits=1 << 10,
        )


def test_bloom_rejects_unsupported_types_and_null_probe(spark, tmp_path):
    """Float columns are refused at BUILD time (their cast-to-string
    form is not guaranteed byte-identical to the driver probe's str(),
    and a hash mismatch would silently drop true files); probing for
    NULL is refused at plan time."""
    root = str(tmp_path / "tb6")
    bad = _df(spark, 0, 10).select((F.col("id") * 1.5).alias("x"))
    with pytest.raises(ValueError, match="string/integral"):
        ss.snap_commit(bad, str(tmp_path / "tb6bad"), bloom_cols=["x"])
    ss.snap_commit(_df(spark, 0, 10), root, bloom_cols=["id"])
    with pytest.raises(ValueError, match="NULL"):
        ss.snap_prune_files_eq(root, "id", None)


def test_evolve_append_adds_nullable_column(spark, tmp_path):
    """Add-column evolution: the manifest schema advances to the
    superset, resident files read the new column as NULL (no rewrite),
    and time travel keeps each version's own shape."""
    root = str(tmp_path / "te1")
    ss.snap_commit(_df(spark, 0, 5), root)
    wide = _df(spark, 5, 8).withColumn(
        "note", F.concat(F.lit("n"), F.col("id")).cast("string")
    )
    v1 = ss.snap_commit(wide, root, mode="append", evolve=True)
    cur = ss.snap_read(spark, root, v1)
    assert cur.columns == ["id", "val", "note"]
    rows = {r.id: r.note for r in cur.collect()}
    assert len(rows) == 8
    assert all(rows[i] is None for i in range(5))  # resident files -> NULL
    assert rows[7] == "n7"
    # pre-evolution version keeps the old shape
    assert ss.snap_read(spark, root, 0).columns == ["id", "val"]
    # post-evolution plain appends validate against the NEW schema
    ss.snap_commit(
        wide.withColumn("note", F.lit(None).cast("string")),
        root,
        mode="append",
    )
    assert ss.snap_read(spark, root).count() == 11


def test_evolve_append_refuses_drops_and_type_changes(spark, tmp_path):
    root = str(tmp_path / "te2")
    ss.snap_commit(_df(spark, 0, 5), root)
    with pytest.raises(ValueError, match="drops column"):
        ss.snap_commit(
            _df(spark, 5, 8).drop("val"), root, mode="append", evolve=True
        )
    with pytest.raises(ValueError, match="type"):
        ss.snap_commit(
            _df(spark, 5, 8).withColumn("val", F.col("val").cast("int")),
            root,
            mode="append",
            evolve=True,
        )
    # a non-nullable added expression is RELAXED to nullable in the
    # manifest (resident files read it as NULL — the schema must admit
    # that), rather than refused
    ss.snap_commit(
        _df(spark, 5, 8).withColumn("flag", F.lit(1)),
        root,
        mode="append",
        evolve=True,
    )
    cur = ss.snap_read(spark, root)
    assert cur.schema["flag"].nullable is True
    assert cur.filter(F.col("flag").isNull()).count() == 5


def test_evolve_composes_with_cdc_and_skipping(spark, tmp_path):
    """The CDC read across an evolution delivers the new files in the
    evolved shape, and pre-evolution blooms keep pruning."""
    root = str(tmp_path / "te3")
    ss.snap_commit(
        _df(spark, 0, 200).repartition(4, "id"), root, bloom_cols=["id"]
    )
    wide = (
        _df(spark, 200, 400)
        .withColumn("note", F.lit("x").cast("string"))
        .repartition(4, "id")
    )
    ss.snap_commit(
        wide, root, mode="append", evolve=True, bloom_cols=["id"]
    )
    delta = ss.snap_read_changes(spark, root, since=0)
    assert delta.columns == ["id", "val", "note"]
    assert delta.count() == 200
    for needle in (50, 350):  # one resident, one appended
        kept, total = ss.snap_prune_files_eq(root, "id", needle)
        assert total == 8 and len(kept) < total
        assert ss.snap_read_where_eq(spark, root, "id", needle).count() == 1


def test_bloom_in_list_plans_union_of_needles(spark, tmp_path):
    """IN-list planning is the union of per-value plans: K needles on a
    hash layout plan ~K files, rows exactly match the full filter."""
    root = str(tmp_path / "tb7")
    ss.snap_commit(
        _df(spark, 0, 2000).repartition(16, "id"), root, bloom_cols=["id"]
    )
    needles = [3, 700, 1543]
    got = sorted(
        (r.id, r.val)
        for r in ss.snap_read_where_in(spark, root, "id", needles).collect()
    )
    assert got == [(n, n * 2) for n in needles]
    # empty list -> empty frame, schema intact
    empty = ss.snap_read_where_in(spark, root, "id", [])
    assert empty.columns == ["id", "val"] and empty.count() == 0


def test_metadata_count_bytes_and_schema_diff(spark, tmp_path):
    """COUNT(*) and table size are manifest lookups (no data scan);
    schema_diff reports add-column evolution across versions."""
    root = str(tmp_path / "tm1")
    ss.snap_commit(_df(spark, 0, 123).repartition(4), root)
    ss.snap_commit(_df(spark, 123, 200).repartition(2), root, mode="append")
    assert ss.snap_count(root) == 200
    assert ss.snap_count(root, 0) == 123  # time-travel count
    assert ss.snap_bytes(root) > ss.snap_bytes(root, 0) > 0
    # metadata count == actual count, also after compaction
    ss.snap_compact(spark, root)
    assert ss.snap_count(root) == ss.snap_read(spark, root).count() == 200

    ss.snap_commit(
        _df(spark, 200, 210).withColumn("note", F.lit("x")),
        root,
        mode="append",
        evolve=True,
    )
    d = ss.snap_schema_diff(root, 0, ss.snap_current_version(root))
    assert d == {"added": [("note", "string")], "removed": [], "changed": []}


def test_vacuum_spares_in_flight_writer_staging(spark, tmp_path):
    """Unreferenced files under writer staging dirs (commit-w-*/-s-*)
    survive vacuum within the grace window (they may belong to an
    in-flight two-phase commit) and are collected as garbage once old."""
    root = str(tmp_path / "tv1")
    ss.snap_commit(_df(spark, 0, 10), root)
    staged = os.path.join(root, "data", "commit-w-deadbeef")
    os.makedirs(staged)
    _df(spark, 100, 105).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "tmpp")
    )
    src = [
        f
        for f in os.listdir(str(tmp_path / "tmpp"))
        if f.endswith(".parquet")
    ][0]
    staged_file = os.path.join(staged, "part-x.parquet")
    os.link(os.path.join(str(tmp_path / "tmpp"), src), staged_file)

    removed = ss.snap_vacuum(root, keep_last=1)
    assert os.path.exists(staged_file)  # in grace window: spared
    assert removed == 0
    # age it past the grace and it is crashed-writer garbage
    old = __import__("time").time() - 3600
    os.utime(staged_file, (old, old))
    removed = ss.snap_vacuum(root, keep_last=1, staged_grace_minutes=15)
    assert removed == 1 and not os.path.exists(staged_file)
    # the store itself is untouched throughout
    assert ss.snap_count(root) == 10


def test_bloom_probe_type_coercion_never_false_drops(spark, tmp_path):
    """A type-sloppy probe (float against a bigint column) must coerce
    to the build-time form or prune nothing — never silently drop files
    that hold the value (review finding r9)."""
    root = str(tmp_path / "tc1")
    ss.snap_commit(
        _df(spark, 0, 400).repartition(8, "id"), root, bloom_cols=["id"]
    )
    # float probe on a long column: coerced to int, still prunes AND hits
    kept, total = ss.snap_prune_files_eq(root, "id", 123.0)
    assert len(kept) < total
    assert ss.snap_read_where_eq(spark, root, "id", 123.0).count() == 1
    # non-integral float: no long row can equal it; empty is correct and
    # the plan must not be a false drop of a real value
    assert ss.snap_read_where_eq(spark, root, "id", 123.5).count() == 0
    # incomparable probe (string against a long column): prunes nothing
    kept, total = ss.snap_prune_files_eq(root, "id", "123")
    assert len(kept) == total
    # bool probe: never hashed (str(True) is not a cast form)
    kept, total = ss.snap_prune_files_eq(root, "id", True)
    assert len(kept) == total


def test_multi_column_blooms_single_commit(spark, tmp_path):
    """Two bloom columns in one commit (built by ONE job) both prune and
    both stay sound."""
    root = str(tmp_path / "tc2")
    df = _df(spark, 0, 1000).withColumn(
        "name", F.concat(F.lit("u"), F.col("id"))
    )
    ss.snap_commit(df.repartition(8, "id"), root, bloom_cols=["id", "name"])
    k1, t1 = ss.snap_prune_files_eq(root, "id", 777)
    k2, t2 = ss.snap_prune_files_eq(root, "name", "u777")
    assert len(k1) < t1 and len(k2) < t2
    assert ss.snap_read_where_eq(spark, root, "id", 777).count() == 1
    assert ss.snap_read_where_eq(spark, root, "name", "u777").count() == 1
    assert ss.snap_read_where_eq(spark, root, "name", "u99999").count() == 0


def test_vacuum_spares_in_flight_helper_commit(spark, tmp_path):
    """A commit-<version>- dir whose version is AHEAD of CURRENT is an
    in-flight snap_commit (its stats/bloom jobs may be running): vacuum
    must not delete its files inside the grace window (review finding
    r9 — the bloom job widens the write->publish window to minutes)."""
    root = str(tmp_path / "tc3")
    ss.snap_commit(_df(spark, 0, 10), root)  # CURRENT = 0
    pending = os.path.join(root, "data", "commit-000000000001-aaaa0000")
    os.makedirs(pending)
    _df(spark, 50, 55).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "tmpq")
    )
    srcf = [
        f for f in os.listdir(str(tmp_path / "tmpq")) if f.endswith(".parquet")
    ][0]
    pf = os.path.join(pending, "part-0.parquet")
    os.link(os.path.join(str(tmp_path / "tmpq"), srcf), pf)
    assert ss.snap_vacuum(root, keep_last=1) == 0
    assert os.path.exists(pf)  # in-flight: spared
    old = __import__("time").time() - 3600
    os.utime(pf, (old, old))
    assert ss.snap_vacuum(root, keep_last=1, staged_grace_minutes=15) == 1
    assert not os.path.exists(pf)  # crashed commit: collected


def test_replay_cursor_survives_untagged_commits(spark, tmp_path):
    """snap_last_int_tag scans back through the lineage: a compaction
    (untagged overwrite) between a published micro-batch and its replay
    must not reset exactly-once (review finding r9)."""
    root = str(tmp_path / "tc4")
    apply_batch = ss.snap_sink(root)
    apply_batch(_df(spark, 0, 10), 0)
    apply_batch(_df(spark, 10, 20), 1)
    ss.snap_compact(spark, root)  # untagged commit on top
    assert ss.snap_tag(root) is None
    assert ss.snap_last_int_tag(root) == 1
    apply_batch(_df(spark, 10, 20), 1)  # replay after compaction: no-op
    assert ss.snap_count(root) == 20
    apply_batch(_df(spark, 20, 25), 2)  # new batch still lands
    assert ss.snap_count(root) == 25


def test_concurrent_committers_occ_retry(spark, tmp_path):
    """A REAL commit race: two threads append concurrently through the
    OCC retry loop. Exactly one loses each version race, retries against
    the advanced parent, and both appends land — no lost update, no
    duplicate, a clean linear lineage."""
    import threading

    root = str(tmp_path / "tr1")
    ss.snap_commit(_df(spark, 0, 10), root)
    barrier = threading.Barrier(2)
    errors = []

    def committer(lo, hi):
        try:
            barrier.wait(timeout=30)
            ss.snap_commit_with_retry(
                _df(spark, lo, hi), root, mode="append"
            )
        except Exception as e:  # pragma: no cover - surfaced below
            errors.append(e)

    t1 = threading.Thread(target=committer, args=(10, 20))
    t2 = threading.Thread(target=committer, args=(20, 30))
    t1.start(); t2.start(); t1.join(60); t2.join(60)
    assert not errors
    assert ss.snap_versions(root) == [0, 1, 2]
    assert {r.id for r in ss.snap_read(spark, root).collect()} == set(range(30))
    assert ss.snap_count(root) == 30


def test_snap_history_timeline(spark, tmp_path):
    root = str(tmp_path / "th1")
    ss.snap_commit(_df(spark, 0, 10), root)
    ss.snap_commit(_df(spark, 10, 15), root, mode="append", tag=7)
    ss.snap_compact(spark, root)
    h = ss.snap_history(root)
    assert [x["version"] for x in h] == [0, 1, 2]
    assert [x["mode"] for x in h] == ["append", "append", "overwrite"]
    assert h[1]["tag"] == 7
    assert [x["rows"] for x in h] == [10, 15, 15]
    assert h[1]["n_new_files"] >= 1
    assert all(x["bytes"] > 0 for x in h)
    # dv + constraint observability: rows is the LIVE count, deleted and
    # constraint counts ride per version
    ss.snap_delete_dv(spark, root, "id < 3")
    ss.snap_add_constraint(spark, root, "id_nonneg", "id >= 0")
    h2 = ss.snap_history(root)
    assert h2[-2]["rows"] == 12 and h2[-2]["n_deleted_rows"] == 3
    assert h2[-1]["n_constraints"] == 1 and h2[-1]["rows"] == 12


# ---------------------------------------------------------------------------
# row-level MERGE / DELETE (copy-on-write)
# ---------------------------------------------------------------------------


def _keyed_commits(spark, root, n_commits=4, rows_per=25):
    """Commit n_commits appends of disjoint key ranges -> many files."""
    for i in range(n_commits):
        ss.snap_commit(
            _df(spark, i * rows_per, (i + 1) * rows_per),
            root,
            mode="append" if i else "append",
        )
    return ss.snap_current_version(root)


def test_merge_upsert_semantics(spark, tmp_path):
    """Update matched rows, insert unmatched, leave the rest; parent
    version still shows pre-merge rows (snapshot isolation)."""
    root = str(tmp_path / "m1")
    v = _keyed_commits(spark, root)
    src = spark.createDataFrame(
        [(3, 999), (50, 888), (1000, 777)], "id long, val long"
    )
    nv = ss.snap_merge(spark, root, src, on=["id"])
    assert nv == v + 1
    cur = {r.id: r.val for r in ss.snap_read(spark, root).collect()}
    assert cur[3] == 999 and cur[50] == 888      # updated
    assert cur[1000] == 777                      # inserted
    assert cur[4] == 8 and cur[99] == 198        # untouched rows intact
    assert len(cur) == 101
    old = {r.id: r.val for r in ss.snap_read(spark, root, v).collect()}
    assert old[3] == 6 and 1000 not in old       # parent pre-merge


def test_merge_rewrites_only_touched_files(spark, tmp_path):
    """COW pruning: files whose key ranges the source never touches must
    survive IN the new manifest byte-identical (same paths), with their
    stats and blooms carried over."""
    root = str(tmp_path / "m2")
    for i in range(4):
        ss.snap_commit(
            _df(spark, i * 25, (i + 1) * 25).coalesce(1),
            root,
            stats_cols=["id"],
            bloom_cols=["id"],
        )
    v = ss.snap_current_version(root)
    # _read_manifest, not raw JSON: works in both inline and
    # detail-sidecar modes (the suite runs under both)
    m_before = ss._read_manifest(root, v)
    src = spark.createDataFrame([(3, 999)], "id long, val long")  # file 0 only
    nv = ss.snap_merge(spark, root, src, on=["id"])
    m_after = ss._read_manifest(root, nv)
    kept = set(m_before["files"]) & set(m_after["files"])
    assert len(kept) == 3, "exactly one file should be rewritten"
    for f in kept:
        assert m_after["file_stats"][f] == m_before["file_stats"][f]
        assert m_after["file_blooms"][f] == m_before["file_blooms"][f]
    # new files were re-profiled with the same config
    new = set(m_after["files"]) - set(m_before["files"])
    assert new and all(f in m_after["file_stats"] for f in new)
    assert all(f in m_after["file_blooms"] for f in new)
    # and the data is right
    cur = {r.id: r.val for r in ss.snap_read(spark, root).collect()}
    assert cur[3] == 999 and len(cur) == 100


def test_merge_delete_and_ignore_clauses(spark, tmp_path):
    root = str(tmp_path / "m3")
    _keyed_commits(spark, root, n_commits=2)
    # delete matched, ignore unmatched
    src = spark.createDataFrame([(0, 0), (7, 0), (400, 0)], "id long, val long")
    ss.snap_merge(spark, root, src, on=["id"],
                  when_matched="delete", when_not_matched="ignore")
    ids = {r.id for r in ss.snap_read(spark, root).collect()}
    assert ids == set(range(50)) - {0, 7}
    # matched=ignore + insert: existing row 1 keeps val, 500 inserted
    src2 = spark.createDataFrame([(1, 12345), (500, 1)], "id long, val long")
    ss.snap_merge(spark, root, src2, on=["id"],
                  when_matched="ignore", when_not_matched="insert")
    cur = {r.id: r.val for r in ss.snap_read(spark, root).collect()}
    assert cur[1] == 2 and cur[500] == 1


def test_merge_validation_and_cdc_refusal(spark, tmp_path):
    root = str(tmp_path / "m4")
    _keyed_commits(spark, root, n_commits=2)
    v = ss.snap_current_version(root)
    dup = spark.createDataFrame([(1, 1), (1, 2)], "id long, val long")
    with pytest.raises(ValueError, match="key-unique"):
        ss.snap_merge(spark, root, dup, on=["id"])
    bad_schema = spark.createDataFrame([(1,)], "id long")
    with pytest.raises(ValueError, match="schema"):
        ss.snap_merge(spark, root, bad_schema, on=["id"])
    with pytest.raises(ValueError, match="no-op"):
        ss.snap_merge(spark, root, dup.limit(1), on=["id"],
                      when_matched="ignore", when_not_matched="ignore")
    ss.snap_merge(
        spark, root, spark.createDataFrame([(1, 9)], "id long, val long"),
        on=["id"],
    )
    with pytest.raises(ValueError, match="overwrite|append"):
        ss.snap_read_changes(spark, root, v)


def test_delete_where_prunes_and_keeps_null_rows(spark, tmp_path):
    """Predicate delete rewrites only matching files; rows where the
    predicate is NULL are NOT deletes and must survive the rewrite."""
    root = str(tmp_path / "m5")
    df1 = spark.createDataFrame(
        [(1, 10), (2, None), (3, 300)], "id long, val long"
    ).coalesce(1)
    df2 = spark.createDataFrame([(10, 5), (11, 6)], "id long, val long").coalesce(1)
    ss.snap_commit(df1, root)
    ss.snap_commit(df2, root, mode="append")
    v = ss.snap_current_version(root)
    # _read_manifest, not raw head JSON: files_in_detail heads
    # legitimately carry no path list
    m_before = ss._read_manifest(root, v)
    nv = ss.snap_delete_where(spark, root, "val > 100")
    m_after = ss._read_manifest(root, nv)
    # second file untouched (no val > 100 there)
    assert len(set(m_before["files"]) & set(m_after["files"])) == 1
    rows = {(r.id, r.val) for r in ss.snap_read(spark, root).collect()}
    assert rows == {(1, 10), (2, None), (10, 5), (11, 6)}
    # no-match delete is a clean no-op version
    nv2 = ss.snap_delete_where(spark, root, "val > 10000")
    assert ss.snap_read(spark, root, nv2).count() == 4


def test_merge_into_empty_store_and_vacuum_after_merge(spark, tmp_path):
    root = str(tmp_path / "m6")
    ss.snap_commit(_df(spark, 0, 0), root)  # empty v0
    src = spark.createDataFrame([(1, 2)], "id long, val long")
    ss.snap_merge(spark, root, src, on=["id"])
    assert {r.id for r in ss.snap_read(spark, root).collect()} == {1}
    # merge again (update), then vacuum to depth 1: store still readable
    ss.snap_merge(
        spark, root, spark.createDataFrame([(1, 5)], "id long, val long"),
        on=["id"],
    )
    ss.snap_vacuum(root, keep_last=1, staged_grace_minutes=0.0)
    assert {(r.id, r.val) for r in ss.snap_read(spark, root).collect()} == {(1, 5)}


def test_vacuum_heartbeat_keeps_slow_commit_alive(spark, tmp_path):
    """Grace is measured from the staged dir's LAST ACTIVITY: data files
    older than the grace survive while a fresh _heartbeat marker shows
    the commit's stats/bloom jobs are still running (r9 advice — vacuum
    could delete a slow commit's early files before publish)."""
    import time

    root = str(tmp_path / "thb")
    ss.snap_commit(_df(spark, 0, 10), root)  # CURRENT = 0
    pending = os.path.join(root, "data", "commit-000000000001-bbbb0000")
    os.makedirs(pending)
    pf = os.path.join(pending, "part-0.parquet")
    with open(pf, "wb") as f:
        f.write(b"x")
    old = time.time() - 3600
    os.utime(pf, (old, old))
    # a fresh heartbeat (the writer just finished a stats job) keeps ALL
    # files in the dir, however old the data itself is
    ss._touch(os.path.join(pending, "_heartbeat"))
    assert ss.snap_vacuum(root, keep_last=1, staged_grace_minutes=15) == 0
    assert os.path.exists(pf)
    # heartbeat gone stale too -> the whole dir is crashed-writer garbage
    os.utime(os.path.join(pending, "_heartbeat"), (old, old))
    assert ss.snap_vacuum(root, keep_last=1, staged_grace_minutes=15) == 1
    assert not os.path.exists(pending)


def test_publish_aborts_retryably_when_staged_files_vacuumed(
    spark, tmp_path, monkeypatch
):
    """If the staged data files vanish before the manifest O_EXCL write
    (a vacuum raced the commit past every grace), publish must abort with
    the retryable error — never publish a manifest of dead files (r9
    advice)."""
    root = str(tmp_path / "tpa")
    ss.snap_commit(_df(spark, 0, 5), root)
    real = ss._collect_file_stats

    def sabotage(spark_, commit_dir, cols):
        out = real(spark_, commit_dir, cols)
        for f in ss._list_parquet(commit_dir):
            os.remove(f)
        return out

    monkeypatch.setattr(ss, "_collect_file_stats", sabotage)
    with pytest.raises(ss.StagedCommitVacuumed):
        ss.snap_commit(_df(spark, 5, 9), root, mode="append", stats_cols=["id"])
    # nothing published: CURRENT still at v0, store fully readable
    assert ss.snap_current_version(root) == 0
    assert ss.snap_read(spark, root).count() == 5
    # and the retry wrapper recovers by re-writing the data
    monkeypatch.setattr(ss, "_collect_file_stats", real)
    v = ss.snap_commit_with_retry(
        _df(spark, 5, 9), root, mode="append", stats_cols=["id"]
    )
    assert v == 1 and ss.snap_read(spark, root).count() == 9


def test_decimal_stats_commit_and_pruning(spark, tmp_path):
    """DecimalType stats_cols must not crash manifest publish (Decimal is
    not JSON-serializable) and range pruning over the directionally-rounded
    float bounds must prune without false drops (r9 advice)."""
    import decimal

    root = str(tmp_path / "tdec")
    df = (
        spark.range(0, 400)
        .select((F.col("id") / 100).cast("decimal(12,2)").alias("amt"), "id")
        .repartitionByRange(8, "amt")
    )
    ss.snap_commit(df, root, stats_cols=["amt"])
    lo, hi = decimal.Decimal("1.00"), decimal.Decimal("1.50")
    kept, total = ss.snap_prune_files(root, "amt", lo, hi)
    assert len(kept) < total  # range-clustered layout: actually prunes
    got = ss.snap_read_between(spark, root, "amt", lo, hi)
    assert got.count() == 51  # 1.00..1.50 inclusive at cent steps
    # equality pruning path with a Decimal probe: sound (finds the row)
    assert (
        ss.snap_read_where_eq(spark, root, "amt", decimal.Decimal("1.25"))
        .count()
        == 1
    )


def test_optimize_zorder_prunes_both_dimensions(spark, tmp_path):
    """snap_optimize(zorder_by=(x, y)) is the OPTIMIZE ZORDER BY of the
    format: after the clustered rewrite, manifest min/max stats prune
    range reads on EITHER column; the random pre-layout prunes ~nothing.
    Readers pinned to the pre-optimize version are untouched."""
    root = str(tmp_path / "opt1")
    n = 20_000
    df = (
        spark.range(n)
        # decorrelated dimensions, written in hash-random order
        .select(
            (F.col("id") % 997).alias("x"),
            ((F.col("id") * 31) % 1009).alias("y"),
        )
        .repartition(16)  # random layout: every file spans ~full ranges
    )
    ss.snap_commit(df, root, stats_cols=["x", "y"])
    kept_x0, total0 = ss.snap_prune_files(root, "x", 100, 120)
    kept_y0, _ = ss.snap_prune_files(root, "y", 100, 120)
    assert len(kept_x0) == total0 and len(kept_y0) == total0  # no pruning

    v = ss.snap_optimize(spark, root, zorder_by=("x", "y"), n_files=16)
    kept_x1, total1 = ss.snap_prune_files(root, "x", 100, 120)
    kept_y1, _ = ss.snap_prune_files(root, "y", 100, 120)
    assert total1 > 1
    assert len(kept_x1) < total1 and len(kept_y1) < total1  # both prune
    # semantics unchanged: same rows, and the pruned read is exact
    assert ss.snap_read(spark, root, v).count() == n
    got = ss.snap_read_between(spark, root, "x", 100, 120).count()
    want = df.filter(F.col("x").between(100, 120)).count()
    assert got == want
    # time travel to the pre-optimize version still reads the old layout
    assert ss.snap_read(spark, root, 0).count() == n


def test_optimize_cluster_by_single_column(spark, tmp_path):
    root = str(tmp_path / "opt2")
    df = spark.range(10_000).select((F.col("id") % 500).alias("k"), "id")
    ss.snap_commit(df.repartition(8), root, stats_cols=["k"])
    ss.snap_optimize(spark, root, cluster_by=["k"], n_files=8)
    kept, total = ss.snap_prune_files(root, "k", 10, 20)
    assert total > 1 and len(kept) < total
    assert ss.snap_read_between(spark, root, "k", 10, 20).count() == 220
    with pytest.raises(ValueError, match="exactly one"):
        ss.snap_optimize(spark, root, cluster_by=["k"], zorder_by=("k", "id"))
    with pytest.raises(ValueError, match="exactly one"):
        ss.snap_optimize(spark, root)


def test_optimize_zorder_on_empty_snapshot_degrades(spark, tmp_path):
    """Clustering an empty (or all-NULL-key) snapshot has no bounds to
    quantize — snap_optimize degrades to a plain compaction commit
    instead of crashing on the missing min/max."""
    root = str(tmp_path / "opt3")
    ss.snap_commit(_df(spark, 0, 0), root)  # empty v0
    v = ss.snap_optimize(spark, root, zorder_by=("id", "val"), n_files=2)
    assert v == 1 and ss.snap_read(spark, root).count() == 0


def test_optimize_zorder_three_columns(spark, tmp_path):
    """zorder_by past two columns routes through the K-dim key: all three
    dimensions prune after the clustered rewrite."""
    root = str(tmp_path / "opt4")
    n = 30_000
    df = (
        spark.range(n)
        .select(
            (F.col("id") % 997).alias("x"),
            ((F.col("id") * 31) % 1009).alias("y"),
            ((F.col("id") * 17) % 503).alias("z"),
        )
        .repartition(16)
    )
    ss.snap_commit(df, root, stats_cols=["x", "y", "z"])
    ss.snap_optimize(spark, root, zorder_by=("x", "y", "z"), n_files=32)
    for col, hi in (("x", 997), ("y", 1009), ("z", 503)):
        kept, total = ss.snap_prune_files(
            root, col, int(hi * 0.4), int(hi * 0.45)
        )
        assert total > 1 and len(kept) < total, col
    got = ss.snap_read_between(spark, root, "z", 100, 120).count()
    assert got == df.filter(F.col("z").between(100, 120)).count()
    with pytest.raises(ValueError, match=">= 2"):
        ss.snap_optimize(spark, root, zorder_by=("x",), n_files=2)
    # conjunctive 3-range read: the planned file set is the INTERSECTION
    # of the per-dimension kept sets — strictly smaller than any single
    # dimension's plan here — and the result is exact
    preds = {"x": (400, 450), "y": (400, 450), "z": (200, 230)}
    per_dim = [
        set(ss.snap_prune_files(root, c, lo, hi)[0])
        for c, (lo, hi) in preds.items()
    ]
    inter = per_dim[0] & per_dim[1] & per_dim[2]
    assert len(inter) < min(len(s) for s in per_dim)
    nd = ss.snap_read_between_nd(spark, root, preds)
    expect = df.filter(
        F.col("x").between(400, 450)
        & F.col("y").between(400, 450)
        & F.col("z").between(200, 230)
    )
    assert sorted(map(tuple, nd.collect())) == sorted(
        map(tuple, expect.collect())
    )
    with pytest.raises(ValueError, match="at least one"):
        ss.snap_read_between_nd(spark, root, {})


def test_expected_parent_rejects_lost_update(spark, tmp_path):
    """snap_commit(expected_parent=V) raises SnapshotConflict when CURRENT
    moved past V — the read-modify-write guard for maintenance commits."""
    root = str(tmp_path / "t_ep")
    ss.snap_commit(_df(spark, 0, 10), root)
    ss.snap_commit(_df(spark, 10, 20), root, mode="append")  # CURRENT -> 1
    with pytest.raises(ss.SnapshotConflict, match="advanced"):
        ss.snap_commit(
            _df(spark, 0, 5), root, mode="overwrite", expected_parent=0
        )
    # matching expectation commits normally
    v = ss.snap_commit(
        _df(spark, 0, 5), root, mode="overwrite", expected_parent=1
    )
    assert v == 2 and ss.snap_read(spark, root).count() == 5


def test_optimize_conflicts_instead_of_erasing_concurrent_append(
    spark, tmp_path, monkeypatch
):
    """The lost-update window: snap_optimize pins a version, runs its
    bounds scan, then overwrites. An append landing DURING the scan must
    surface as SnapshotConflict (Delta's OPTIMIZE conflict), not be
    silently erased by the overwrite. Simulate the interleaving by
    committing the append from inside the optimize's snap_read call."""
    root = str(tmp_path / "t_race")
    ss.snap_commit(_df(spark, 0, 100), root, stats_cols=["id"])

    orig_read = ss.snap_read
    fired = {"done": False}

    def racing_read(sp, r, version=None):
        out = orig_read(sp, r, version)
        if not fired["done"]:
            fired["done"] = True
            # concurrent writer lands an append mid-maintenance-scan
            ss.snap_commit(_df(spark, 100, 110), root, mode="append")
        return out

    monkeypatch.setattr(ss, "snap_read", racing_read)
    with pytest.raises(ss.SnapshotConflict, match="advanced"):
        ss.snap_optimize(spark, root, cluster_by=["id"], n_files=2)
    monkeypatch.undo()
    # the concurrent append SURVIVED (nothing was erased)
    assert ss.snap_read(spark, root).count() == 110
    # and re-running the maintenance loop from scratch now succeeds
    v = ss.snap_optimize(spark, root, cluster_by=["id"], n_files=2)
    assert ss.snap_read(spark, root, v).count() == 110


def test_compact_conflicts_instead_of_erasing_concurrent_append(
    spark, tmp_path, monkeypatch
):
    """snap_compact shares snap_optimize's pin-scan-overwrite shape and
    the same expected_parent guard."""
    root = str(tmp_path / "t_race2")
    ss.snap_commit(_df(spark, 0, 50), root)

    orig_read = ss.snap_read
    fired = {"done": False}

    def racing_read(sp, r, version=None):
        out = orig_read(sp, r, version)
        if not fired["done"]:
            fired["done"] = True
            ss.snap_commit(_df(spark, 50, 60), root, mode="append")
        return out

    monkeypatch.setattr(ss, "snap_read", racing_read)
    with pytest.raises(ss.SnapshotConflict, match="advanced"):
        ss.snap_compact(spark, root)
    monkeypatch.undo()
    assert ss.snap_read(spark, root).count() == 60


def test_optimize_retry_rewinds_the_whole_maintenance_loop(
    spark, tmp_path, monkeypatch
):
    """snap_optimize_with_retry: a conflicting concurrent append makes the
    first attempt raise; the retry re-pins the ADVANCED store, so the
    optimized result contains the concurrent rows (never erased) and the
    rewrite is clustered over the full new snapshot."""
    root = str(tmp_path / "t_retry")
    ss.snap_commit(_df(spark, 0, 100), root, stats_cols=["id"])

    orig_read = ss.snap_read
    fired = {"done": False}

    def racing_read(sp, r, version=None):
        out = orig_read(sp, r, version)
        if not fired["done"]:
            fired["done"] = True
            ss.snap_commit(_df(spark, 100, 120), root, mode="append")
        return out

    monkeypatch.setattr(ss, "snap_read", racing_read)
    v = ss.snap_optimize_with_retry(
        spark, root, cluster_by=["id"], n_files=2
    )
    monkeypatch.undo()
    got = ss.snap_read(spark, root, v)
    assert got.count() == 120
    # and the retry recorded stats over the FULL range incl. the append
    kept, total = ss.snap_prune_files(root, "id", 110, 119, v)
    assert total >= 1 and len(kept) >= 1
    # exhausted retries surface the conflict honestly
    always = {"n": 0}

    def always_racing(sp, r, version=None):
        out = orig_read(sp, r, version)
        ss.snap_commit(_df(spark, 200 + always["n"], 201 + always["n"]),
                       root, mode="append")
        always["n"] += 1
        return out

    monkeypatch.setattr(ss, "snap_read", always_racing)
    with pytest.raises(ss.SnapshotConflict):
        ss.snap_compact_with_retry(spark, root, max_retries=2)


def test_read_where_mixed_eq_and_range(spark, tmp_path):
    """snap_read_where composes bloom point-lookup pruning with range
    pruning in ONE plan: the kept set is the intersection, the residual
    conjunction is exact, and a hash+range-clustered write prunes on
    both predicates."""
    root = str(tmp_path / "t_mixed")
    n = 20_000
    df = (
        spark.range(n)
        .select(
            (F.col("id") % 500).alias("k"),
            F.col("id").alias("seq"),
            (F.col("id") * 3).alias("payload"),
        )
        .repartition(8, "k")
        .sortWithinPartitions("seq")
    )
    ss.snap_commit(df, root, stats_cols=["seq"], bloom_cols=["k"])
    out = ss.snap_read_where(
        spark, root, {"k": ("eq", 123), "seq": ("between", 0, 9_999)}
    )
    expect = df.filter((F.col("k") == 123) & F.col("seq").between(0, 9_999))
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, expect.collect())
    )
    # the mixed plan keeps no more files than either predicate alone; on
    # this hash-clustered-by-k layout the BLOOM is what prunes (seq
    # stripes across every file, so range pruning correctly keeps all)
    eq_only = set(ss.snap_prune_files_eq(root, "k", 123)[0])
    rng_only = set(ss.snap_prune_files(root, "seq", 0, 9_999)[0])
    both = eq_only & rng_only
    assert len(both) <= min(len(eq_only), len(rng_only))
    assert len(eq_only) < ss.snap_prune_files_eq(root, "k", 123)[1]
    # validation honesty
    with pytest.raises(ValueError, match="at least one"):
        ss.snap_read_where(spark, root, {})
    with pytest.raises(ValueError, match="unknown predicate"):
        ss.snap_read_where(spark, root, {"k": ("like", "x")})
    with pytest.raises(ValueError, match="never true"):
        ss.snap_read_where(spark, root, {"k": ("eq", None)})
    # empty intersection returns a typed empty frame
    empty = ss.snap_read_where(
        spark, root, {"seq": ("between", n + 10, n + 20)}
    )
    assert empty.count() == 0 and empty.columns == ["k", "seq", "payload"]


def test_read_where_in_composes_with_range(spark, tmp_path):
    """('in', [...]) unions the per-value equality plans within the
    predicate, then intersects with the other predicates; empty IN list
    matches nothing; NULL inside the list is rejected honestly."""
    root = str(tmp_path / "t_in")
    df = (
        spark.range(10_000)
        .select(
            (F.col("id") % 200).alias("k"),
            F.col("id").alias("seq"),
        )
        .repartition(8, "k")
    )
    ss.snap_commit(df, root, stats_cols=["seq"], bloom_cols=["k"])
    out = ss.snap_read_where(
        spark, root,
        {"k": ("in", [7, 8, 9]), "seq": ("between", 0, 4_999)},
    )
    expect = df.filter(F.col("k").isin(7, 8, 9) & F.col("seq").between(0, 4_999))
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, expect.collect())
    )
    assert ss.snap_read_where(spark, root, {"k": ("in", [])}).count() == 0
    with pytest.raises(ValueError, match="NULL inside"):
        ss.snap_read_where(spark, root, {"k": ("in", [1, None])})


def test_layout_report_detects_clustering_and_small_files(spark, tmp_path):
    """avg_stab reads ~n_files on a random layout and ~1 after a
    clustered optimize; small_file_fraction flags the bin-pack pathology;
    all from manifest metadata (no data scan)."""
    root = str(tmp_path / "t_layout")
    df = spark.range(40_000).select(
        (F.xxhash64("id") % 1000).alias("x"), F.col("id").alias("seq")
    )
    ss.snap_commit(df.repartition(16), root, stats_cols=["x"])
    before = ss.snap_layout_report(root)
    assert before["n_files"] == 16
    assert before["small_file_fraction"] == 1.0  # tiny files vs 256MB target
    assert before["columns"]["x"]["avg_stab"] > 12  # random: ~all overlap
    v = ss.snap_optimize(spark, root, cluster_by=["x"], n_files=16)
    after = ss.snap_layout_report(root, version=v)
    assert after["columns"]["x"]["avg_stab"] < 2.0  # clustered: ~disjoint
    # degenerate single-value column: total overlap reported honestly
    root2 = str(tmp_path / "t_layout2")
    ss.snap_commit(
        spark.range(100).select(F.lit(7).alias("c")).repartition(4),
        root2, stats_cols=["c"],
    )
    rep = ss.snap_layout_report(root2)
    assert rep["columns"]["c"]["avg_stab"] == 4.0


def test_delete_dv_merge_on_read_roundtrip(spark, tmp_path):
    """Merge-on-read DELETE: rows vanish from every read path without any
    data-file rewrite; COUNT(*) stays footer arithmetic; time travel to
    the parent still sees them; repeated/overlapping deletes never
    double-record."""
    root = str(tmp_path / "t_dv")
    ss.snap_commit(
        _df(spark, 0, 100).repartition(4), root, stats_cols=["id"],
        bloom_cols=["id"],
    )
    files_before = list(ss._read_manifest(root, 0)["files"])
    v1 = ss.snap_delete_dv(spark, root, F.col("id") < 10)
    assert v1 == 1
    m1 = ss._read_manifest(root, v1)
    assert m1["files"] == files_before  # no data rewrite
    assert m1["dv_files"]
    assert ss.snap_count(root) == 90
    assert {r.id for r in ss.snap_read(spark, root).collect()} == set(
        range(10, 100)
    )
    # time travel: the parent version still has every row
    assert ss.snap_read(spark, root, 0).count() == 100
    # overlapping delete: id < 20 re-matches only the LIVE 10..19
    ss.snap_delete_dv(spark, root, F.col("id") < 20)
    assert ss.snap_count(root) == 80
    assert ss.snap_read(spark, root).count() == 80
    # pruned read paths apply the dv too
    assert ss.snap_read_between(spark, root, "id", 0, 29).count() == 10
    assert ss.snap_read_where_eq(spark, root, "id", 15).count() == 0
    assert ss.snap_read_where(
        spark, root, {"id": ("in", [5, 25, 35])}
    ).count() == 2
    # deletes survive appends; appended rows are untouched
    ss.snap_commit(_df(spark, 100, 110), root, mode="append")
    assert ss.snap_count(root) == 90
    # CDC refuses a window crossing the dv-delete (mode merge)
    with pytest.raises(ValueError, match="not an append set"):
        ss.snap_read_changes(spark, root, since=0)


def test_delete_dv_materializes_on_rewrite_and_vacuums(spark, tmp_path):
    """Copy-on-write rewrites consolidate or retire deletion vectors:
    compaction materializes the deletes (dv_files resets), a partial COW
    delete keeps only untouched files' entries, and vacuum retires
    unreferenced dv sidecars while keeping referenced ones."""
    root = str(tmp_path / "t_dv2")
    ss.snap_commit(_df(spark, 0, 100).repartition(4), root)
    ss.snap_delete_dv(spark, root, "id % 10 = 0")  # 10 rows out
    assert ss.snap_count(root) == 90
    # COW delete of a disjoint slice: dv entries for touched files are
    # consolidated away; the dv-deleted rows must NOT resurrect
    ss.snap_delete_where(spark, root, F.col("id").between(50, 59))
    got = {r.id for r in ss.snap_read(spark, root).collect()}
    assert got == {
        i for i in range(100) if i % 10 != 0 and not (50 <= i <= 59)
    }
    assert ss.snap_count(root) == len(got)
    # compaction materializes: no dv_files on the new version, data same
    v = ss.snap_compact(spark, root)
    assert ss._read_manifest(root, v)["dv_files"] == []
    assert {r.id for r in ss.snap_read(spark, root, v).collect()} == got
    # vacuum to the compacted version: stale dv sidecars are retired and
    # every retained read still works
    ss.snap_vacuum(root, keep_last=1)
    assert {r.id for r in ss.snap_read(spark, root).collect()} == got


def test_delete_dv_merge_does_not_resurrect(spark, tmp_path):
    """A MERGE rewriting a dv-carrying file must not resurrect its
    deleted rows (the rewrite reads through the DV-applied frame)."""
    root = str(tmp_path / "t_dv3")
    ss.snap_commit(_df(spark, 0, 20).coalesce(1), root)
    ss.snap_delete_dv(spark, root, "id = 7")
    src = spark.createDataFrame([(5, 999)], "id long, val long")
    ss.snap_merge(spark, root, src, on=["id"])
    rows = {r.id: r.val for r in ss.snap_read(spark, root).collect()}
    assert 7 not in rows and rows[5] == 999 and len(rows) == 19
    # vacuum keeps the still-referenced dv of retained versions
    ss.snap_vacuum(root, keep_last=2)
    assert ss.snap_read(spark, root).count() == 19


def test_delete_dv_zero_match_and_conflict(spark, tmp_path, monkeypatch):
    """A no-match delete publishes an empty-dv version (audit trail, no
    sidecar); a concurrent commit during the matching scan conflicts."""
    root = str(tmp_path / "t_dv4")
    ss.snap_commit(_df(spark, 0, 10), root)
    v = ss.snap_delete_dv(spark, root, "id > 1000")
    assert v == 1 and ss._read_manifest(root, v)["dv_files"] == []
    assert ss.snap_count(root) == 10

    orig = ss._source_frame_with_meta
    fired = {"done": False}

    def racing(sp, m, files=None):
        out = orig(sp, m, files)
        if not fired["done"]:
            fired["done"] = True
            ss.snap_commit(_df(spark, 10, 20), root, mode="append")
        return out

    monkeypatch.setattr(ss, "_source_frame_with_meta", racing)
    with pytest.raises(ss.SnapshotConflict):
        ss.snap_delete_dv(spark, root, "id < 5")
    monkeypatch.undo()
    assert ss.snap_count(root) == 20  # the append survived


def test_update_where_cow_semantics(spark, tmp_path):
    """UPDATE ... SET: only matching rows change (expressions see the
    pre-update row), untouched files survive verbatim, dv-deleted rows
    are neither updated nor resurrected, snapshot isolation holds, and
    unknown target columns are rejected."""
    root = str(tmp_path / "t_upd")
    ss.snap_commit(_df(spark, 0, 100).repartition(4), root)
    ss.snap_delete_dv(spark, root, "id = 5")
    v = ss.snap_update_where(
        spark, root, "id < 10", {"val": "val + 1000"}
    )
    rows = {r.id: r.val for r in ss.snap_read(spark, root, v).collect()}
    assert 5 not in rows and len(rows) == 99
    assert rows[3] == 3 * 2 + 1000 and rows[50] == 100
    # pre-update snapshot still reads the old values
    old = {r.id: r.val for r in ss.snap_read(spark, root, 1).collect()}
    assert old[3] == 6
    # swap expression sees pre-update row state
    v2 = ss.snap_update_where(
        spark, root, "id = 20", {"id": "val", "val": "id"}
    )
    pairs = {(r.id, r.val) for r in ss.snap_read(spark, root, v2).collect()}
    assert (40, 20) in pairs and (20, 40) not in pairs  # true swap
    with pytest.raises(ValueError, match="unknown columns"):
        ss.snap_update_where(spark, root, "id = 1", {"nope": "1"})
    # no-match update: clean commit, nothing changes
    v3 = ss.snap_update_where(spark, root, "id > 10000", {"val": "0"})
    assert ss.snap_read(spark, root, v3).count() == 99
    # CDC refuses across the update (merge mode)
    with pytest.raises(ValueError, match="not an append set"):
        ss.snap_read_changes(spark, root, since=0)


def test_restore_rolls_back_as_a_new_commit(spark, tmp_path):
    """RESTORE semantics: rollback is itself a version (auditable,
    re-restorable), zero data copied, dv state restored too, and a
    restore to a vacuumed version fails honestly."""
    root = str(tmp_path / "t_restore")
    ss.snap_commit(_df(spark, 0, 50), root)            # v0
    ss.snap_delete_dv(spark, root, "id < 5")           # v1: 45 rows
    ss.snap_commit(_df(spark, 50, 60), root, "append")  # v2: 55 rows
    ss.snap_commit(_df(spark, 0, 3), root, "overwrite")  # v3: 3 rows
    v4 = ss.snap_restore(root, 1)
    assert v4 == 4
    assert ss.snap_count(root) == 45  # dv state came back with it
    assert {r.id for r in ss.snap_read(spark, root).collect()} == set(
        range(5, 50)
    )
    # the rollback is in the history and the pre-restore version readable
    assert ss.snap_read(spark, root, 3).count() == 3
    assert ss._read_manifest(root, 4)["tag"] == "restore:1"
    # restore the restore (back to v3's 3 rows)
    ss.snap_restore(root, 3)
    assert ss.snap_count(root) == 3
    # vacuum away the early versions, then restoring to them refuses
    ss.snap_vacuum(root, keep_last=1)
    with pytest.raises(FileNotFoundError):
        ss.snap_restore(root, 0)


def test_write_audit_publish_roundtrip(spark, tmp_path):
    """WAP: staged commits are invisible to readers, the audit reads the
    staged frame, publish lands atomically through the normal gates, and
    an aborted stage leaves no trace."""
    root = str(tmp_path / "t_wap")
    ss.snap_commit(_df(spark, 0, 10), root)
    sid = ss.snap_stage(_df(spark, 10, 30), root, stats_cols=["id"])
    # invisible until published
    assert ss.snap_read(spark, root).count() == 10
    assert ss.snap_current_version(root) == 0
    # audit phase sees exactly the staged rows
    staged = ss.snap_read_staged(spark, root, sid)
    assert {r.id for r in staged.collect()} == set(range(10, 30))
    v = ss.snap_publish_staged(root, sid, mode="append")
    assert v == 1 and ss.snap_read(spark, root).count() == 30
    # published stats drive skipping like any commit's
    kept, total = ss.snap_prune_files(root, "id", 25, 27)
    assert total >= 1 and len(kept) <= total
    # the staged marker is gone; double-publish refuses honestly
    with pytest.raises(FileNotFoundError):
        ss.snap_publish_staged(root, sid)

    # failed audit -> abort: files and marker removed, store untouched
    sid2 = ss.snap_stage(_df(spark, 990, 995), root)
    d2 = ss._read_staged(root, sid2)["commit_dir"]
    ss.snap_abort_staged(root, sid2)
    assert not os.path.exists(d2)
    assert ss.snap_read(spark, root).count() == 30

    # schema gate applies at PUBLISH time (the whole point of the gate)
    bad = spark.range(3).select(F.col("id").cast("string").alias("id2"))
    sid3 = ss.snap_stage(bad, root)
    with pytest.raises(ValueError, match="schema mismatch"):
        ss.snap_publish_staged(root, sid3, mode="append")
    ss.snap_abort_staged(root, sid3)

    # expected_parent guard: a commit landing mid-audit conflicts, the
    # staged data survives, and a re-resolved publish succeeds
    sid4 = ss.snap_stage(_df(spark, 30, 35), root)
    pinned = ss.snap_current_version(root)
    ss.snap_commit(_df(spark, 100, 101), root, mode="append")
    with pytest.raises(ss.SnapshotConflict):
        ss.snap_publish_staged(root, sid4, expected_parent=pinned)
    v2 = ss.snap_publish_staged(
        root, sid4, expected_parent=ss.snap_current_version(root)
    )
    assert ss.snap_read(spark, root, v2).count() == 36


def test_staged_commit_respected_by_vacuum_and_versions(spark, tmp_path):
    """A fresh staged dir survives vacuum (staged grace), and staged
    markers never corrupt the version listing."""
    root = str(tmp_path / "t_wap2")
    ss.snap_commit(_df(spark, 0, 10), root)
    sid = ss.snap_stage(_df(spark, 10, 20), root)
    assert ss.snap_versions(root) == [0]
    ss.snap_vacuum(root, keep_last=1)
    # staged data still publishable after the vacuum
    v = ss.snap_publish_staged(root, sid, mode="append")
    assert ss.snap_read(spark, root, v).count() == 20


def test_auto_optimize_measure_then_maintain(spark, tmp_path):
    """snap_auto_optimize rewrites only when the manifest says it pays:
    random layout -> optimize; already-clustered full files -> noop;
    clustered but shattered -> compact. The decision record carries the
    measured report."""
    root = str(tmp_path / "t_auto")
    df = spark.range(40_000).select(
        (F.xxhash64("id") % 1000).alias("x"), F.col("id").alias("seq")
    )
    ss.snap_commit(df.repartition(16), root, stats_cols=["x"])
    r1 = ss.snap_auto_optimize(spark, root, cluster_by=["x"], n_files=4)
    assert r1["action"] == "optimize" and r1["version"] is not None
    assert r1["report"]["columns"]["x"]["avg_stab"] > 4.0
    # second pass: clustered now -> no layout rewrite; the toy files are
    # inevitably "small" vs any MB-scale target, so lift the small-file
    # threshold out of the way to observe the clean noop
    r2 = ss.snap_auto_optimize(
        spark, root, cluster_by=["x"], small_file_threshold=1.1, n_files=4
    )
    assert r2["action"] == "noop" and r2["version"] is None
    # shatter into many tiny files WITHOUT losing clustering: compact path
    clustered = ss.snap_read(spark, root).repartitionByRange(
        32, "x"
    ).sortWithinPartitions("x")
    ss.snap_commit(clustered, root, mode="overwrite", stats_cols=["x"])
    r3 = ss.snap_auto_optimize(spark, root, cluster_by=["x"], n_files=4)
    assert r3["action"] == "compact"
    assert ss.snap_layout_report(root)["n_files"] < 32
    with pytest.raises(ValueError, match="cluster_by or zorder_by"):
        ss.snap_auto_optimize(spark, root)


def test_check_constraints_gate_every_data_path(spark, tmp_path):
    """Delta-style table CHECK constraints: existing data validated at
    ADD time, appends/UPDATE/MERGE/staged publishes validated in one
    fused aggregation (NULL satisfies — SQL CHECK semantics), overwrite
    drops them, CDC survives the metadata commits."""
    root = str(tmp_path / "t_chk")
    ss.snap_commit(_df(spark, 0, 50), root)
    v = ss.snap_add_constraint(spark, root, "val_nonneg", "val >= 0")
    assert v == 1
    # adding a constraint existing data violates refuses up front
    with pytest.raises(ss.ConstraintViolation, match="val_small"):
        ss.snap_add_constraint(spark, root, "val_small", "val < 10")
    # violating append names constraint + count; nothing published
    bad = spark.createDataFrame([(1, -5), (2, -7)], "id long, val long")
    with pytest.raises(ss.ConstraintViolation, match="val_nonneg.*2 row"):
        ss.snap_commit(bad, root, mode="append")
    assert ss.snap_current_version(root) == 1
    # NULL satisfies (SQL CHECK); valid append passes
    ok = spark.createDataFrame([(100, None), (101, 8)], "id long, val long")
    ss.snap_commit(ok, root, mode="append")
    assert ss.snap_count(root) == 52
    # UPDATE producing a violation is rejected (COW rewrite validates)
    with pytest.raises(ss.ConstraintViolation, match="val_nonneg"):
        ss.snap_update_where(spark, root, "id = 3", {"val": "-1"})
    # MERGE inserting valid rows passes; constraint survives the rewrite
    src = spark.createDataFrame([(200, 4)], "id long, val long")
    ss.snap_merge(spark, root, src, on=["id"])
    assert "val_nonneg" in ss._read_manifest(
        root, ss.snap_current_version(root)
    )["constraints"]
    # staged publish validates too
    sid = ss.snap_stage(bad, root)
    with pytest.raises(ss.ConstraintViolation):
        ss.snap_publish_staged(root, sid, mode="append")
    ss.snap_abort_staged(root, sid)
    # drop, then the bad append lands; overwrite clears constraints
    ss.snap_drop_constraint(root, "val_nonneg")
    ss.snap_commit(bad, root, mode="append")
    ss.snap_commit(_df(spark, 0, 3), root, mode="overwrite")
    assert ss._read_manifest(
        root, ss.snap_current_version(root)
    )["constraints"] == {}
    with pytest.raises(ValueError, match="no constraint"):
        ss.snap_drop_constraint(root, "val_nonneg")


def test_named_refs_pin_reads_and_survive_vacuum(spark, tmp_path):
    """Iceberg-style named refs: read/restore by meaning, vacuum retains
    ref'd versions and their files regardless of keep_last, moving a ref
    is atomic, deleting it releases the pin."""
    root = str(tmp_path / "t_refs")
    ss.snap_commit(_df(spark, 0, 10), root)             # v0
    ss.snap_set_ref(root, "prod")                       # prod -> 0
    ss.snap_commit(_df(spark, 50, 60), root, "overwrite")  # v1
    ss.snap_commit(_df(spark, 60, 70), root, "append")     # v2
    assert ss.snap_refs(root) == {"prod": 0}
    assert {r.id for r in ss.snap_read(spark, root, "prod").collect()} == set(
        range(10)
    )
    # vacuum keeps the ref'd v0 alive even with keep_last=1
    ss.snap_vacuum(root, keep_last=1)
    assert 0 in ss.snap_versions(root)
    assert ss.snap_read(spark, root, "prod").count() == 10
    # restore by ref
    v = ss.snap_restore(root, "prod")
    assert ss.snap_read(spark, root, v).count() == 10
    # move the ref (promote-after-audit), then delete releases the pin
    ss.snap_set_ref(root, "prod", v)
    assert ss.snap_refs(root)["prod"] == v
    ss.snap_delete_ref(root, "prod")
    ss.snap_vacuum(root, keep_last=1)
    assert ss.snap_versions(root) == [v]
    with pytest.raises(FileNotFoundError):
        ss.snap_read(spark, root, "prod")
    with pytest.raises(ValueError, match="invalid ref"):
        ss.snap_set_ref(root, "bad/name")
    with pytest.raises(FileNotFoundError):
        ss.snap_delete_ref(root, "prod")


def test_constraints_survive_maintenance_rewrites(spark, tmp_path):
    """Routine maintenance (compact / optimize — any pinned overwrite)
    must carry table CHECK constraints forward, like Delta's OPTIMIZE:
    a violating append AFTER a compaction still refuses. Only an
    explicit user overwrite drops them."""
    root = str(tmp_path / "t_chk_maint")
    ss.snap_commit(_df(spark, 0, 40), root)
    ss.snap_add_constraint(spark, root, "val_nonneg", "val >= 0")
    bad = spark.createDataFrame([(1, -5)], "id long, val long")

    ss.snap_compact(spark, root, target_file_mb=64)
    assert "val_nonneg" in ss._read_manifest(
        root, ss.snap_current_version(root)
    )["constraints"]
    with pytest.raises(ss.ConstraintViolation, match="val_nonneg"):
        ss.snap_commit(bad, root, mode="append")

    ss.snap_optimize(spark, root, cluster_by=["id"], n_files=2)
    assert "val_nonneg" in ss._read_manifest(
        root, ss.snap_current_version(root)
    )["constraints"]
    with pytest.raises(ss.ConstraintViolation, match="val_nonneg"):
        ss.snap_commit(bad, root, mode="append")

    # explicit user overwrite (no pinned parent) is a new shape: drops
    ss.snap_commit(_df(spark, 0, 3), root, mode="overwrite")
    assert ss._read_manifest(
        root, ss.snap_current_version(root)
    )["constraints"] == {}
    ss.snap_commit(bad, root, mode="append")  # no longer gated


def test_restore_preserves_constraints(spark, tmp_path):
    """RESTORE restores versioned METADATA (Delta semantics): rolling
    back to a constraint-carrying version brings its CHECKs back; rolling
    back to a pre-constraint version clears them."""
    root = str(tmp_path / "t_chk_restore")
    ss.snap_commit(_df(spark, 0, 20), root)                       # v0
    v1 = ss.snap_add_constraint(spark, root, "val_nonneg", "val >= 0")
    ss.snap_commit(_df(spark, 100, 105), root, mode="overwrite")  # v2 drops
    bad = spark.createDataFrame([(1, -5)], "id long, val long")
    ss.snap_commit(bad, root, mode="append")                      # v3 ok

    v4 = ss.snap_restore(root, v1)
    assert "val_nonneg" in ss._read_manifest(root, v4)["constraints"]
    with pytest.raises(ss.ConstraintViolation, match="val_nonneg"):
        ss.snap_commit(bad, root, mode="append")
    # restore to the pre-constraint v0 clears them again
    v5 = ss.snap_restore(root, 0)
    assert ss._read_manifest(root, v5)["constraints"] == {}
    ss.snap_commit(bad, root, mode="append")


def test_dv_survives_percent_encoded_paths(spark, tmp_path):
    """_metadata.file_path percent-encodes special chars (``/a b`` ->
    ``file:/a%20b``) while manifests hold real OS paths. DV entries must
    still match after normalization: a COW rewrite of an UNRELATED file
    must not resurrect dv-deleted rows of untouched files, and the
    format('snapstore') reader must mask them too."""
    from wsspark.snapsource import register

    root = str(tmp_path / "enc dir+x" / "t_dv")
    # two files, ids split so an update touches only one of them
    lo = _df(spark, 0, 10).repartition(1)
    hi = _df(spark, 10, 20).repartition(1)
    ss.snap_commit(lo, root)
    ss.snap_commit(hi, root, mode="append")
    # dv-delete a row that lives in the lo file
    ss.snap_delete_dv(spark, root, "id = 3")
    assert {r.id for r in ss.snap_read(spark, root).collect()} == (
        set(range(20)) - {3}
    )
    # COW rewrite touching ONLY the hi file: the lo file's dv entry must
    # survive consolidation (pre-fix the %20 path never matched and the
    # deleted row resurrected)
    ss.snap_update_where(spark, root, "id = 15", {"val": "999"})
    got = {r.id for r in ss.snap_read(spark, root).collect()}
    assert got == set(range(20)) - {3}
    assert ss.snap_count(root) == 19
    # the Python Data Source read path normalizes identically
    register(spark)
    src = spark.read.format("snapstore").load(root)
    assert {r.id for r in src.collect()} == set(range(20)) - {3}


def test_snap_sink_surfaces_constraint_violation_mid_stream(spark, tmp_path):
    """A violating micro-batch through the exactly-once foreachBatch sink
    must fail BEFORE its tagged manifest publishes: no partial batch, the
    replay cursor (the tag) not advanced — and after dropping the
    constraint, a restart from the same checkpoint replays the batch
    cleanly exactly once."""
    import pyspark.errors

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    root = str(tmp_path / "t_chk_sink")
    ss.snap_commit(_df(spark, 0, 10), root)
    ss.snap_add_constraint(spark, root, "val_nonneg", "val >= 0")
    v_before = ss.snap_current_version(root)
    bad = spark.createDataFrame([(100, -1)], "id long, val long")
    bad.coalesce(1).write.parquet(src)

    def run():
        q = (
            spark.readStream.schema("id long, val long")
            .parquet(src)
            .writeStream.foreachBatch(ss.snap_sink(root))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    with pytest.raises(pyspark.errors.StreamingQueryException) as exc:
        run()
    assert "val_nonneg" in str(exc.value)
    # nothing published: version unchanged, cursor (tag) not advanced
    assert ss.snap_current_version(root) == v_before
    assert ss.snap_last_int_tag(root) is None
    assert ss.snap_count(root) == 10
    # fix the table contract, restart from the SAME checkpoint: the
    # replayed batch lands exactly once
    ss.snap_drop_constraint(root, "val_nonneg")
    run()
    assert ss.snap_count(root) == 11
    assert ss.snap_last_int_tag(root) == 0
    run()  # idempotent: a further restart replays nothing
    assert ss.snap_count(root) == 11


def test_change_data_feed_roundtrip(spark, tmp_path):
    """Delta-style CHANGE DATA FEED: after snap_enable_cdf, every DML
    commit records its changed rows; snap_read_changes_cdf serves
    row-level deltas across append / UPDATE / DELETE (COW and DV) /
    MERGE / compaction — with honest refusals for pre-enable DML, user
    overwrites, and restores."""
    root = str(tmp_path / "t_cdf")
    ss.snap_commit(_df(spark, 0, 10), root)                        # v0
    v_en = ss.snap_enable_cdf(root)                                # v1
    ss.snap_commit(_df(spark, 10, 14), root, mode="append")        # v2
    ss.snap_update_where(spark, root, "id = 3", {"val": "val + 100"})  # v3
    ss.snap_delete_where(spark, root, "id IN (11, 12)")            # v4
    ss.snap_delete_dv(spark, root, "id = 0")                       # v5
    src = spark.createDataFrame(
        [(5, 555), (99, 99)], "id long, val long"
    )
    ss.snap_merge(spark, root, src, on=["id"])                     # v6
    ss.snap_compact(spark, root, target_file_mb=64)                # v7

    feed = ss.snap_read_changes_cdf(spark, root, v_en)
    got = sorted(
        (r.id, r.val, r._change_type, r._commit_version)
        for r in feed.collect()
    )
    assert got == sorted(
        [(i, i * 2, "insert", 2) for i in range(10, 14)]
        + [(3, 6, "update_preimage", 3), (3, 106, "update_postimage", 3)]
        + [(11, 22, "delete", 4), (12, 24, "delete", 4)]
        + [(0, 0, "delete", 5)]
        + [
            (5, 10, "update_preimage", 6),
            (5, 555, "update_postimage", 6),
            (99, 99, "insert", 6),
        ]
    )
    # the feed REPLAYS to the current state: apply it to the v_en
    # snapshot and compare against CURRENT
    state = {r.id: r.val for r in ss.snap_read(spark, root, v_en).collect()}
    for _id, _val, kind, _v in sorted(got, key=lambda t: t[3]):
        if kind in ("insert", "update_postimage"):
            state[_id] = _val
        elif kind == "delete":
            del state[_id]
    assert state == {
        r.id: r.val for r in ss.snap_read(spark, root).collect()
    }
    # sub-span reads work; compaction contributes nothing
    assert ss.snap_read_changes_cdf(spark, root, 6, 7).count() == 0
    assert ss.snap_read_changes_cdf(spark, root, 4, 5).count() == 1

    # refusals: pre-enable DML has no sidecar
    root2 = str(tmp_path / "t_cdf2")
    ss.snap_commit(_df(spark, 0, 5), root2)
    ss.snap_delete_where(spark, root2, "id = 1")
    ss.snap_enable_cdf(root2)
    with pytest.raises(ValueError, match="before the change data feed"):
        ss.snap_read_changes_cdf(spark, root2, 0)
    # user overwrite and restore are lineage resets
    ss.snap_commit(_df(spark, 50, 55), root2, mode="overwrite")
    with pytest.raises(ValueError, match="lineage reset"):
        ss.snap_read_changes_cdf(spark, root2, 2)
    # overwrite drops the flag (a new shape re-opts-in); re-enable works
    assert not ss._read_manifest(
        root2, ss.snap_current_version(root2)
    )["cdf"]
    v4 = ss.snap_enable_cdf(root2)
    ss.snap_restore(root2, v4)  # v5: rolls back to the cdf-on version
    with pytest.raises(ValueError, match="lineage reset"):
        ss.snap_read_changes_cdf(spark, root2, 4)
    with pytest.raises(ValueError, match="already enabled"):
        ss.snap_enable_cdf(root2)  # restore carried the flag
    v_dis = ss.snap_disable_cdf(root2)
    assert not ss._read_manifest(root2, v_dis)["cdf"]


def test_cdf_sidecars_survive_vacuum_and_evolution(spark, tmp_path):
    """CDF sidecar files are manifest-referenced: vacuum must keep them
    while their version is retained; add-column evolution inside the
    span pads pre-evolution feed rows with NULL."""
    root = str(tmp_path / "t_cdf_vac")
    ss.snap_commit(_df(spark, 0, 8), root)                        # v0
    ss.snap_enable_cdf(root)                                      # v1
    ss.snap_update_where(spark, root, "id = 2", {"val": "0"})     # v2
    noted = spark.createDataFrame(
        [(100, 1, "x")], "id long, val long, note string"
    )
    ss.snap_commit(noted, root, mode="append", evolve=True)       # v3
    ss.snap_vacuum(root, keep_last=3, staged_grace_minutes=0)     # v1..v3 kept
    feed = ss.snap_read_changes_cdf(spark, root, 1, 3)
    rows = {(r.id, r.val, r.note, r._change_type) for r in feed.collect()}
    assert rows == {
        (2, 4, None, "update_preimage"),
        (2, 0, None, "update_postimage"),
        (100, 1, "x", "insert"),
    }


def test_merge_matched_condition_gates_per_row(spark, tmp_path):
    """Delta's whenMatchedUpdate(condition=...): the matched clause
    applies only where the extra predicate holds on the STORE row;
    failing matched rows survive unchanged — for update and delete."""
    root = str(tmp_path / "t_mc")
    ss.snap_commit(_df(spark, 0, 6), root)  # vals id*2: 0,2,4,6,8,10
    src = spark.createDataFrame(
        [(1, 111), (2, 222), (9, 999)], "id long, val long"
    )
    # update only matched rows whose current val > 3: id=1 (val 2) fails,
    # id=2 (val 4) passes; id=9 inserts
    ss.snap_merge(
        spark, root, src, on=["id"], matched_condition="val > 3"
    )
    got = {r.id: r.val for r in ss.snap_read(spark, root).collect()}
    assert got == {0: 0, 1: 2, 2: 222, 3: 6, 4: 8, 5: 10, 9: 999}
    # conditional delete: drop matched rows with val >= 8 only
    src2 = spark.createDataFrame(
        [(4, 0), (5, 0), (1, 0)], "id long, val long"
    )
    ss.snap_merge(
        spark,
        root,
        src2,
        on=["id"],
        when_matched="delete",
        when_not_matched="ignore",
        matched_condition="val >= 8",
    )
    got = {r.id: r.val for r in ss.snap_read(spark, root).collect()}
    assert got == {0: 0, 1: 2, 2: 222, 3: 6, 9: 999}
    with pytest.raises(ValueError, match="no effect"):
        ss.snap_merge(
            spark, root, src2, on=["id"],
            when_matched="ignore", matched_condition="val > 0",
        )


def test_merge_not_matched_by_source_full_sync(spark, tmp_path):
    """whenNotMatchedBySource='delete': the store mirrors the source key
    set — unmatched store rows drop, matched update, new keys insert;
    the change feed records the by-source deletes too."""
    root = str(tmp_path / "t_bysrc")
    ss.snap_commit(_df(spark, 0, 5), root)
    ss.snap_enable_cdf(root)
    src = spark.createDataFrame(
        [(1, 111), (3, 333), (7, 777)], "id long, val long"
    )
    v = ss.snap_merge(
        spark, root, src, on=["id"], when_not_matched_by_source="delete"
    )
    got = {r.id: r.val for r in ss.snap_read(spark, root).collect()}
    assert got == {1: 111, 3: 333, 7: 777}
    feed = ss.snap_read_changes_cdf(spark, root, v - 1, v)
    rows = sorted(
        (r.id, r.val, r._change_type) for r in feed.collect()
    )
    assert rows == sorted(
        [
            (0, 0, "delete"),
            (2, 4, "delete"),
            (4, 8, "delete"),
            (1, 2, "update_preimage"),
            (1, 111, "update_postimage"),
            (3, 6, "update_preimage"),
            (3, 333, "update_postimage"),
            (7, 777, "insert"),
        ]
    )
    with pytest.raises(ValueError, match="ignore|delete"):
        ss.snap_merge(
            spark, root, src, on=["id"], when_not_matched_by_source="update"
        )


def test_snap_history_reports_cdf_volume(spark, tmp_path):
    """snap_history exposes the change-feed state per version: the flag,
    and the DML commit's recorded change volume (footer sums only — no
    data file opened)."""
    root = str(tmp_path / "t_hist_cdf")
    ss.snap_commit(_df(spark, 0, 10), root)                 # v0
    ss.snap_enable_cdf(root)                                # v1
    ss.snap_update_where(spark, root, "id < 3", {"val": "0"})  # v2: 3 pre + 3 post
    ss.snap_delete_where(spark, root, "id = 5")             # v3: 1 delete
    h = {e["version"]: e for e in ss.snap_history(root)}
    assert not h[0]["cdf"] and h[0]["n_change_rows"] == 0
    assert h[1]["cdf"] and h[1]["n_change_rows"] == 0
    assert h[2]["cdf"] and h[2]["n_change_rows"] == 6
    assert h[3]["cdf"] and h[3]["n_change_rows"] == 1


def test_guarded_user_overwrite_is_not_content_preserving(spark, tmp_path):
    """content_preserving is an EXPLICIT maintenance marker, never
    inferred from expected_parent: a WAP overwrite published under a
    concurrency guard is a real data change — the change feed must
    refuse to cross it (skipping it would silently lose the rewrite),
    and it drops constraints like any user overwrite. Maintenance
    commits (compact) still read as zero-change."""
    root = str(tmp_path / "t_cp")
    ss.snap_commit(_df(spark, 0, 10), root)            # v0
    since = ss.snap_enable_cdf(root)                   # v1
    ss.snap_compact(spark, root, target_file_mb=64)    # v2: maintenance
    assert ss.snap_read_changes_cdf(spark, root, since).count() == 0
    sid = ss.snap_stage(_df(spark, 50, 55), root)
    cur = ss.snap_current_version(root)
    v3 = ss.snap_publish_staged(
        root, sid, mode="overwrite", expected_parent=cur
    )
    m = ss._read_manifest(root, v3)
    assert not m.get("content_preserving")
    assert not m.get("cdf")  # user overwrite: new shape re-opts-in
    with pytest.raises(ValueError, match="lineage reset"):
        ss.snap_read_changes_cdf(spark, root, since)


def test_overwrite_where_replaces_region_atomically(spark, tmp_path):
    """replaceWhere: matching rows vanish, incoming rows land, both in
    ONE version; non-matching rows in touched files carry over; files
    with no match keep their manifest entries verbatim; empty new data
    degenerates to delete_where; NULL-condition rows are kept."""
    root = str(tmp_path / "t_rw")
    ss.snap_commit(_df(spark, 0, 100).repartitionByRange(4, "id"), root)
    m0 = ss._read_manifest(root, 0)
    repl = spark.range(0, 5).select(
        F.col("id"), F.lit(-1).cast("long").alias("val")
    )
    v1 = ss.snap_overwrite_where(spark, root, "id < 10", repl)
    assert v1 == 1
    rows = {r.id: r.val for r in ss.snap_read(spark, root, v1).collect()}
    # ids 0-9 replaced by ids 0-4 with val=-1; 10.. untouched
    assert len(rows) == 95
    assert all(rows[i] == -1 for i in range(5))
    assert all(i not in rows for i in range(5, 10))
    assert rows[50] == 100
    # one atomic version: parent still reads the pre-replace state
    assert ss.snap_read(spark, root, 0).count() == 100
    # untouched parent files survive verbatim in the child manifest
    m1 = ss._read_manifest(root, 1)
    assert set(m1["files"]) & set(m0["files"]), "pruned COW kept untouched files"
    # empty replacement == delete_where
    empty = spark.createDataFrame([], ss.snap_read(spark, root).schema)
    v2 = ss.snap_overwrite_where(spark, root, "id >= 90", empty)
    assert ss.snap_count(root, v2) == 85
    # NULL-condition rows are outside the region: kept
    null_df = spark.sql(
        "select cast(null as long) as id, cast(7 as long) as val"
    )
    ss.snap_commit(null_df, root, "append")
    v4 = ss.snap_overwrite_where(
        spark, root, "id < 20",
        spark.sql("select cast(1 as long) id, cast(0 as long) val"),
    )
    vals = [r.val for r in ss.snap_read(spark, root, v4).filter("id is null").collect()]
    assert vals == [7]


def test_overwrite_where_gates_and_integrations(spark, tmp_path):
    """replaceWhere validation + integration: incoming rows violating
    the predicate raise with an example; schema must match exactly;
    CHECK constraints gate the commit; dv-deleted rows do not
    resurrect through the rewrite; CDF records delete+insert."""
    root = str(tmp_path / "t_rwg")
    ss.snap_commit(_df(spark, 0, 40).repartition(2), root)
    # predicate gate (Delta parity): rows outside the region refuse
    with pytest.raises(ValueError, match="satisfy the overwrite predicate"):
        ss.snap_overwrite_where(spark, root, "id < 10", _df(spark, 5, 15))
    # NULL predicate value = does not satisfy
    with pytest.raises(ValueError, match="satisfy the overwrite predicate"):
        ss.snap_overwrite_where(
            spark, root, "id < 10",
            spark.sql("select cast(null as long) id, cast(0 as long) val"),
        )
    # schema gate
    with pytest.raises(ValueError, match="schema must equal"):
        ss.snap_overwrite_where(
            spark, root, "id < 10", spark.range(0, 1).select("id")
        )
    # constraint gate: carried + incoming rows validate like any commit
    ss.snap_add_constraint(spark, root, "val_nonneg", "val >= -5")
    with pytest.raises(ss.ConstraintViolation):
        ss.snap_overwrite_where(
            spark, root, "id < 3",
            spark.range(0, 1).select(
                F.col("id"), F.lit(-100).cast("long").alias("val")
            ),
        )
    # dv-deleted rows stay deleted through the rewrite
    ss.snap_delete_dv(spark, root, "id = 7")
    ss.snap_enable_cdf(root)
    since = ss.snap_current_version(root)
    repl = spark.range(0, 2).select(
        F.col("id"), F.lit(-1).cast("long").alias("val")
    )
    v = ss.snap_overwrite_where(spark, root, "id < 10", repl)
    ids = {r.id for r in ss.snap_read(spark, root, v).collect()}
    assert 7 not in ids and ids >= {0, 1, 10}
    # CDF: 9 deletes (0-9 minus dv'd 7) + 2 inserts, readable as a feed
    feed = ss.snap_read_changes_cdf(spark, root, since=since).collect()
    by_type = {}
    for r in feed:
        by_type.setdefault(r["_change_type"], set()).add(r["id"])
    assert by_type["delete"] == set(range(10)) - {7}
    assert by_type["insert"] == {0, 1}
    # file-diff CDC refuses the merge-mode commit honestly
    with pytest.raises(ValueError, match="not an append set"):
        ss.snap_read_changes(spark, root, since=since)


def test_shallow_clone_zero_copy_and_write_isolation(spark, tmp_path):
    """SHALLOW CLONE: the clone reads the pinned source snapshot
    (dv-correct) without copying a byte; writes to the clone (append,
    COW delete, compact) land under the CLONE's root and never mutate
    the source; constraints transfer; clone-side vacuum cannot collect
    source-owned files; cloning into a non-empty root refuses."""
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    ss.snap_commit(_df(spark, 0, 50).repartitionByRange(4, "id"), src)
    ss.snap_delete_dv(spark, src, "id = 3")
    ss.snap_add_constraint(spark, src, "val_nonneg", "val >= 0")
    ss.snap_set_ref(src, "gold")
    v = ss.snap_clone(src, dst, "gold")
    assert v == 0
    # zero copy: every referenced file lives under the source root
    m = ss._read_manifest(dst, 0)
    assert m["files"] and all(f.startswith(src) for f in m["files"])
    assert not os.path.isdir(os.path.join(dst, "data"))
    # dv state transferred: id=3 is gone in the clone too
    ids = {r.id for r in ss.snap_read(spark, dst).collect()}
    assert ids == set(range(50)) - {3}
    # constraint transferred: a violating append on the CLONE refuses
    bad = spark.sql("select cast(99 as long) id, cast(-1 as long) val")
    with pytest.raises(ss.ConstraintViolation):
        ss.snap_commit(bad, dst, "append")
    # clone-side DML: source stays byte-identical
    ss.snap_commit(_df(spark, 100, 110), dst, "append")
    ss.snap_delete_where(spark, dst, "id < 10")
    got = {r.id for r in ss.snap_read(spark, dst).collect()}
    assert got == (set(range(10, 50)) | set(range(100, 110)))
    assert {r.id for r in ss.snap_read(spark, src).collect()} == set(
        range(50)
    ) - {3}
    # the COW rewrite wrote ONLY under the clone's root
    m2 = ss._read_manifest(dst, ss.snap_current_version(dst))
    assert any(f.startswith(dst) for f in m2["files"])
    # clone-side vacuum walks only the clone's data dir: source intact
    ss.snap_vacuum(dst, keep_last=1, staged_grace_minutes=0)
    assert ss.snap_read(spark, src).count() == 49
    assert ss.snap_read(spark, dst).count() == 50
    # refuse cloning onto an existing table
    with pytest.raises(ValueError, match="already has a committed version"):
        ss.snap_clone(src, dst)


def test_shallow_clone_source_vacuum_caveat(spark, tmp_path):
    """The documented Delta-parity caveat: the source does not know its
    files are referenced by clones — a source vacuum that drops the
    cloned-from version breaks the clone's reads (pin the source
    version with a ref to prevent it)."""
    src = str(tmp_path / "csrc")
    dst = str(tmp_path / "cdst")
    ss.snap_commit(_df(spark, 0, 20), src)
    ss.snap_clone(src, dst)
    ss.snap_commit(_df(spark, 100, 105), src, "overwrite")
    ss.snap_vacuum(src, keep_last=1, staged_grace_minutes=0)
    with pytest.raises(Exception):
        ss.snap_read(spark, dst).collect()
    # with the cloned-from version pinned by a ref, the clone survives
    src2 = str(tmp_path / "csrc2")
    dst2 = str(tmp_path / "cdst2")
    ss.snap_commit(_df(spark, 0, 20), src2)
    ss.snap_set_ref(src2, "cloned")
    ss.snap_clone(src2, dst2, "cloned")
    ss.snap_commit(_df(spark, 100, 105), src2, "overwrite")
    ss.snap_vacuum(src2, keep_last=1, staged_grace_minutes=0)
    assert ss.snap_read(spark, dst2).count() == 20


def test_dml_discovery_prunes_with_stats(spark, tmp_path):
    """DML discovery pre-prune: a conjunctive simple-atom predicate
    plans the matching scan from manifest stats (range-clustered write
    -> ~selectivity-sized candidate list); any unsupported shape —
    Column objects, OR, arithmetic, IS NULL — degrades to the full
    list; files without stats are kept; and the pruned DELETE/UPDATE
    results are exactly the unpruned semantics."""
    root = str(tmp_path / "t_dmlprune")
    ss.snap_commit(
        _df(spark, 0, 100).repartitionByRange(10, "id"),
        root,
        stats_cols=["id"],
        bloom_cols=["id"],
    )
    m = ss._read_manifest(root, 0)
    assert len(m["files"]) == 10
    # half-range atoms prune to the overlapping tail/head
    cand = ss._dml_candidate_files(m, "id >= 80")
    assert 0 < len(cand) <= 3 and set(cand) <= set(m["files"])
    cand2 = ss._dml_candidate_files(m, "id >= 10 AND id < 20")
    assert 0 < len(cand2) <= 2
    # equality uses min/max + bloom
    assert 0 < len(ss._dml_candidate_files(m, "id = 5")) <= 2
    # unsupported shapes: full list, never a guess
    full = set(m["files"])
    assert set(ss._dml_candidate_files(m, "id % 2 = 0")) == full
    assert set(ss._dml_candidate_files(m, "id < 5 OR id > 90")) == full
    assert set(ss._dml_candidate_files(m, "(id < 5)")) == full
    assert set(ss._dml_candidate_files(m, "id IS NULL")) == full
    assert set(ss._dml_candidate_files(m, F.col("id") < 5)) == full
    # no stats recorded -> every file kept (sound degradation)
    root2 = str(tmp_path / "t_dmlprune2")
    ss.snap_commit(_df(spark, 0, 100).repartitionByRange(10, "id"), root2)
    m2 = ss._read_manifest(root2, 0)
    assert set(ss._dml_candidate_files(m2, "id >= 80")) == set(m2["files"])
    # end-to-end: pruned DELETE == exact semantics, untouched files survive
    v = ss.snap_delete_where(spark, root, "id >= 90")
    m1 = ss._read_manifest(root, v)
    assert {r.id for r in ss.snap_read(spark, root, v).collect()} == set(
        range(90)
    )
    assert len(set(m1["files"]) & set(m["files"])) >= 8
    # pruned dv-DELETE and UPDATE on the same store
    ss.snap_delete_dv(spark, root, "id >= 85")
    assert ss.snap_count(root) == 85
    ss.snap_update_where(spark, root, "id >= 80", {"val": "val + 1"})
    got = {r.id: r.val for r in ss.snap_read(spark, root).collect()}
    assert got[82] == 165 and got[50] == 100


def _between_store(spark, root):
    """100 rows, ten files range-clustered on ``id``, with ``id`` and
    ``t`` stats: ``t`` is 2024-01-01 plus ``id`` hours, ``note`` text."""
    df = _df(spark, 0, 100).select(
        "id",
        "val",
        F.expr(
            "timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,id,0,0)"
        ).alias("t"),
        F.concat(F.lit("n"), F.col("id").cast("string")).alias("note"),
    )
    ss.snap_commit(df.repartitionByRange(10, "id"), root, stats_cols=["id", "t"])
    return ss._read_manifest(root, ss.snap_current_version(root))


@pytest.mark.parametrize("sidecar", [False, True], ids=["inline", "sidecar"])
def test_dml_discovery_prunes_between(spark, tmp_path, monkeypatch, sidecar):
    """``col BETWEEN lit AND lit`` plans as one inclusive range: it keeps
    exactly the files of ``col >= lit AND col <= lit``, on the inline
    dicts and on the sidecar index alike, also for a quoted temporal
    literal. Shapes it does not cover keep every file; reversed bounds
    keep none, and an UPDATE with them changes nothing."""
    if sidecar:
        monkeypatch.setattr(ss, "DETAIL_INLINE_MAX", 0)
    root = str(tmp_path / "t_between")
    m = _between_store(spark, root)
    assert (ss._detail_table_for_prune(m) is not None) == sidecar
    full = m["files"]
    cand = ss._dml_candidate_files(m, "id BETWEEN 10 AND 19")
    assert cand == ss._dml_candidate_files(m, "id >= 10 AND id <= 19")
    assert 0 < len(cand) <= 2
    assert ss._dml_candidate_files(m, "id between 10 and 19 AND val >= 0") == cand
    ts = "t BETWEEN '2024-01-02 00:00:00' AND '2024-01-02 23:00:00'"
    ts_cand = ss._dml_candidate_files(m, ts)
    assert ts_cand == ss._dml_candidate_files(
        m, "t >= '2024-01-02 00:00:00' AND t <= '2024-01-02 23:00:00'"
    )
    assert 0 < len(ts_cand) < len(full)
    for cond in (
        "id NOT BETWEEN 10 AND 19",
        "id BETWEEN 10 AND 19 OR id = 50",
        "(id BETWEEN 10 AND 19)",
        "id BETWEEN 10 AND val",
        "note = 'x between 1 and 2'",
        "id BETWEEN 10",
    ):
        assert ss._dml_candidate_files(m, cond) == full, cond
    assert ss._dml_candidate_files(m, "id BETWEEN 19 AND 10") == []
    before = sorted(ss.snap_read(spark, root).collect())
    ss.snap_update_where(spark, root, "id BETWEEN 19 AND 10", {"val": "val + 1"})
    assert sorted(ss.snap_read(spark, root).collect()) == before


def test_between_dml_matches_the_unpruned_column_form(spark, tmp_path):
    """UPDATE and DV DELETE with a pruned ``BETWEEN`` string give the same
    table and the same change feed as the unpruned Column form."""
    out = {}
    for form in ("sql", "column"):
        root = str(tmp_path / form)
        _between_store(spark, root)
        since = ss.snap_enable_cdf(root)
        upd, dele = (
            ("id BETWEEN 20 AND 29", "id BETWEEN 50 AND 54")
            if form == "sql"
            else (F.col("id").between(20, 29), F.col("id").between(50, 54))
        )
        ss.snap_update_where(spark, root, upd, {"val": "val + 1"})
        ss.snap_delete_dv(spark, root, dele)
        out[form] = (
            sorted(ss.snap_read(spark, root).collect()),
            sorted(
                ss.snap_read_changes_cdf(spark, root, since)
                .select("id", "val", "_change_type", "_commit_version")
                .collect()
            ),
        )
    table, changes = out["sql"]
    assert len(table) == 95 and len(changes) == 25
    assert out["sql"] == out["column"]


def test_merge_discovery_key_range_prune(spark, tmp_path):
    """MERGE discovery pre-prune soundness: on a range-clustered store
    with key stats, a narrow source prunes discovery to the overlapping
    files while the semantics stay exact — including the critical
    not-matched case where EVERY source key lies outside the store
    (prune-to-empty must still insert them all) and the by-source
    delete mode where pruning would be unsound (full sync unaffected)."""
    root = str(tmp_path / "t_mprune")
    ss.snap_commit(
        _df(spark, 0, 100).repartitionByRange(10, "id"),
        root,
        stats_cols=["id"],
    )
    src = spark.range(95, 105).select(
        F.col("id"), F.lit(-1).cast("long").alias("val")
    )
    ss.snap_merge(spark, root, src, on=["id"])
    rows = {r.id: r.val for r in ss.snap_read(spark, root).collect()}
    assert len(rows) == 105
    assert all(rows[i] == -1 for i in range(95, 105))
    assert rows[50] == 100
    # untouched files survive verbatim (only the tail file rewrote)
    m0 = ss._read_manifest(root, 0)
    m1 = ss._read_manifest(root, 1)
    assert len(set(m1["files"]) & set(m0["files"])) >= 8
    # all-outside source: prune-to-empty still inserts everything
    src2 = spark.range(500, 510).select(
        F.col("id"), F.lit(-2).cast("long").alias("val")
    )
    ss.snap_merge(spark, root, src2, on=["id"])
    assert ss.snap_count(root) == 115
    # by-source delete (pruning disabled): store mirrors the source set
    src3 = spark.range(0, 50).select(
        F.col("id"), (F.col("id") * 2).alias("val")
    )
    ss.snap_merge(
        spark, root, src3, on=["id"], when_not_matched_by_source="delete"
    )
    assert {r.id for r in ss.snap_read(spark, root).collect()} == set(
        range(50)
    )


def test_commit_timestamps_asof_and_time_retention(spark, tmp_path):
    """Every manifest records its publish instant: snap_history exposes
    it, TIMESTAMP AS OF resolves the latest version at-or-before a wall
    clock (datetime accepted), metadata commits stamp a FRESH instant
    (never the parent's), and vacuum's keep_hours window ADDS retention
    on top of keep_last."""
    import datetime
    import time as _t

    root = str(tmp_path / "t_ts")
    ss.snap_commit(_df(spark, 0, 10), root)          # v0
    _t.sleep(0.05)
    t_mid = _t.time()
    _t.sleep(0.05)
    ss.snap_commit(_df(spark, 10, 20), root, "append")  # v1
    ss.snap_add_constraint(spark, root, "val_nonneg", "val >= 0")  # v2 meta
    hist = ss.snap_history(root)
    tss = [h["ts"] for h in hist]
    assert all(t is not None for t in tss) and tss == sorted(tss)
    assert tss[2] > tss[1]  # metadata commit stamped fresh, not inherited
    # AS OF: t_mid lands between v0 and v1
    assert ss.snap_version_asof(root, t_mid) == 0
    assert ss.snap_read_asof(spark, root, t_mid).count() == 10
    assert ss.snap_version_asof(root, _t.time()) == 2
    assert (
        ss.snap_version_asof(root, datetime.datetime.now()) == 2
    )
    with pytest.raises(ValueError, match="at or before"):
        ss.snap_version_asof(root, tss[0] - 10)
    # keep_hours retains the whole recent window despite keep_last=1
    removed = ss.snap_vacuum(root, keep_last=1, keep_hours=1.0)
    assert removed == 0 and ss.snap_versions(root) == [0, 1, 2]
    # a zero-width window degrades to keep_last alone
    ss.snap_vacuum(root, keep_last=1, keep_hours=0.0, staged_grace_minutes=0)
    assert ss.snap_versions(root) == [2]


def test_vacuum_dry_run_counts_without_deleting(spark, tmp_path):
    """DRY RUN parity: the same plan and grace rules, the same count —
    zero deletions (manifests included); the real run then removes
    exactly what the dry run predicted."""
    root = str(tmp_path / "t_dry")
    ss.snap_commit(_df(spark, 0, 10), root)
    ss.snap_commit(_df(spark, 100, 105), root, "overwrite")
    would = ss.snap_vacuum(
        root, keep_last=1, staged_grace_minutes=0, dry_run=True
    )
    assert would > 0
    assert ss.snap_versions(root) == [0, 1]
    assert ss.snap_read(spark, root, 0).count() == 10  # nothing deleted
    did = ss.snap_vacuum(root, keep_last=1, staged_grace_minutes=0)
    assert did == would
    assert ss.snap_versions(root) == [1]


def test_analyze_retrofits_skipping_metadata(spark, tmp_path):
    """ANALYZE: a table committed without stats gains per-file min/max
    + blooms as a metadata-only commit — skipping, pushed filters, and
    the DML discovery pre-prune all start planning from them; results
    stay exact; geometry conflicts and unknown columns refuse."""
    root = str(tmp_path / "t_an")
    ss.snap_commit(_df(spark, 0, 100).repartitionByRange(10, "id"), root)
    m0 = ss._read_manifest(root, 0)
    assert not m0.get("file_stats")
    assert set(ss._dml_candidate_files(m0, "id >= 80")) == set(m0["files"])
    v = ss.snap_analyze(spark, root, stats_cols=["id"], bloom_cols=["id"])
    assert v == 1
    m1 = ss._read_manifest(root, 1)
    # same files, fresh metadata
    assert m1["files"] == m0["files"]
    assert 0 < len(ss._dml_candidate_files(m1, "id >= 80")) <= 3
    files, total = ss.snap_prune_files(root, "id", 5, 7)
    assert total == 10 and len(files) <= 2
    got = {r.id for r in ss.snap_read_between(spark, root, "id", 5, 7).collect()}
    assert got == {5, 6, 7}
    assert {r.id for r in ss.snap_read_where_eq(spark, root, "id", 42).collect()} == {42}
    # a later COW rewrite re-profiles its files with the analyzed config
    ss.snap_delete_where(spark, root, "id >= 95")
    m2 = ss._read_manifest(root, ss.snap_current_version(root))
    assert all("id" in per for per in m2["file_stats"].values())
    # refusals
    with pytest.raises(ValueError, match="unknown columns"):
        ss.snap_analyze(spark, root, stats_cols=["nope"])
    with pytest.raises(ValueError, match="cannot be resized"):
        ss.snap_analyze(spark, root, bloom_cols=["val"], bloom_bits=1 << 10)
    with pytest.raises(ValueError, match="stats_cols and/or bloom_cols"):
        ss.snap_analyze(spark, root)


def test_dml_prune_type_gate_temporal_and_cross_type(spark, tmp_path):
    """Pruning literal/column type gate: a quoted literal on a
    TIMESTAMP column must NOT prune (Spark casts '2024-01-05' before
    comparing; the stats carry isoformat text that orders differently),
    and cross-type atoms (string literal on a numeric column, numeric
    on a string column) contribute no pruning — the review-found false
    drop: a temporal DELETE must actually delete."""
    root = str(tmp_path / "t_tsprune")
    df = spark.range(0, 10).select(
        F.col("id"),
        F.expr(
            "timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,id,0,0,0)"
        ).alias("t"),
    )
    ss.snap_commit(df.repartitionByRange(5, "t"), root, stats_cols=["t", "id"])
    m = ss._read_manifest(root, 0)
    full = set(m["files"])
    # temporal RANGE literals prune soundly in the isoformat domain;
    # the kept set must cover every file holding a matching row
    cand = ss._dml_candidate_files(m, "t <= '2024-01-05'")
    match_files = {
        r["_sf"]
        for r in ss._source_frame(spark, m, file_col="_sf")
        .filter("t <= '2024-01-05'")
        .select("_sf")
        .distinct()
        .collect()
    }
    assert match_files <= set(cand) <= full
    # temporal EQUALITY prunes via the [v, v] stats window (r13) —
    # bloom stays out (domain mismatch), and the kept set must still
    # cover every file holding the matching row
    c_eq = ss._dml_candidate_files(m, "t = '2024-01-03 00:00:00'")
    eq_files = {
        r["_sf"]
        for r in ss._source_frame(spark, m, file_col="_sf")
        .filter("t = '2024-01-03 00:00:00'")
        .select("_sf")
        .distinct()
        .collect()
    }
    assert eq_files <= set(c_eq) <= full and len(c_eq) < len(full)
    # cross-type atoms: no pruning contribution
    assert set(ss._dml_candidate_files(m, "id = '5'")) == full
    # the numeric atom still prunes inside a mixed conjunction
    mixed = ss._dml_candidate_files(m, "t <= '2024-01-05' AND id <= 1")
    assert 0 < len(mixed) <= 2
    # end-to-end: the temporal DELETE deletes (the bug's failure shape)
    v = ss.snap_delete_where(spark, root, "t <= '2024-01-05'")
    left = {r.id for r in ss.snap_read(spark, root, v).collect()}
    assert left == {5, 6, 7, 8, 9}


def test_analyze_on_evolved_table_uses_manifest_schema(spark, tmp_path):
    """snap_analyze over a table with add-column evolution: the
    pre-evolution files' footers lack the new column — the collectors
    must read with the manifest schema (NULL-filled), not footer
    inference (the review-found AnalysisException)."""
    root = str(tmp_path / "t_anevo")
    ss.snap_commit(_df(spark, 0, 20), root)
    evolved = spark.range(20, 30).select(
        F.col("id"),
        (F.col("id") * 2).alias("val"),
        F.concat(F.lit("n"), F.col("id")).alias("note"),
    )
    ss.snap_commit(evolved, root, "append", evolve=True)
    v = ss.snap_analyze(spark, root, stats_cols=["note"], bloom_cols=["note"])
    m = ss._read_manifest(root, v)
    # old files: all-NULL note -> [None, None] stats kept (must-read)
    vals = [per.get("note") for per in m["file_stats"].values()]
    assert any(x == [None, None] for x in vals)
    assert any(x is not None and x[0] is not None for x in vals)
    got = {
        r.id
        for r in ss.snap_read_where_eq(spark, root, "note", "n25").collect()
    }
    assert got == {25}


def test_merge_prune_sound_on_timestamp_keys(spark, tmp_path):
    """MERGE key-range pruning with TIMESTAMP keys: both bound and stat
    canonicalize through _json_stat (same isoformat domain), so pruning
    stays sound — matched rows update, everything else survives."""
    root = str(tmp_path / "t_mts")
    df = spark.range(0, 20).select(
        F.col("id"),
        F.expr(
            "timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,id,0,0,0)"
        ).alias("t"),
        (F.col("id") * 2).alias("val"),
    )
    ss.snap_commit(df.repartitionByRange(4, "t"), root, stats_cols=["t"])
    src = spark.range(5, 8).select(
        F.col("id"),
        F.expr(
            "timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,id,0,0,0)"
        ).alias("t"),
        F.lit(-1).cast("long").alias("val"),
    )
    ss.snap_merge(spark, root, src.select("id", "t", "val"), on=["t"])
    rows = {r.id: r.val for r in ss.snap_read(spark, root).collect()}
    assert len(rows) == 20
    assert rows[5] == rows[6] == rows[7] == -1
    assert rows[10] == 20


def test_dml_prune_temporal_ranges_sound(spark, tmp_path):
    """Temporal RANGE pruning in the isoformat domain: timestamp
    predicates prune to the overlapping files with exact results in
    both separator spellings; DATE-column literals truncate their time
    component like Spark's string->date cast (the >= edge that would
    otherwise false-drop the boundary day); since r13, equality prunes
    too, as the degenerate stats range [v, v]."""
    root = str(tmp_path / "t_tsr")
    df = spark.range(0, 10).select(
        F.col("id"),
        F.expr(
            "timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,id,0,0,0)"
        ).alias("t"),
        F.expr("date'2024-01-01' + cast(id as int)").alias("d"),
    )
    ss.snap_commit(
        df.repartitionByRange(5, "id"), root, stats_cols=["t", "d"]
    )
    m = ss._read_manifest(root, 0)
    full = set(m["files"])
    # timestamp range prunes (both spellings); equality prunes as the
    # [v, v] stats window (r13) with exact results
    c1 = ss._dml_candidate_files(m, "t >= '2024-01-09 00:00:00'")
    c2 = ss._dml_candidate_files(m, "t >= '2024-01-09T00:00:00'")
    assert 0 < len(c1) <= 2 and set(c1) == set(c2)
    c_eq = ss._dml_candidate_files(m, "t = '2024-01-03 00:00:00'")
    assert 0 < len(c_eq) < len(full)
    got_eq = {
        r.id
        for r in ss._source_frame(spark, m, c_eq)
        .filter("t = '2024-01-03 00:00:00'")
        .collect()
    }
    assert got_eq == {2}  # id=2 is Jan 3; the pruned plan still finds it
    # DATE column with a time-component literal: the boundary day's
    # file must stay in the plan (cast truncates to 2024-01-05)
    c3 = ss._dml_candidate_files(m, "d >= '2024-01-05 10:00:00'")
    v_probe = ss.snap_read(spark, root).filter("d >= '2024-01-05 10:00:00'")
    ids_expected = {r.id for r in v_probe.collect()}
    assert 4 in ids_expected  # Spark's cast includes the boundary day
    kept_rows = {
        r.id
        for r in ss._source_frame(spark, m, c3)
        .filter("d >= '2024-01-05 10:00:00'")
        .collect()
    }
    assert kept_rows == ids_expected
    # end-to-end temporal DELETE with pruning active
    v = ss.snap_delete_where(spark, root, "t <= '2024-01-03 23:00:00'")
    assert {r.id for r in ss.snap_read(spark, root, v).collect()} == {
        3, 4, 5, 6, 7, 8, 9,
    }


def test_clone_refuses_vacuumed_source_version(spark, tmp_path):
    """Cloning a version whose files were already collected refuses up
    front (snap_restore parity) instead of publishing dangling refs."""
    src = str(tmp_path / "cv_src")
    dst = str(tmp_path / "cv_dst")
    ss.snap_commit(_df(spark, 0, 10), src)
    ss.snap_set_ref(src, "old")  # keep the MANIFEST through vacuum...
    ss.snap_commit(_df(spark, 100, 105), src, "overwrite")
    # ...but delete its files out from under it (simulated lost race)
    m0 = ss._read_manifest(src, 0)
    for f in m0["files"]:
        os.remove(f)
    with pytest.raises(FileNotFoundError, match="cannot clone"):
        ss.snap_clone(src, dst, "old")
    assert ss.snap_current_version(dst) is None  # nothing published


def test_dml_prune_skips_tz_suffixed_literals(spark, tmp_path):
    """Review-2 edge: a 'Z'/offset-suffixed temporal literal produces a
    tz-aware isoformat that no longer orders lexicographically against
    naive stat strings — the atom must contribute no pruning, and the
    DELETE must still hit its rows."""
    root = str(tmp_path / "t_tz")
    df = spark.range(0, 10).select(
        F.col("id"),
        F.expr(
            "timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,id,0,0,0)"
        ).alias("t"),
    )
    ss.snap_commit(df.repartitionByRange(5, "t"), root, stats_cols=["t"])
    m = ss._read_manifest(root, 0)
    full = set(m["files"])
    assert set(ss._dml_candidate_files(m, "t >= '2024-01-09T00:00:00Z'")) == full
    assert (
        set(ss._dml_candidate_files(m, "t >= '2024-01-09 00:00:00+05:00'"))
        == full
    )
    v = ss.snap_delete_where(spark, root, "t >= '2024-01-09T00:00:00Z'")
    left = {r.id for r in ss.snap_read(spark, root, v).collect()}
    assert left == set(range(8))  # UTC session: ids 8,9 matched


def test_dml_prune_sound_on_non_utc_driver(spark, tmp_path, monkeypatch):
    """The review-found tz-domain skew, reproduced: Python renders
    collected TimestampType values in the DRIVER SYSTEM timezone while
    the session interprets literals in UTC. With TZ shifted to
    America/New_York mid-process, stats must still land in the
    session-tz (UTC) naive domain — pruning keeps the right files and a
    temporal DELETE hits exactly its rows."""
    import time as _t

    monkeypatch.setenv("TZ", "America/New_York")
    _t.tzset()
    try:
        root = str(tmp_path / "t_nyc")
        df = spark.range(0, 10).select(
            F.col("id"),
            F.expr(
                "timestamp'2024-01-01 00:00:00'"
                " + make_interval(0,0,0,id,0,0,0)"
            ).alias("t"),
        )
        ss.snap_commit(df.repartitionByRange(5, "t"), root, stats_cols=["t"])
        m = ss._read_manifest(root, 0)
        # stats are in the SESSION (UTC) domain, not the NY wall clock
        all_stats = sorted(
            per["t"][0] for per in m["file_stats"].values()
        )
        assert all_stats[0] == "2024-01-01T00:00:00", all_stats
        # pruning keeps the matching tail and the DELETE is exact
        cand = ss._dml_candidate_files(m, "t >= '2024-01-09 00:00:00'")
        assert 0 < len(cand) <= 2
        v = ss.snap_delete_where(spark, root, "t >= '2024-01-09 00:00:00'")
        left = {r.id for r in ss.snap_read(spark, root, v).collect()}
        assert left == set(range(8))  # id=8 is Jan 9, id=9 is Jan 10
    finally:
        monkeypatch.undo()
        _t.tzset()


def test_cdf_span_read_coalesces_plan_legs(spark, tmp_path):
    """A long CDF span must NOT build one plan leg per commit: all
    appends under one schema epoch coalesce into a single parquet scan
    (and all DML sidecars into another), with ``_commit_version``
    recovered per-row from the broadcast path->version map. 12 appends
    + 3 DML commits => exactly 2 parquet-scan legs, and the feed's
    content is identical to what per-commit sub-span reads return."""
    import io
    from contextlib import redirect_stdout

    root = str(tmp_path / "t")
    ss.snap_commit(_df(spark, 0, 5), root)  # v0 base
    v_en = ss.snap_enable_cdf(root)  # v1
    n_appends = 12
    for i in range(n_appends):
        ss.snap_commit(_df(spark, 100 + 5 * i, 105 + 5 * i), root)
    ss.snap_merge(
        spark, root, _df(spark, 0, 2), on=["id"], when_matched="update"
    )
    ss.snap_merge(spark, root, _df(spark, 500, 503), on=["id"])
    ss.snap_delete_where(spark, root, "id = 101")

    feed = ss.snap_read_changes_cdf(spark, root, v_en)
    buf = io.StringIO()
    with redirect_stdout(buf):
        feed.explain(mode="formatted")
    import re

    n_scans = len(
        re.findall(r"^\(\d+\) Scan parquet", buf.getvalue(), re.MULTILINE)
    )
    assert n_scans == 2, f"expected 2 coalesced scan legs, got {n_scans}"

    # content parity with per-commit sub-span reads (the uncoalesced
    # grain): every single-commit window concatenated == the span
    rows_span = sorted(
        (r["id"], r["_change_type"], r["_commit_version"])
        for r in feed.collect()
    )
    rows_sub = []
    for v in range(v_en + 1, ss.snap_current_version(root) + 1):
        rows_sub.extend(
            (r["id"], r["_change_type"], r["_commit_version"])
            for r in ss.snap_read_changes_cdf(spark, root, v - 1, v).collect()
        )
    assert rows_span == sorted(rows_sub)
    # inserts carry their exact commit versions through the map join
    versions = {v for _, t, v in rows_span if t == "insert"}
    assert len(versions) >= n_appends


def test_dml_discovery_prunes_in_lists_and_temporal_eq(spark, tmp_path):
    """r13 DML-discovery extensions: ``col IN (...)`` atoms plan the
    UNION of their values' equality kept-sets (the point-DML / GDPR
    delete shape — parity with snap_read_where_in's algebra), and
    temporal ``=`` atoms prune as the degenerate stats range [v, v]
    (blooms hashed a different canonical form, so only min/max
    applies). Unsupported shapes still degrade to the full list, and
    the pruned DELETE matches exact semantics."""
    root = str(tmp_path / "t_inprune")
    ss.snap_commit(
        _df(spark, 0, 100).repartition(10, "id"),  # hash layout: blooms prune
        root,
        stats_cols=["id"],
        bloom_cols=["id"],
    )
    m = ss._read_manifest(root, 0)
    full = set(m["files"])
    assert len(full) == 10
    # IN-list kept-set == union of the per-value equality plans
    # (the algebra snap_read_where_in plans reads with)
    expected = set()
    for v in (5, 41, 77):
        expected.update(ss._plan_files(m, [("id", [v])]))
    cand = ss._dml_candidate_files(m, "id IN (5, 41, 77)")
    assert set(cand) == expected
    assert 0 < len(cand) < len(full)  # blooms actually pruned
    # composes with other atoms by intersection
    both = ss._dml_candidate_files(m, "id IN (5, 41, 77) AND id <= 50")
    assert set(both) == expected & set(
        ss._plan_files(m, [("id", None, 50)])
    )
    # quoted literals with commas stay one value; sloppy types skip atom
    assert set(ss._dml_candidate_files(m, "id IN ('a,b', 'c')")) == full
    # IN inside an unsupported composite: full list, never a guess
    assert set(ss._dml_candidate_files(m, "id IN (1) OR id = 2")) == full
    assert set(ss._dml_candidate_files(m, "id IN (SELECT 1)")) == full
    # end-to-end pruned DELETE == exact semantics
    v = ss.snap_delete_where(spark, root, "id IN (5, 41, 77)")
    assert {r.id for r in ss.snap_read(spark, root, v).collect()} == set(
        range(100)
    ) - {5, 41, 77}

    # temporal equality over a range-clustered timestamp store
    import datetime as dt

    root2 = str(tmp_path / "t_tseq")
    rows = [(i, dt.datetime(2024, 1, 1) + dt.timedelta(hours=6 * i)) for i in range(40)]
    df = spark.createDataFrame(rows, ["id", "ts"]).repartitionByRange(8, "ts")
    ss.snap_commit(df, root2, stats_cols=["ts"])
    m2 = ss._read_manifest(root2, 0)
    probe = "2024-01-03 12:00:00"  # id 10
    cand_eq = ss._dml_candidate_files(m2, f"ts = '{probe}'")
    iso = "2024-01-03T12:00:00"
    assert set(cand_eq) == set(
        ss._plan_files(m2, [("ts", iso, iso)])
    )
    assert 0 < len(cand_eq) < len(m2["files"])
    # temporal IN unions the two probes' windows
    cand_in = ss._dml_candidate_files(
        m2, "ts IN ('2024-01-03 12:00:00', '2024-01-09 00:00:00')"
    )
    assert set(ss._plan_files(m2, [("ts", iso, iso)])) <= set(cand_in)
    assert 0 < len(cand_in) < len(m2["files"])
    # tz-suffixed literal cannot prune (atom skipped, not wrong)
    assert set(
        ss._dml_candidate_files(m2, "ts = '2024-01-03 12:00:00+07:00'")
    ) == set(m2["files"])
    # end-to-end temporal-eq DELETE == exact semantics
    v2 = ss.snap_delete_where(spark, root2, f"ts = '{probe}'")
    assert {r.id for r in ss.snap_read(spark, root2, v2).collect()} == set(
        range(40)
    ) - {10}


def test_cdf_retention_knob(spark, tmp_path):
    """r14: cdf_keep_hours gives change-feed sidecars a retention window
    INDEPENDENT of manifest retention (Delta's CDF retention) — a
    deep-keep table stops accumulating every sidecar ever written.
    In-window vacuums collect nothing; past-window vacuums collect the
    sidecars while SNAPSHOT reads of those versions stay intact, and a
    span read crossing a collected commit raises the documented error
    instead of returning a silently partial feed."""
    root = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, i * 2) for i in range(100)], "id long, val long"
    ).coalesce(2)
    ss.snap_commit(df, root)
    v_on = ss.snap_enable_cdf(root)
    ss.snap_update_where(spark, root, "id % 10 = 0", {"val": "val + 1"})
    ss.snap_delete_where(spark, root, "id % 10 = 5")
    n_feed = ss.snap_read_changes_cdf(spark, root, v_on).count()
    assert n_feed > 0
    # default: sidecars live exactly as long as their manifests
    ss.snap_vacuum(root, keep_last=10, staged_grace_minutes=0)
    assert ss.snap_read_changes_cdf(spark, root, v_on).count() == n_feed
    # in-window: collects nothing
    ss.snap_vacuum(
        root, keep_last=10, staged_grace_minutes=0, cdf_keep_hours=1000.0
    )
    assert ss.snap_read_changes_cdf(spark, root, v_on).count() == n_feed
    # dry-run past-window: counts the sidecars, deletes nothing
    n_dry = ss.snap_vacuum(
        root,
        keep_last=10,
        staged_grace_minutes=0,
        cdf_keep_hours=0.0,
        dry_run=True,
    )
    assert n_dry >= 2  # update + delete sidecars
    assert ss.snap_read_changes_cdf(spark, root, v_on).count() == n_feed
    # past-window: sidecars collected; snapshot reads intact, feed raises
    ss.snap_vacuum(
        root, keep_last=10, staged_grace_minutes=0, cdf_keep_hours=0.0
    )
    assert ss.snap_count(root) == 90
    got = {(r.id, r.val) for r in ss.snap_read(spark, root).collect()}
    assert (0, 1) in got and (50, 101) in got and all(i % 10 != 5 for i, _ in got)
    with pytest.raises(FileNotFoundError, match="retention"):
        ss.snap_read_changes_cdf(spark, root, v_on).count()
    # review-found (r14): the audit timeline must not crash on a
    # collected sidecar — it is an EXPECTED retained-manifest state
    hist = ss.snap_history(root)
    assert all(h["n_change_rows"] == 0 for h in hist)
    assert [h["version"] for h in hist] == sorted(
        ss.snap_versions(root)
    )


def test_cdf_span_equals_concatenation_under_evolution(spark, tmp_path):
    """Deterministic twin of the model invariant: a whole-span CDF read
    with an add-column evolution INSIDE the span equals the
    concatenation of its per-version sub-spans (pre-evolution rows
    NULL-padded to the until-schema)."""
    root = str(tmp_path / "t")
    ss.snap_commit(
        spark.createDataFrame(
            [(i, i * 2) for i in range(40)], "id long, val long"
        ).coalesce(2),
        root,
    )
    lo = ss.snap_enable_cdf(root)
    ss.snap_commit(  # epoch boundary inside the live span
        spark.createDataFrame(
            [(100, 200, "x"), (101, 202, "y")],
            "id long, val long, note string",
        ),
        root,
        evolve=True,
    )
    ss.snap_update_where(spark, root, "id % 4 = 0", {"val": "val + 11"})
    ss.snap_delete_dv(spark, root, "id % 4 = 1")
    cur = ss.snap_current_version(root)
    cols = ["id", "val", "note", "_change_type", "_commit_version"]

    def norm(rows):
        return sorted(tuple(r.asDict().get(c) for c in cols) for r in rows)

    whole = ss.snap_read_changes_cdf(spark, root, lo).collect()
    parts = []
    for v in range(lo + 1, cur + 1):
        parts.extend(ss.snap_read_changes_cdf(spark, root, v - 1, v).collect())
    assert len(whole) > 0
    assert norm(whole) == norm(parts)
    # the evolved rows update across the epoch: 100/200->211 via id%4=0
    post = {
        (r.id, r.val, r.note)
        for r in whole
        if r._change_type == "update_postimage"
    }
    assert (100, 211, "x") in post and (0, 11, None) in post


def test_unrelated_fnf_is_not_blamed_on_vacuum(spark, tmp_path, monkeypatch):
    """r15 advisor fix: only the TYPED shared-part race
    (_SharedPartVanished) converts to the retryable SnapshotConflict.
    An FNF raised while every shared part still exists (persistent
    corruption, an unrelated missing file) must propagate as the hard
    error it is — retrying would re-write data forever against damage
    no retry can fix."""
    monkeypatch.setattr(ss, "DETAIL_INLINE_MAX", 0)
    monkeypatch.setattr(ss, "DETAIL_PARTS_MAX", 1)
    root = str(tmp_path / "t")
    df = spark.createDataFrame([(i, i) for i in range(50)], "id long, v long")
    ss.snap_commit(df.coalesce(2), root, stats_cols=["id"])
    real = ss._load_detail_parts

    def corrupt(paths):
        raise FileNotFoundError("synthetic corruption: unrelated file")

    # chain length 2 > parts_max 1 -> the append compacts, hitting the
    # patched loader while all parts are INTACT on disk
    monkeypatch.setattr(ss, "_load_detail_parts", corrupt)
    with pytest.raises(FileNotFoundError):
        try:
            ss.snap_commit(df.coalesce(1), root, stats_cols=["id"])
        except ss.SnapshotConflict as e:
            raise AssertionError(
                f"corruption FNF was misdiagnosed as a vacuum race: {e}"
            ) from e
    monkeypatch.setattr(ss, "_load_detail_parts", real)
    # the failed publish left nothing behind (cleanup ran) and the store
    # stays usable after the hard error surfaced
    assert ss.snap_count(root) == 50
    ss.snap_commit(df.coalesce(1), root, stats_cols=["id"])
    assert ss.snap_count(root) == 100


def test_partially_collected_cdf_reports_zero(spark, tmp_path):
    """r15 advisor fix: a commit whose CDF sidecar set is only PARTIALLY
    present (crash mid-vacuum) reports 0 change rows in snap_history —
    never a silently smaller count summed over the survivors."""
    root = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, i * 2) for i in range(100)], "id long, val long"
    ).coalesce(2)
    ss.snap_commit(df, root)
    ss.snap_enable_cdf(root)
    ss.snap_update_where(spark, root, "id % 10 = 0", {"val": "val + 1"})
    v = ss.snap_current_version(root)
    head_path = ss._manifest_path(root, v)
    with open(head_path) as f:
        head = json.load(f)
    assert head.get("cdf_files"), "update commit records cdf sidecars"
    full = next(
        r for r in ss.snap_history(root) if r["version"] == v
    )["n_change_rows"]
    assert full > 0
    # fabricate the partial state: one surviving sidecar + one collected
    head["cdf_files"] = list(head["cdf_files"]) + [
        os.path.join(root, "_manifests", "gone.cdf.parquet")
    ]
    tmp = head_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(head, f)
    os.replace(tmp, head_path)
    partial = next(
        r for r in ss.snap_history(root) if r["version"] == v
    )["n_change_rows"]
    assert partial == 0


def test_rewrite_commit_concurrent_data_cdf_order_independent(
    spark, tmp_path
):
    """r17 (advisor pin): ``_rewrite_commit`` writes the COW data and the
    CDF sidecar as CONCURRENT jobs — the commit must be correct whichever
    side lands first. A per-row sleepy nondeterministic filter (always
    true, so the rows are unchanged) delays one side past the other, and
    the end state + feed are asserted identical for both forced orders."""
    import time as _time

    from pyspark.sql import types as T

    def _sleepy(ms: int):
        @F.udf(T.BooleanType())
        def _f(_id):
            _time.sleep(ms / 1000.0)
            return True

        return _f.asNondeterministic()

    def _run(order: str, root: str) -> tuple[list, list]:
        ss.snap_commit(_df(spark, 0, 12), root)                     # v0
        v_en = ss.snap_enable_cdf(root)                             # v1
        m = ss._read_manifest(root, ss.snap_current_version(root))
        base = ss.snap_read(spark, root)
        new_data = base.select("id", (F.col("val") + 1).alias("val"))
        pre = base.select(
            "id", "val", F.lit("update_preimage").alias("_change_type")
        )
        post = new_data.select(
            "id", "val", F.lit("update_postimage").alias("_change_type")
        )
        changes = pre.unionByName(post)
        slow = _sleepy(40)
        if order == "cdf_first":       # data job (pooled) lands LAST
            new_data = new_data.filter(slow(F.col("id")))
        else:                          # CDF (main thread) lands LAST
            changes = changes.filter(slow(F.col("id")))
        v = ss._rewrite_commit(
            spark, root, m, list(m["files"]), new_data, "merge", None,
            changes=changes,
        )
        head = ss._read_manifest(root, v)
        assert head["cdf_files"], "CDF sidecar missing from the manifest"
        state = sorted(
            (r.id, r.val) for r in ss.snap_read(spark, root).collect()
        )
        feed = sorted(
            (r.id, r.val, r._change_type)
            for r in ss.snap_read_changes_cdf(spark, root, v_en).collect()
        )
        return state, feed

    s1, f1 = _run("cdf_first", str(tmp_path / "a"))
    s2, f2 = _run("data_first", str(tmp_path / "b"))
    assert s1 == s2 == [(i, i * 2 + 1) for i in range(12)]
    assert f1 == f2
    assert len(f1) == 24  # 12 preimages + 12 postimages


def test_delete_dv_concurrent_sidecars_order_independent(
    spark, tmp_path, monkeypatch
):
    """r17 (advisor pin): ``snap_delete_dv`` writes the DV sidecar (pooled
    job) and the CDF sidecar (main thread) concurrently. Forcing the
    pooled DV write to START after the CDF write completed (a delaying
    pool in ``wsspark.exec``, which every overlap uses) must leave the
    same end state the default interleaving produces."""
    import concurrent.futures as _cf
    import time as _time

    delayed = []

    class _DelayedPool(_cf.ThreadPoolExecutor):
        def submit(self, fn, *a, **kw):
            def _late():
                _time.sleep(0.4)
                delayed.append(fn)
                return fn()

            return super().submit(_late, *a, **kw)

    def _run(root: str, delay: bool) -> tuple[int, list, list]:
        ss.snap_commit(_df(spark, 0, 10), root)                     # v0
        v_en = ss.snap_enable_cdf(root)                             # v1
        if delay:
            monkeypatch.setattr("wsspark.exec.ThreadPoolExecutor", _DelayedPool)
        try:
            ss.snap_delete_dv(spark, root, "id >= 6")               # v2
        finally:
            monkeypatch.undo()
        state = sorted(r.id for r in ss.snap_read(spark, root).collect())
        feed = sorted(
            (r.id, r._change_type)
            for r in ss.snap_read_changes_cdf(spark, root, v_en).collect()
        )
        return ss.snap_count(root), state, feed

    got_delayed = _run(str(tmp_path / "a"), delay=True)
    assert len(delayed) == 1  # the pooled DV write really started late
    got_default = _run(str(tmp_path / "b"), delay=False)
    assert got_delayed == got_default
    assert got_delayed[0] == 6 and got_delayed[1] == list(range(6))
    assert got_delayed[2] == [(i, "delete") for i in range(6, 10)]


def test_table_props_follow_the_commit_mode(spark, tmp_path):
    """The table properties (CHECK constraints, the CDF flag) ride one
    record, and each commit mode keeps its rule: append, DML, DV delete,
    maintenance and metadata commits carry them, a user overwrite resets
    them, a restore takes the restored version's, and a clone carries
    the constraints but starts without the change feed."""
    root = str(tmp_path / "t")

    def props(r, v):
        m = ss._read_manifest(r, v)
        return {"constraints": m["constraints"], "cdf": m["cdf"]}

    ss.snap_commit(_df(spark, 0, 10), root)
    ss.snap_add_constraint(spark, root, "pos", "id >= 0")
    v_meta = ss.snap_enable_cdf(root)
    both = {"constraints": {"pos": "id >= 0"}, "cdf": True}
    assert props(root, v_meta) == both
    carried = [
        ss.snap_commit(_df(spark, 10, 20), root, mode="append"),
        ss.snap_update_where(spark, root, "id = 1", {"val": "val + 1"}),
        ss.snap_delete_dv(spark, root, "id = 2"),
        ss.snap_compact(spark, root),
    ]
    for v in carried:
        assert props(root, v) == both, v
    clone = str(tmp_path / "c")
    ss.snap_clone(root, clone)
    assert props(clone, 0) == {"constraints": {"pos": "id >= 0"}, "cdf": False}
    v_ow = ss.snap_commit(_df(spark, 0, 5), root, mode="overwrite")
    assert props(root, v_ow) == {"constraints": {}, "cdf": False}
    v_re = ss.snap_restore(root, carried[0])
    assert props(root, v_re) == both


def _commit_building_dict(node) -> bool:
    """A dict literal that names a ``parent`` — every manifest head and
    every commit context does."""
    return isinstance(node, ast.Dict) and any(
        isinstance(k, ast.Constant) and k.value == "parent" for k in node.keys
    )


def test_only_the_props_helper_names_table_properties():
    """``_props`` is the one place a commit builds the table properties:
    no commit-building dict elsewhere in snapstore.py names
    ``constraints`` or ``cdf`` as a key, no code stores them by
    subscript, and no call but ``_props`` passes them as keywords."""
    path = pathlib.Path(ss.__file__)
    tree = ast.parse(path.read_text())
    inside = {
        id(n)
        for f in tree.body
        if isinstance(f, ast.FunctionDef) and f.name == "_props"
        for n in ast.walk(f)
    }
    names = {"constraints", "cdf"}
    found = []
    for node in ast.walk(tree):
        if id(node) in inside:
            continue
        if _commit_building_dict(node):
            found += [
                k.lineno for k in node.keys
                if isinstance(k, ast.Constant) and k.value in names
            ]
        elif (
            isinstance(node, ast.Subscript)
            and isinstance(node.ctx, (ast.Store, ast.Del))
            and isinstance(node.slice, ast.Constant)
            and node.slice.value in names
        ):
            found.append(node.lineno)
        elif isinstance(node, ast.Call) and not (
            isinstance(node.func, ast.Name) and node.func.id == "_props"
        ):
            found += [kw.value.lineno for kw in node.keywords if kw.arg in names]
    assert not found, (
        "build table properties with snapstore._props, lines: "
        + ", ".join(map(str, sorted(found)))
    )
