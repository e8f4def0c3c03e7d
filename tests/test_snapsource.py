"""format("snapstore") — the Python Data Source over the snapshot
store: batch reads with manifest file-pruning pushdown, streaming reads
with versions-as-offsets and checkpointed exactly-once restart."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual, In, LessThan

from wsspark import snapstore as ss
from wsspark.snapsource import SnapstoreBatchReader, register


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id"), (F.col("id") * 2).alias("val")
    )


def test_batch_read_matches_native_and_time_travels(spark, tmp_path):
    root = str(tmp_path / "s1")
    ss.snap_commit(_df(spark, 0, 100), root)
    ss.snap_commit(_df(spark, 100, 150), root, mode="append")
    register(spark)
    got = spark.read.format("snapstore").load(root)
    assert got.columns == ["id", "val"]
    assert {r.id for r in got.collect()} == set(range(150))
    pinned = (
        spark.read.format("snapstore").option("version", 0).load(root)
    )
    assert pinned.count() == 100


def test_batch_pushdown_prunes_through_blooms_and_stats(spark, tmp_path):
    """EqualTo/In prune through the manifest blooms on a hash layout;
    range predicates prune through min/max on a clustered layout. The
    reader reports every filter unhandled, so results stay exact."""
    root = str(tmp_path / "s2")
    ss.snap_commit(
        _df(spark, 0, 2000).repartition(16, "id"), root, bloom_cols=["id"]
    )
    reader = SnapstoreBatchReader(root, None)
    leftover = reader.pushFilters([EqualTo(("id",), 1234)])
    assert list(leftover) == [EqualTo(("id",), 1234)]  # superset contract
    assert len(reader.partitions()) < 16

    reader_in = SnapstoreBatchReader(root, None)
    reader_in.pushFilters([In(("id",), (3, 700, 1543))])
    assert len(reader_in.partitions()) < 16

    clustered = str(tmp_path / "s2r")
    ss.snap_commit(
        _df(spark, 0, 2000).repartitionByRange(8, "id"),
        clustered,
        stats_cols=["id"],
    )
    rr = SnapstoreBatchReader(clustered, None)
    rr.pushFilters([GreaterThanOrEqual(("id",), 1500), LessThan(("id",), 1700)])
    assert len(rr.partitions()) <= 2

    # end to end through Spark: pushdown happens inside Catalyst and the
    # exact predicate still applies
    register(spark)
    got = (
        spark.read.format("snapstore")
        .load(root)
        .filter(F.col("id") == 1234)
        .collect()
    )
    assert [(r.id, r.val) for r in got] == [(1234, 2468)]


def test_stream_versions_as_offsets_exactly_once(spark, tmp_path):
    """availableNow run 1 delivers the initial snapshot; appends land;
    run 2 from the SAME checkpoint delivers exactly the delta (no
    re-read of resident files, no duplicates)."""
    root = str(tmp_path / "s3")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    ss.snap_commit(_df(spark, 0, 50), root)
    register(spark)

    def run():
        q = (
            spark.readStream.format("snapstore")
            .load(root)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    assert {r.id for r in spark.read.parquet(sink).collect()} == set(range(50))
    ss.snap_commit(_df(spark, 50, 80), root, mode="append")
    ss.snap_commit(_df(spark, 80, 90), root, mode="append")
    run()
    out = spark.read.parquet(sink)
    assert out.count() == 90  # exactly once: 50 + 30 + 10
    assert {r.id for r in out.collect()} == set(range(90))


def test_stream_since_version_skips_resident_data(spark, tmp_path):
    root = str(tmp_path / "s4")
    sink = str(tmp_path / "sink4")
    ckpt = str(tmp_path / "ckpt4")
    ss.snap_commit(_df(spark, 0, 50), root)
    ss.snap_commit(_df(spark, 50, 60), root, mode="append")
    register(spark)
    q = (
        spark.readStream.format("snapstore")
        .option("sinceVersion", 0)
        .load(root)
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert {r.id for r in spark.read.parquet(sink).collect()} == set(
        range(50, 60)
    )


def test_stream_refuses_overwrite_mid_lineage(spark, tmp_path):
    root = str(tmp_path / "s5")
    sink = str(tmp_path / "sink5")
    ckpt = str(tmp_path / "ckpt5")
    ss.snap_commit(_df(spark, 0, 10), root)
    register(spark)

    def run():
        q = (
            spark.readStream.format("snapstore")
            .load(root)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    ss.snap_commit(_df(spark, 100, 105), root, mode="overwrite")
    with pytest.raises(Exception, match="overwrite"):
        run()


def test_stream_initial_snapshot_aligns_evolved_files(spark, tmp_path):
    """A stream started on an evolved store reads pre-evolution files
    with the added column as NULL — the worker-side schema alignment."""
    root = str(tmp_path / "s6")
    sink = str(tmp_path / "sink6")
    ckpt = str(tmp_path / "ckpt6")
    ss.snap_commit(_df(spark, 0, 5), root)
    ss.snap_commit(
        _df(spark, 5, 8).withColumn("note", F.concat(F.lit("n"), F.col("id"))),
        root,
        mode="append",
        evolve=True,
    )
    register(spark)
    q = (
        spark.readStream.format("snapstore")
        .load(root)
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.read.parquet(sink)
    assert set(out.columns) == {"id", "val", "note"}
    rows = {r.id: r.note for r in out.collect()}
    assert len(rows) == 8
    assert all(rows[i] is None for i in range(5))
    assert rows[7] == "n7"


def test_batch_writer_two_phase_commit(spark, tmp_path):
    """df.write.format(\"snapstore\"): tasks stage files + stats, the
    driver publishes atomically; append/overwrite semantics, manifest
    metadata (count/stats) arrive from the commit messages."""
    root = str(tmp_path / "w1")
    register(spark)
    _df(spark, 0, 100).repartition(4).write.format("snapstore").mode(
        "append"
    ).save(root)
    _df(spark, 100, 150).repartition(2).write.format("snapstore").mode(
        "append"
    ).save(root)
    assert ss.snap_count(root) == 150  # rows from commit messages
    assert {r.id for r in ss.snap_read(spark, root).collect()} == set(range(150))
    assert ss.snap_versions(root) == [0, 1]

    # stats ride in the messages: range-clustered write prunes
    (_df(spark, 0, 1000)
        .repartitionByRange(8, "id")
        .write.format("snapstore")
        .mode("overwrite")
        .option("statsCols", "id")
        .save(root))
    kept, total = ss.snap_prune_files(root, "id", 100, 150)
    assert total == 8 and len(kept) <= 2
    assert ss.snap_read_between(spark, root, "id", 100, 150).count() == 51

    # schema gate holds through the writer path
    import pyspark.sql.utils  # noqa: F401

    bad = spark.range(3).select(F.col("id").cast("string").alias("id2"))
    with pytest.raises(Exception, match="schema mismatch"):
        bad.write.format("snapstore").mode("append").save(root)
    # failed job published nothing
    assert ss.snap_current_version(root) == 2


def test_batch_writer_evolve_option(spark, tmp_path):
    root = str(tmp_path / "w2")
    register(spark)
    # NB the engine only admits Append/Overwrite save modes for Python
    # data sources — the default ErrorIfExists is refused upstream
    _df(spark, 0, 5).write.format("snapstore").mode("append").save(root)
    (_df(spark, 5, 8)
        .withColumn("note", F.lit("x"))
        .write.format("snapstore")
        .mode("append")
        .option("evolve", "true")
        .save(root))
    got = spark.read.format("snapstore").load(root)
    assert got.columns == ["id", "val", "note"]
    assert got.filter(F.col("note").isNull()).count() == 5


def test_stream_writer_exactly_once(spark, tmp_path):
    """writeStream.format(\"snapstore\"): availableNow + restart from the
    same checkpoint lands zero duplicates with monotone tags; a direct
    replayed-batch commit deletes its staged files and no-ops."""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    root = str(tmp_path / "w3")
    register(spark)
    _df(spark, 0, 10).coalesce(1).write.parquet(src)
    _df(spark, 10, 20).coalesce(1).write.mode("append").parquet(src)

    def run():
        q = (
            spark.readStream.schema("id long, val long")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
            .writeStream.format("snapstore")
            .option("path", root)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    assert {r.id for r in ss.snap_read(spark, root).collect()} == set(range(20))
    _df(spark, 20, 30).coalesce(1).write.mode("append").parquet(src)
    run()  # restart: only the new file lands
    assert ss.snap_count(root) == 30
    tags = [ss._read_manifest(root, v)["tag"] for v in ss.snap_versions(root)]
    assert tags == sorted(tags)

    # direct replay: a commit at-or-below the published tag no-ops and
    # removes its staged files
    from wsspark.snapsource import SnapstoreStreamWriter, _write_task_file

    w = SnapstoreStreamWriter(root, ss.snap_read(spark, root).schema, [])
    import pyarrow as pa

    batch = pa.RecordBatch.from_pydict({"id": [999], "val": [0]})
    msg = w.write(iter([batch]))
    staged_dir = __import__("os").path.dirname(msg.file)
    before = ss.snap_current_version(root)
    w.commit([msg], batchId=0)  # tag 0 <= last published tag
    assert ss.snap_current_version(root) == before  # no new version
    assert not __import__("os").path.isdir(staged_dir)  # staged files gone
    assert ss.snap_count(root) == 30


def test_store_to_store_streaming_pipeline(spark, tmp_path):
    """The composed loop: snapstore readStream (versions-as-offsets) ->
    transform -> snapstore writeStream (exactly-once tags). Appends to
    the source flow through incrementally; a checkpoint restart moves
    only the delta; both stores stay consistent."""
    src_root = str(tmp_path / "p-src")
    dst_root = str(tmp_path / "p-dst")
    ckpt = str(tmp_path / "p-ckpt")
    register(spark)
    ss.snap_commit(_df(spark, 0, 40), src_root)

    def run():
        q = (
            spark.readStream.format("snapstore")
            .load(src_root)
            .withColumn("val3", F.col("val") * 3)
            .writeStream.format("snapstore")
            .option("path", dst_root)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    assert ss.snap_count(dst_root) == 40
    ss.snap_commit(_df(spark, 40, 70), src_root, mode="append")
    run()  # only the 30-row delta moves
    out = ss.snap_read(spark, dst_root)
    assert ss.snap_count(dst_root) == 70
    assert {(r.id, r.val3) for r in out.collect()} == {
        (i, i * 6) for i in range(70)
    }
    # destination lineage is append-only with monotone batch tags
    tags = [
        ss._read_manifest(dst_root, v)["tag"]
        for v in ss.snap_versions(dst_root)
    ]
    assert tags == sorted(tags)


def test_writer_timestamp_stats_naive_utc(spark, tmp_path):
    """Arrow hands the writer tz-AWARE timestamps; manifest stats must
    normalize to naive UTC isoformat so both writer paths share one
    comparable string space and range pruning stays sound (review
    finding r9)."""
    import datetime as dt

    root = str(tmp_path / "wts")
    register(spark)
    rows = [
        (i, dt.datetime(1996, 3, 1) + dt.timedelta(days=i)) for i in range(60)
    ]
    df = spark.createDataFrame(rows, "id long, ts timestamp")
    (df.repartitionByRange(6, "ts")
        .write.format("snapstore")
        .mode("append")
        .option("statsCols", "ts")
        .save(root))
    m = ss._read_manifest(root, 0)
    for st in m["file_stats"].values():
        lo, hi = st["ts"]
        assert "+" not in lo and "+" not in hi and not lo.endswith("Z")
    # pruning through the recorded stats returns exactly the right rows
    got = ss.snap_read_between(
        spark,
        root,
        "ts",
        dt.datetime(1996, 3, 10),
        dt.datetime(1996, 3, 20),
    )
    kept, total = ss.snap_prune_files(
        root, "ts", dt.datetime(1996, 3, 10), dt.datetime(1996, 3, 20)
    )
    assert got.count() == 11
    assert len(kept) < total


def test_format_read_applies_deletion_vectors(spark, tmp_path):
    """The Python DataSource read path masks dv-deleted rows worker-side
    (positional-delete lists shipped per partition) — a direct pyarrow
    file read would otherwise resurrect them on exactly this path."""
    from wsspark import snapstore as ss

    root = str(tmp_path / "dvsrc")
    spark.range(100).selectExpr("id", "id * 2 AS val").repartition(
        4
    ).write.format("snapstore").mode("append").save(root)
    ss.snap_delete_dv(spark, root, "id % 7 = 0")
    got = {
        r.id for r in spark.read.format("snapstore").load(root).collect()
    }
    assert got == {i for i in range(100) if i % 7 != 0}
    # pushed-filter pruned read also applies the mask
    got2 = {
        r.id
        for r in spark.read.format("snapstore")
        .load(root)
        .filter("id < 50")
        .collect()
    }
    assert got2 == {i for i in range(50) if i % 7 != 0}


def test_constraints_gate_the_datasource_writer(spark, tmp_path):
    """format('snapstore') writes validate against the table's CHECKs at
    publish; a violating job stages, fails, and leaves no version."""
    from wsspark import snapstore as ss

    register(spark)
    root = str(tmp_path / "t_chk2")
    spark.range(10).selectExpr("id", "id AS val").write.format(
        "snapstore"
    ).mode("append").save(root)
    ss.snap_add_constraint(spark, root, "val_nonneg", "val >= 0")
    before = ss.snap_current_version(root)
    bad = spark.range(3).selectExpr("id", "-id - 1 AS val")
    import pytest

    with pytest.raises(Exception, match="ConstraintViolation|violated"):
        bad.write.format("snapstore").mode("append").save(root)
    assert ss.snap_current_version(root) == before
    assert ss.snap_count(root) == 10


def test_stream_writer_surfaces_constraint_violation(spark, tmp_path):
    """writeStream.format("snapstore") into a constrained table: the
    violating micro-batch must be refused BEFORE its tagged manifest
    publishes (pre-fix the streaming writer skipped the CHECK the batch
    writer ran) — staged files cleaned, cursor not advanced, and a
    post-fix restart from the same checkpoint replays cleanly."""
    import pyspark.errors

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    root = str(tmp_path / "w_chk")
    register(spark)
    ss.snap_commit(_df(spark, 0, 10), root)
    ss.snap_add_constraint(spark, root, "val_nonneg", "val >= 0")
    spark.createDataFrame([(100, -1)], "id long, val long").coalesce(
        1
    ).write.parquet(src)

    def run():
        q = (
            spark.readStream.schema("id long, val long")
            .parquet(src)
            .writeStream.format("snapstore")
            .option("path", root)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    with pytest.raises(pyspark.errors.StreamingQueryException) as exc:
        run()
    assert "val_nonneg" in str(exc.value)
    assert ss.snap_count(root) == 10
    assert ss.snap_last_int_tag(root) is None
    # no staged garbage left behind for vacuum to trip over
    import os

    data_dir = os.path.join(root, "data")
    assert not [
        d for d in os.listdir(data_dir) if d.startswith("commit-s-")
    ]
    ss.snap_drop_constraint(root, "val_nonneg")
    run()
    assert ss.snap_count(root) == 11
    run()  # restart: replay no-ops
    assert ss.snap_count(root) == 11


def test_stream_read_change_feed(spark, tmp_path):
    """readChangeFeed streaming: the initial snapshot arrives DV-applied
    as inserts, then each micro-batch delivers row-level DML changes
    (update pre/post images, deletes) exactly once across a
    checkpoint restart; compaction contributes nothing."""
    root = str(tmp_path / "w_cdf")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    register(spark)
    ss.snap_commit(_df(spark, 0, 10), root)          # v0
    ss.snap_delete_dv(spark, root, "id = 9")         # v1 (pre-stream dv)
    ss.snap_enable_cdf(root)                         # v2

    def run():
        q = (
            spark.readStream.format("snapstore")
            .option("readChangeFeed", "true")
            .load(root)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()  # initial snapshot: ids 0..8 (9 dv-deleted), all inserts
    got = spark.read.parquet(sink)
    assert {
        (r.id, r._change_type, r._commit_version) for r in got.collect()
    } == {(i, "insert", 2) for i in range(9)}

    ss.snap_update_where(spark, root, "id = 4", {"val": "val + 100"})  # v3
    ss.snap_delete_where(spark, root, "id = 7")                        # v4
    ss.snap_compact(spark, root, target_file_mb=64)                    # v5
    ss.snap_commit(_df(spark, 20, 22), root, mode="append")            # v6
    run()  # restart from checkpoint: only the new changes land
    rows = {
        (r.id, r.val, r._change_type, r._commit_version)
        for r in spark.read.parquet(sink).collect()
    }
    assert rows == {(i, i * 2, "insert", 2) for i in range(9)} | {
        (4, 8, "update_preimage", 3),
        (4, 108, "update_postimage", 3),
        (7, 14, "delete", 4),
        (20, 40, "insert", 6),
        (21, 42, "insert", 6),
    }
    run()  # idempotent: nothing new
    assert spark.read.parquet(sink).count() == len(rows)


def test_stream_change_feed_refuses_lineage_reset(spark, tmp_path):
    """A user overwrite mid-stream fails the micro-batch instead of
    feeding a silently wrong delta."""
    import pyspark.errors

    root = str(tmp_path / "w_cdf2")
    sink = str(tmp_path / "sink2")
    ckpt = str(tmp_path / "ckpt2")
    register(spark)
    ss.snap_commit(_df(spark, 0, 5), root)
    ss.snap_enable_cdf(root)

    def run():
        q = (
            spark.readStream.format("snapstore")
            .option("readChangeFeed", "true")
            .load(root)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    ss.snap_commit(_df(spark, 50, 52), root, mode="overwrite")
    with pytest.raises(pyspark.errors.StreamingQueryException) as exc:
        run()
    assert "lineage reset" in str(exc.value)


def test_batch_read_change_feed(spark, tmp_path):
    """Batch table_changes: readChangeFeed + sinceVersion/untilVersion
    serves the same row-level feed as snap_read_changes_cdf, including
    sidecar rows, append inserts, and the -1 initial-snapshot form."""
    root = str(tmp_path / "b_cdf")
    register(spark)
    ss.snap_commit(_df(spark, 0, 6), root)                     # v0
    since = ss.snap_enable_cdf(root)                           # v1
    ss.snap_update_where(spark, root, "id = 2", {"val": "99"})  # v2
    ss.snap_commit(_df(spark, 10, 12), root, mode="append")    # v3

    got = (
        spark.read.format("snapstore")
        .option("readChangeFeed", "true")
        .option("sinceVersion", str(since))
        .load(root)
    )
    rows = sorted(
        (r.id, r.val, r._change_type, r._commit_version)
        for r in got.collect()
    )
    assert rows == sorted(
        [
            (2, 4, "update_preimage", 2),
            (2, 99, "update_postimage", 2),
            (10, 20, "insert", 3),
            (11, 22, "insert", 3),
        ]
    )
    # untilVersion bounds the span
    bounded = (
        spark.read.format("snapstore")
        .option("readChangeFeed", "true")
        .option("sinceVersion", str(since))
        .option("untilVersion", "2")
        .load(root)
    )
    assert bounded.count() == 2
    # -1: DV-applied initial snapshot as inserts at CURRENT
    full = (
        spark.read.format("snapstore")
        .option("readChangeFeed", "true")
        .option("sinceVersion", "-1")
        .load(root)
    )
    assert {(r.id, r._change_type) for r in full.collect()} == {
        (i, "insert") for i in [0, 1, 2, 3, 4, 5, 10, 11]
    }
    with pytest.raises(Exception, match="sinceVersion"):
        spark.read.format("snapstore").option(
            "readChangeFeed", "true"
        ).load(root).collect()


def test_batch_read_timestamp_asof_option(spark, tmp_path):
    """Delta's reader option: .option('timestampAsOf', ts) pins the
    latest version published at-or-before the wall clock (epoch seconds
    or ISO datetime string); giving both version and timestampAsOf
    refuses."""
    import datetime
    import time as _t

    root = str(tmp_path / "s_asof")
    ss.snap_commit(_df(spark, 0, 100), root)
    _t.sleep(0.05)
    t_mid = _t.time()
    _t.sleep(0.05)
    ss.snap_commit(_df(spark, 100, 150), root, mode="append")
    register(spark)
    pinned = (
        spark.read.format("snapstore")
        .option("timestampAsOf", str(t_mid))
        .load(root)
    )
    assert pinned.count() == 100
    iso = datetime.datetime.fromtimestamp(t_mid).isoformat()
    pinned_iso = (
        spark.read.format("snapstore")
        .option("timestampAsOf", iso)
        .load(root)
    )
    assert pinned_iso.count() == 100
    now = (
        spark.read.format("snapstore")
        .option("timestampAsOf", str(_t.time()))
        .load(root)
    )
    assert now.count() == 150
    with pytest.raises(Exception, match="not both"):
        (
            spark.read.format("snapstore")
            .option("version", 0)
            .option("timestampAsOf", str(t_mid))
            .load(root)
            .collect()
        )


def test_stream_change_feed_delivers_replace_where(spark, tmp_path):
    """The newest DML through the newest reader: a snap_overwrite_where
    (replaceWhere) commit streams as its delete+insert sidecar rows,
    exactly once across a checkpoint restart."""
    root = str(tmp_path / "w_cdf_rw")
    sink = str(tmp_path / "sink_rw")
    ckpt = str(tmp_path / "ckpt_rw")
    register(spark)
    ss.snap_commit(_df(spark, 0, 10), root)  # v0
    ss.snap_enable_cdf(root)                 # v1

    def run():
        q = (
            spark.readStream.format("snapstore")
            .option("readChangeFeed", "true")
            .load(root)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()  # initial snapshot
    repl = spark.range(0, 2).select(
        F.col("id"), F.lit(-1).cast("long").alias("val")
    )
    ss.snap_overwrite_where(spark, root, "id < 5", repl)  # v2
    run()
    rows = {
        (r.id, r.val, r._change_type, r._commit_version)
        for r in spark.read.parquet(sink).collect()
    }
    want = {(i, i * 2, "insert", 1) for i in range(10)}
    want |= {(i, i * 2, "delete", 2) for i in range(5)}
    want |= {(0, -1, "insert", 2), (1, -1, "insert", 2)}
    assert rows == want
    run()  # idempotent
    assert spark.read.parquet(sink).count() == len(want)


def test_stream_timestamp_asof_starting_point(spark, tmp_path):
    """Delta's startingTimestamp shape: .option('timestampAsOf', ts) on
    readStream starts from the version current at that instant —
    resident data up to it is skipped, later commits stream."""
    import time as _t

    root = str(tmp_path / "w_ts")
    sink = str(tmp_path / "sink_ts")
    ckpt = str(tmp_path / "ckpt_ts")
    register(spark)
    ss.snap_commit(_df(spark, 0, 10), root)          # v0
    _t.sleep(0.05)
    t_mid = _t.time()
    _t.sleep(0.05)
    ss.snap_commit(_df(spark, 10, 15), root, "append")  # v1
    q = (
        spark.readStream.format("snapstore")
        .option("timestampAsOf", str(t_mid))
        .load(root)
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r.id for r in spark.read.parquet(sink).collect()}
    assert got == set(range(10, 15))  # v0's resident rows skipped
    # streamReader plans lazily: the both-given refusal surfaces at start
    with pytest.raises(Exception, match="not both"):
        q2 = (
            spark.readStream.format("snapstore")
            .option("sinceVersion", "0")
            .option("timestampAsOf", str(t_mid))
            .load(root)
            .writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "ckpt_ts2"))
            .trigger(availableNow=True)
            .start()
        )
        q2.awaitTermination(60)


def test_stream_timestamp_asof_edges(spark, tmp_path):
    """Review-found stream edges: a pre-table timestampAsOf streams the
    WHOLE table (Delta delivers from the earliest version, no raise); a
    timestampAsOf across a schema evolution refuses honestly (the
    declared schema is the as-of version's and would misalign delivered
    batches); readChangeFeed + timestampAsOf refuses."""
    import time as _t

    root = str(tmp_path / "w_ts_edge")
    register(spark)
    t_before = _t.time()
    _t.sleep(0.05)
    ss.snap_commit(_df(spark, 0, 10), root)
    sink = str(tmp_path / "sink_edge")
    q = (
        spark.readStream.format("snapstore")
        .option("timestampAsOf", str(t_before))
        .load(root)
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "ck_edge"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert spark.read.parquet(sink).count() == 10  # full initial snapshot
    # evolution after the pin: refuse at stream start
    _t.sleep(0.05)
    t_mid = _t.time()
    _t.sleep(0.05)
    evolved = spark.range(10, 12).select(
        F.col("id"), (F.col("id") * 2).alias("val"), F.lit("x").alias("note")
    )
    ss.snap_commit(evolved, root, "append", evolve=True)
    with pytest.raises(Exception, match="schema evolution"):
        q2 = (
            spark.readStream.format("snapstore")
            .option("timestampAsOf", str(t_mid))
            .load(root)
            .writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "ck_edge2"))
            .trigger(availableNow=True)
            .start()
        )
        q2.awaitTermination(60)
    # CDF + timestampAsOf: version-addressed spans only
    with pytest.raises(Exception, match="sinceVersion"):
        (
            spark.read.format("snapstore")
            .option("readChangeFeed", "true")
            .option("sinceVersion", "0")
            .option("timestampAsOf", str(t_mid))
            .load(root)
            .collect()
        )


def test_stream_refuses_version_option_and_compact_iso_date(spark, tmp_path):
    """Review-2 edges: readStream with .option('version', n) refuses
    (declared schema would pin the historical shape while batches
    deliver the current one); _parse_ts treats an 8-digit string as the
    compact ISO date, not epoch seconds."""
    import datetime

    from wsspark.snapsource import _parse_ts

    assert _parse_ts("20240105") == datetime.datetime(2024, 1, 5).timestamp()
    assert _parse_ts("1700000000") == 1700000000.0  # real epoch: 10 digits
    root = str(tmp_path / "w_vref")
    ss.snap_commit(_df(spark, 0, 5), root)
    register(spark)
    with pytest.raises(Exception, match="does not apply to readStream"):
        q = (
            spark.readStream.format("snapstore")
            .option("version", 0)
            .load(root)
            .writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "ck_vref"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)


def test_batch_pushdown_vectorized_on_detail_backed_store(
    spark, tmp_path, monkeypatch
):
    """r13: on a detail-sidecar-backed manifest the DataSource's pushed
    filters prune through the VECTORIZED typed index (no dict
    reconstruction). Planned partitions must cover every matching file
    (superset contract — strict bounds widen to inclusive) and results
    stay exact end to end."""
    monkeypatch.setattr(ss, "DETAIL_INLINE_MAX", 0)
    root = str(tmp_path / "sdet")
    ss.snap_commit(
        _df(spark, 0, 2000).repartitionByRange(8, "id"),
        root,
        stats_cols=["id"],
        bloom_cols=["id"],
    )
    assert isinstance(ss._read_manifest(root, 0), ss._LazyManifest)
    rr = SnapstoreBatchReader(root, None)
    rr.pushFilters([GreaterThanOrEqual(("id",), 1500), LessThan(("id",), 1700)])
    n_range = len(rr.partitions())
    assert 0 < n_range <= 2

    re_eq = SnapstoreBatchReader(root, None)
    re_eq.pushFilters([EqualTo(("id",), 1234)])
    assert len(re_eq.partitions()) <= 2

    r_in = SnapstoreBatchReader(root, None)
    r_in.pushFilters([In(("id",), (3, 700, 1543))])
    assert len(r_in.partitions()) <= 3

    register(spark)
    got = (
        spark.read.format("snapstore")
        .load(root)
        .filter((F.col("id") >= 1500) & (F.col("id") < 1700))
        .collect()
    )
    assert sorted(r.id for r in got) == list(range(1500, 1700))
    got_eq = (
        spark.read.format("snapstore")
        .load(root)
        .filter(F.col("id").isin(3, 700, 1543))
        .collect()
    )
    assert sorted(r.id for r in got_eq) == [3, 700, 1543]
