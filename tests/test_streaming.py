"""Streaming surface tests: each streaming operator must agree with its
batch twin on the same data (run with availableNow + memory sink)."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from wsspark import streaming
from wsspark.io import read_table
from wsspark.queries import streamq


def test_streamq_imports_first_in_a_fresh_process():
    """``llm`` builds its registry from ``streamq`` at import, so
    ``streamq`` must import on its own in a fresh interpreter (it takes
    the shared pin and parameters from ``queries.shared``, not ``llm``)."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    r = subprocess.run(
        [
            sys.executable,
            "-c",
            "from wsspark.queries import streamq; "
            "streamq.q_streaming_event_dedup",
        ],
        cwd=repo,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert r.returncode == 0, r.stderr


@pytest.fixture()
def events_dir(spark, sf_dir, tmp_path):
    """Copy the events parquet into a stream-source directory."""
    src = os.path.join(sf_dir, "events.parquet")
    d = tmp_path / "stream_src"
    d.mkdir()
    shutil.copy(src, d / "events.parquet")
    return str(d)


def run_available_now(df, spark, name: str):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete" if df.isStreaming else "append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


def test_stream_reader_handles_legacy_ns_source(spark, sf_dir, tmp_path):
    """Legacy testdata stored events.ts as TIMESTAMP(NANOS): the stream
    reader must detect the unit from the parquet footer and apply the exact
    ns->us division — the round-3 corruption put every µs event in 1970
    because the unit was assumed, not observed."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = read_table(spark, sf_dir, "events").limit(20).collect()
    table = pa.table(
        {
            "event_id": pa.array([r["event_id"] for r in rows], pa.int64()),
            "ts": pa.array(
                [r["ts"] for r in rows], pa.timestamp("us")
            ).cast(pa.timestamp("ns")),
            "user_id": pa.array([r["user_id"] for r in rows], pa.int64()),
            "event_type": pa.array([r["event_type"] for r in rows]),
            "value": pa.array([r["value"] for r in rows], pa.float64()),
            "props": pa.array([r["props"] for r in rows]),
        }
    )
    d = tmp_path / "ns_stream_src"
    d.mkdir()
    pq.write_table(table, str(d / "events.parquet"))

    stream = streaming.read_event_stream(spark, str(d))
    q = (
        stream.select("event_id", "ts")
        .writeStream.format("memory")
        .queryName("ns_src_rows")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("ns_src_rows").collect()
    want = {r["event_id"]: r["ts"] for r in rows}
    assert {r["event_id"]: r["ts"] for r in got} == want


def test_windowed_counts_match_batch(spark, sf_dir, events_dir):
    stream = streaming.read_event_stream(spark, events_dir)
    got = run_available_now(
        streaming.windowed_event_counts(stream), spark, "win_counts"
    ).toPandas()

    batch = (
        read_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 day").alias("bucket"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("bucket.start").alias("bucket_start"),
            "event_type",
            "n_events",
        )
        .toPandas()
    )
    key = ["bucket_start", "event_type"]
    got_s = got[key + ["n_events"]].sort_values(key).reset_index(drop=True)
    want = batch[key + ["n_events"]].sort_values(key).reset_index(drop=True)
    assert got_s.equals(want)


def test_session_windows_match_batch_session_count(spark, sf_dir, events_dir):
    stream = streaming.read_event_stream(spark, events_dir)
    got = run_available_now(
        streaming.session_window_stats(stream), spark, "sessions"
    )
    # batch twin: native session_window on the static frame
    batch = (
        read_table(spark, sf_dir, "events")
        .groupBy(F.session_window("ts", "30 minutes").alias("s"), "user_id")
        .agg(F.count("*").alias("n_events"))
    )
    assert got.count() == batch.count()
    g = got.groupBy("user_id").count().toPandas().set_index("user_id")["count"]
    b = batch.groupBy("user_id").count().toPandas().set_index("user_id")["count"]
    assert g.sort_index().equals(b.sort_index())


def test_snapshot_maintainer_upsert_and_audit(spark, tmp_path):
    """Two micro-batches of movements -> snapshot equals the signed sum and
    the audit log records INSERT then UPDATE (trigger semantics, M1+M5)."""
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    src = str(tmp_path / "mv_src")
    os.makedirs(src)

    batch1 = spark.createDataFrame(
        [(1, 1, 100), (1, 2, 50), (2, 1, 10)],
        ["product_id", "warehouse_id", "quantity"],
    )
    batch2 = spark.createDataFrame(
        [(1, 1, -40), (3, 1, 7), (1, 2, 0)],
        ["product_id", "warehouse_id", "quantity"],
    )

    maintainer = streaming.SnapshotMaintainer(spark, store)
    schema = "product_id LONG, warehouse_id LONG, quantity LONG"

    batch1.write.parquet(os.path.join(src, "b1"))
    stream = spark.readStream.schema(schema).parquet(src + "/*")
    q = maintainer.attach(stream, ckpt)
    q.awaitTermination(120)

    batch2.write.parquet(os.path.join(src, "b2"))
    stream = spark.readStream.schema(schema).parquet(src + "/*")
    q = maintainer.attach(stream, ckpt)
    q.awaitTermination(120)

    snap = {
        (r["product_id"], r["warehouse_id"]): r["quantity_on_hand"]
        for r in maintainer.snapshot().collect()
    }
    assert snap == {(1, 1): 60, (1, 2): 50, (2, 1): 10, (3, 1): 7}

    audit = spark.read.parquet(maintainer.audit_path)
    ops = {
        (r["product_id"], r["warehouse_id"], r["batch_id"]): r["operation_type"]
        for r in audit.collect()
    }
    assert ops[(1, 1, 0)] == "INSERT"
    assert ops[(1, 1, 1)] == "UPDATE"
    assert (3, 1, 1) in ops and ops[(3, 1, 1)] == "INSERT"
    # zero-delta key (1,2) in batch2 must NOT produce an audit row
    assert (1, 2, 1) not in ops


def test_streaming_dq_rules_apply_statelessly(spark, sf_dir, events_dir):
    """The batch DQ predicates compose onto a stream unchanged (stateless
    projection): bad rows never reach the windowed aggregation."""
    from wsspark import quality

    stream = streaming.read_event_stream(spark, events_dir)
    flagged = quality.dq_flag(
        stream.withColumnRenamed("ts", "movement_date")
        .withColumnRenamed("value", "quantity")
        .withColumn("movement_type", F.lit("IN")),
        as_of="2024-02-01 00:00:00",
        ref_col="event_id",
    )
    clean = quality.dq_filter(flagged).withColumnRenamed("movement_date", "ts")
    got = run_available_now(
        streaming.windowed_event_counts(clean), spark, "dq_counts"
    )
    total_stream = got.agg(F.sum("n_events")).collect()[0][0]

    ev = read_table(spark, sf_dir, "events")
    batch_clean = ev.filter(
        (F.col("ts") <= "2024-02-01") & (F.col("value") >= 0)
    )
    assert total_stream == batch_clean.count()


def test_watermark_drops_late_rows_across_batches(spark, tmp_path):
    """Rows older than the watermark horizon arriving in a later micro-batch
    are dropped from the aggregation — the streaming form of the late-data
    rule (SURVEY.md §2.10)."""
    import datetime as dt
    import os

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ck")
    sink = str(tmp_path / "sink")
    os.makedirs(src)
    schema = "event_id LONG, ts TIMESTAMP, event_type STRING"
    day = dt.datetime(2024, 1, 10)

    def run_batch():
        stream = spark.readStream.schema(schema).parquet(src + "/*")
        agg = (
            stream.withWatermark("ts", "1 day")
            .groupBy(F.window("ts", "1 day").alias("w"))
            .agg(F.count("*").alias("n"))
            .select(F.col("w.start").alias("day"), "n")
        )
        q = (
            agg.writeStream.format("parquet")
            .option("path", sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # batch 1: events on Jan 10 push the watermark to Jan 9
    spark.createDataFrame(
        [(i, day + dt.timedelta(hours=i), "a") for i in range(5)], schema
    ).write.parquet(src + "/b1")
    run_batch()
    # batch 2: one on-time row (Jan 10) + one 8-days-late row (Jan 2)
    spark.createDataFrame(
        [(10, day + dt.timedelta(hours=6), "a"), (11, day - dt.timedelta(days=8), "a")],
        schema,
    ).write.parquet(src + "/b2")
    run_batch()
    # close the Jan-10 window so its final count emits (append mode)
    spark.createDataFrame(
        [(12, day + dt.timedelta(days=3), "a")], schema
    ).write.parquet(src + "/b3")
    run_batch()

    rows = {r["day"]: r["n"] for r in spark.read.parquet(sink).collect()}
    # Jan 10 window: 5 (batch1) + 1 on-time (batch2); the late Jan-2 row
    # must NOT appear as its own window
    assert rows[day] == 6
    assert (day - dt.timedelta(days=8)) not in rows


def test_low_stock_alerts_stateful_across_batches(spark, tmp_path):
    """applyInPandasWithState keeps per-key balances across micro-batches:
    an alert fires only when the running balance crosses the threshold,
    using state persisted in the checkpoint."""
    import os

    src = str(tmp_path / "alert_src")
    ckpt = str(tmp_path / "alert_ck")
    sink = str(tmp_path / "alert_sink")
    os.makedirs(src)
    schema = "product_id LONG, warehouse_id LONG, quantity LONG"

    def run_batch():
        stream = spark.readStream.schema(schema).parquet(src + "/*")
        alerts = streaming.low_stock_alerts(stream, reorder_points=10)
        q = (
            alerts.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # batch 1: (1,1) gets 50 (no alert), (2,1) gets 8 (alert: 8 <= 10)
    spark.createDataFrame(
        [(1, 1, 50), (2, 1, 8)], schema
    ).write.parquet(src + "/b1")
    run_batch()
    # batch 2: (1,1) loses 45 -> balance 5 (alert), (2,1) gains 20 -> 28 (none)
    spark.createDataFrame(
        [(1, 1, -45), (2, 1, 20)], schema
    ).write.parquet(src + "/b2")
    run_batch()

    rows = spark.read.parquet(sink).collect()
    alerts = {(r["product_id"], r["warehouse_id"]): r["balance"] for r in rows}
    assert alerts == {(2, 1): 8, (1, 1): 5}
    deltas = {(r["product_id"], r["warehouse_id"]): r["batch_delta"] for r in rows}
    assert deltas[(1, 1)] == -45  # second batch's delta, against carried state


def test_snapshot_maintainer_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: re-delivering the same batch_id (crash
    between sink write and checkpoint commit) must not double-apply the
    movement delta or duplicate audit rows."""
    store = str(tmp_path / "replay_store")
    schema = "product_id LONG, warehouse_id LONG, quantity LONG"
    m = streaming.SnapshotMaintainer(spark, store)

    b0 = spark.createDataFrame([(1, 1, 100), (2, 1, 10)], schema)
    m.process_batch(b0, 0)
    m.process_batch(b0, 0)  # replayed micro-batch

    snap = {
        (r["product_id"], r["warehouse_id"]): r["quantity_on_hand"]
        for r in m.snapshot().collect()
    }
    assert snap == {(1, 1): 100, (2, 1): 10}  # not 200/20
    assert spark.read.parquet(m.audit_path).count() == 2  # one row per key

    # the NEXT batch still applies normally on top of the guarded state
    m.process_batch(spark.createDataFrame([(1, 1, -40)], schema), 1)
    snap = {
        (r["product_id"], r["warehouse_id"]): r["quantity_on_hand"]
        for r in m.snapshot().collect()
    }
    assert snap[(1, 1)] == 60
    # no leftover staging directories
    import glob

    assert glob.glob(m.snapshot_path + "._v*") == []


def test_stream_interval_join_matches_batch_range_join(spark, sf_dir, events_dir):
    """Every (purchase, click-in-window) pair the batch bucketed range join
    produces must come out of the stream-stream interval join too."""
    stream = streaming.read_event_stream(spark, events_dir)
    joined = streaming.stream_click_attribution(stream)
    # stream-stream joins only support append mode (not complete)
    q = (
        joined.writeStream.format("memory")
        .queryName("click_attr")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("click_attr").toPandas()

    ev = read_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("purchase_ts")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), F.col("user_id").alias("cu"),
        F.col("ts").alias("click_ts"),
    )
    want = (
        p.join(
            c,
            (p["user_id"] == c["cu"])
            & (c["click_ts"] >= p["purchase_ts"] - F.expr("INTERVAL 3600 SECONDS"))
            & (c["click_ts"] < p["purchase_ts"]),
        )
        .select("purchase_id", "click_id")
        .toPandas()
    )
    got_pairs = set(map(tuple, got[["purchase_id", "click_id"]].itertuples(index=False)))
    want_pairs = set(map(tuple, want.itertuples(index=False)))
    assert got_pairs == want_pairs
    assert len(want_pairs) > 0  # the comparison is falsifiable


def test_distinct_daily_actors_dedups_across_batches(spark, tmp_path):
    """The dropDuplicates state store must suppress a duplicate key arriving
    in a LATER micro-batch (same user/type/day), while a new day for the
    same user still emits — cross-batch state, restored from the
    checkpoint between availableNow runs."""
    import datetime as dt
    import os

    from wsspark import streaming as stx

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ck")
    sink = str(tmp_path / "sink")
    os.makedirs(src)
    schema = "event_id LONG, ts TIMESTAMP, event_type STRING, user_id LONG"
    day = dt.datetime(2024, 1, 10)

    def run_batch():
        stream = spark.readStream.schema(schema).parquet(src + "/*")
        out = stx.distinct_daily_actors(stream)
        q = (
            out.writeStream.format("parquet")
            .option("path", sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)

    # batch 1: user 1 clicks twice on Jan 10 (in-batch dup), user 2 once
    spark.createDataFrame(
        [
            (1, day + dt.timedelta(hours=1), "click", 1),
            (2, day + dt.timedelta(hours=2), "click", 1),
            (3, day + dt.timedelta(hours=3), "click", 2),
        ],
        schema,
    ).write.parquet(src + "/b1")
    run_batch()
    # batch 2: user 1 clicks Jan 10 AGAIN (cross-batch dup -> suppressed)
    # and Jan 11 (new day -> emitted)
    spark.createDataFrame(
        [
            (4, day + dt.timedelta(hours=5), "click", 1),
            (5, day + dt.timedelta(days=1), "click", 1),
        ],
        schema,
    ).write.parquet(src + "/b2")
    run_batch()

    got = {
        (r["user_id"], r["event_type"], r["day"])
        for r in spark.read.parquet(sink).collect()
    }
    assert got == {
        (1, "click", day),
        (2, "click", day),
        (1, "click", day + dt.timedelta(days=1)),
    }


def test_streaming_drift_monitor_alert_and_replay(spark, tmp_path):
    """Per-batch PSI vs a pinned baseline: a same-distribution batch
    stays quiet, a shifted batch alerts; an at-least-once replay rewrites
    its own partition dir instead of duplicating rows."""
    from wsspark.streaming import StreamingDriftMonitor

    baseline = spark.createDataFrame(
        [(float(i % 50), "A" if i % 10 else "B") for i in range(1000)],
        "v double, flag string",
    )
    mon = StreamingDriftMonitor(
        spark,
        str(tmp_path / "driftstore"),
        baseline,
        numeric_cols=["v"],
        cat_cols=["flag"],
    )
    same = spark.createDataFrame(
        [(float(i % 50), "A" if i % 10 else "B") for i in range(400)],
        "v double, flag string",
    )
    shifted = spark.createDataFrame(
        [(float(i % 50) + 40.0, "B") for i in range(400)],
        "v double, flag string",
    )
    mon.process_batch(same, 0)
    mon.process_batch(shifted, 1)
    rows = {
        (r.batch_id, r.column): r for r in mon.report().collect()
    }
    assert len(rows) == 4
    assert not rows[(0, "v")].drifted and not rows[(0, "flag")].drifted
    assert rows[(1, "v")].drifted and rows[(1, "flag")].drifted
    assert rows[(1, "v")].n_base == 1000 and rows[(1, "v")].n_current == 400
    # replay: same batch id is skipped, report unchanged
    mon.process_batch(same, 1)
    mon.process_batch(shifted, 0)
    assert mon.report().count() == 4


def test_streaming_drift_monitor_topk_scale_path(spark, tmp_path):
    """Unbounded-cardinality columns ride the base-pinned top-k + OTHER
    fold: per-batch state stays O(k), a novel-value flood alerts through
    OTHER, a same-distribution batch stays quiet, and the bounded
    families compose in the same report."""
    from wsspark.streaming import StreamingDriftMonitor

    baseline = spark.createDataFrame(
        [(float(i % 50), f"u{i % 12}") for i in range(1200)],
        "v double, user string",
    )
    mon = StreamingDriftMonitor(
        spark,
        str(tmp_path / "drifttopk"),
        baseline,
        numeric_cols=["v"],
        topk_cols=["user"],
        k=5,
    )
    same = spark.createDataFrame(
        [(float(i % 50), f"u{i % 12}") for i in range(600)],
        "v double, user string",
    )
    flood = spark.createDataFrame(
        [(float(i % 50), f"new{i}") for i in range(600)],
        "v double, user string",
    )
    mon.process_batch(same, 0)
    mon.process_batch(flood, 1)
    rows = {(r.batch_id, r.column): r for r in mon.report().collect()}
    assert len(rows) == 4
    assert not rows[(0, "user")].drifted
    assert rows[(1, "user")].drifted and not rows[(1, "v")].drifted
    assert rows[(1, "user")].kind == "categorical"
    # guard: a column can't ride two families at once
    import pytest

    with pytest.raises(ValueError, match="both"):
        StreamingDriftMonitor(
            spark, str(tmp_path / "x"), baseline,
            cat_cols=["user"], topk_cols=["user"],
        )


def test_stream_wait_outlasts_a_slice_while_the_stream_works(
    spark, tmp_path, monkeypatch
):
    """The availableNow wait outlasts both one polling slice and the stall
    limit while batches keep running, and the stream finishes."""
    import time

    src = tmp_path / "src"
    for i in range(4):
        spark.range(i * 10, i * 10 + 10).coalesce(1).write.parquet(
            str(src / f"part={i}")
        )
    monkeypatch.setattr(streamq, "STREAM_POLL_S", 0.2)
    monkeypatch.setattr(streamq, "STREAM_STALL_S", 1.5)
    seen = []

    def slow_batch(batch, batch_id):
        time.sleep(1.0)
        seen.append(batch.count())

    q = (
        spark.readStream.schema("id long, part int")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .writeStream.foreachBatch(slow_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    t0 = time.monotonic()
    streamq._await_stream(q, "slow")
    assert time.monotonic() - t0 > streamq.STREAM_STALL_S
    assert not q.isActive and sum(seen) == 40 and len(seen) == 4


def test_stream_wait_stops_a_stalled_stream(monkeypatch):
    """No trigger running and no progress for the stall limit: the stream
    is stopped and the wait raises."""
    class Stalled:
        status = {"isTriggerActive": False}
        lastProgress = None
        stopped = False

        def awaitTermination(self, timeout):
            return False

        def stop(self):
            self.stopped = True

    monkeypatch.setattr(streamq, "STREAM_POLL_S", 0.01)
    monkeypatch.setattr(streamq, "STREAM_STALL_S", 0.05)
    q = Stalled()
    with pytest.raises(RuntimeError, match="stalled"):
        streamq._await_stream(q, "stuck")
    assert q.stopped
