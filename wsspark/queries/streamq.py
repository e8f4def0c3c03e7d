"""Driver-checkable streaming queries (SURVEY.md §2.10).

Structured Streaming can't be driven by the (spark, sf_dir) -> DataFrame
contract directly — so each query here runs a real streaming pipeline
(parquet file source -> watermarked aggregation -> availableNow trigger ->
memory sink) to completion INSIDE the callable and returns the sink table.
The DuckDB oracle is the batch-SQL twin of the aggregation, which makes
streaming the same hash-checked surface as every batch operator: the driver
verifies that the stream path buckets/collapses every event exactly like
batch SQL does (this is precisely the invariant that silently broke in
round 3, when the stream reader mis-read microsecond timestamps as nanos
and relocated every event to 1970 — a batch/stream hash comparison catches
that class of bug; a rows-only check does not).

``availableNow`` processes the whole source as bounded input and
terminates, so results are deterministic: the watermark never discards
anything (no batch is "late" relative to a completed run), matching the
batch twin row-for-row.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from wsspark import streaming
from wsspark.exec import local_frame, scratch_dir
from wsspark.io import read_table
from wsspark.queries import Query
from wsspark.queries import core as coreq
from wsspark.queries import shared


# A stream is waited for in slices of STREAM_POLL_S seconds for as long as
# it works — a trigger is running, or its progress moved since the last
# slice — so a busy host finishes late instead of failing. It is stopped
# and reported only after STREAM_STALL_S seconds of neither. A trigger that
# hangs (a deadlocked foreachBatch, a stuck task) stays active, so nothing
# here bounds it: the wait then ends only with the caller's own timeout.
# Counting a stall from progress alone would fail a single availableNow
# batch that is slow on a busy host, which is what this wait is for.
STREAM_POLL_S = 5.0
STREAM_STALL_S = 300.0


def _await_stream(q: StreamingQuery, what: str) -> None:
    """Block until the availableNow stream ``q`` terminates (a failed
    stream raises its own error); stop it and raise once it has stalled."""
    seen = None
    idle_since = time.monotonic()
    while not q.awaitTermination(STREAM_POLL_S):
        progress = q.lastProgress or {}
        mark = (progress.get("batchId"), progress.get("timestamp"))
        if q.status["isTriggerActive"] or mark != seen:
            seen = mark
            idle_since = time.monotonic()
        elif time.monotonic() - idle_since >= STREAM_STALL_S:
            q.stop()
            raise RuntimeError(
                f"{what} stream stalled: no trigger ran and no progress "
                f"for {STREAM_STALL_S:.0f}s"
            )


def _run_to_table(df: DataFrame, spark: SparkSession, name: str) -> DataFrame:
    """Execute a streaming aggregation to completion (availableNow) into a
    memory sink and return the materialized result. Complete output mode:
    aggregations re-emit full state per trigger; with availableNow there is
    exactly one final state."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q, name)
    return spark.table(name)


def _stage_stream_dir(sf_dir: str, scratch: str, table: str = "events") -> str:
    """The parquet file-stream source requires a DIRECTORY; testdata ships
    one file per table. Symlink <table>.parquet into ``src/`` of the
    calling query's scratch dir (a driver-side metadata op — no data is
    copied or mutated), so it goes when the query's scratch dir does."""
    d = os.path.join(scratch, "src")
    os.mkdir(d)
    os.symlink(
        os.path.join(sf_dir, f"{table}.parquet"), os.path.join(d, f"{table}.parquet")
    )
    return d


def _run_append_to_table(df: DataFrame, spark: SparkSession, name: str) -> DataFrame:
    """Append-mode twin of ``_run_to_table`` for non-aggregated streaming
    output (stream-stream joins emit rows as matches become final)."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q, name)
    return spark.table(name)


def q_streaming_daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-day window counts per event_type, computed by the STREAM
    path (file source -> withWatermark -> window() agg) and verified against
    the batch date_trunc twin."""
    with scratch_dir("wsspark_stream_") as d:
        stream = streaming.read_event_stream(spark, _stage_stream_dir(sf_dir, d))
        return _run_to_table(
            streaming.windowed_event_counts(stream), spark, "q_stream_daily_counts"
        )


STREAMING_DAILY_SQL = """
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket_start,
       CAST(date_trunc('day', ts) + INTERVAL 1 DAY AS TIMESTAMP) AS bucket_end,
       event_type,
       COUNT(*) AS n_events
FROM events
GROUP BY 1, 2, 3
"""


def q_streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session_window sessionization computed by the STREAM path,
    verified against the lag-based gaps-and-islands SQL twin (session_end =
    last event + gap, per session_window semantics)."""
    with scratch_dir("wsspark_stream_") as d:
        stream = streaming.read_event_stream(spark, _stage_stream_dir(sf_dir, d))
        return _run_to_table(
            streaming.session_window_stats(stream), spark, "q_stream_sessions"
        )


STREAMING_SESSIONIZE_SQL = """
WITH g AS (
    SELECT user_id, ts, value,
           CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     IS NULL
                  OR ts - lag(ts) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id)
                     > INTERVAL 30 MINUTE
                THEN 1 ELSE 0 END AS new_s
    FROM events
),
s AS (
    SELECT user_id, ts, value,
           SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS sid
    FROM g
)
SELECT user_id,
       MIN(ts) AS session_start,
       CAST(MAX(ts) + INTERVAL 30 MINUTE AS TIMESTAMP) AS session_end,
       COUNT(*) AS n_events,
       (CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS DOUBLE) / 100)
           AS session_value
FROM s GROUP BY user_id, sid
"""


def q_streaming_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (purchase <- clicks in the prior hour)
    computed by the STREAM path and verified against the batch inner-join
    twin — the streaming counterpart of purchase_click_window_counts."""
    with scratch_dir("wsspark_stream_") as d:
        stream = streaming.read_event_stream(spark, _stage_stream_dir(sf_dir, d))
        return _run_append_to_table(
            streaming.stream_click_attribution(stream), spark, "q_stream_click_attr"
        )


STREAMING_CLICK_ATTR_SQL = """
SELECT p.event_id AS purchase_id,
       p.user_id,
       p.ts AS purchase_ts,
       c.event_id AS click_id,
       c.ts AS click_ts
FROM events p
JOIN events c
  ON c.user_id = p.user_id
 AND c.ts >= p.ts - INTERVAL 3600 SECOND
 AND c.ts < p.ts
WHERE p.event_type = 'purchase' AND c.event_type = 'click'
"""


LOW_STOCK_RP = 25


def q_streaming_low_stock_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom STATEFUL operator (applyInPandasWithState running
    balances, streaming.low_stock_alerts) as a driver row: lineitem
    streamed as signed stock movements, per-(product, warehouse) balance
    accumulated in the state store, one alert row per key whose balance
    ends at-or-below the reorder point.

    The single-file source makes availableNow process exactly ONE
    micro-batch, so the emitted alerts equal the batch HAVING twin below
    (balance = batch_delta = total signed quantity) — which is what makes
    the stateful path hash-checkable. Multi-batch state accumulation and
    restart recovery are pinned separately by
    tests/test_streaming.py::test_low_stock_alerts_stateful_across_batches
    (batch boundaries there are explicit, deterministic files)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
        ]
    )
    with scratch_dir("wsspark_stream_") as d:
        src = (
            spark.readStream.schema(schema)
            .format("parquet")
            .option("path", _stage_stream_dir(sf_dir, d, "lineitem"))
            .load()
        )
        movements = src.select(
            F.col("l_partkey").alias("product_id"),
            F.col("l_suppkey").alias("warehouse_id"),
            F.when(F.col("l_returnflag") == "R", -F.col("l_quantity"))
            .otherwise(F.col("l_quantity"))
            .alias("quantity"),
        )
        alerts = streaming.low_stock_alerts(movements, reorder_points=LOW_STOCK_RP)
        return _run_append_to_table(alerts, spark, "q_stream_low_stock")


STREAMING_LOW_STOCK_SQL = f"""
SELECT l_partkey AS product_id,
       l_suppkey AS warehouse_id,
       CAST(SUM(CASE WHEN l_returnflag = 'R' THEN -l_quantity
                     ELSE l_quantity END) AS BIGINT) AS balance,
       CAST({LOW_STOCK_RP} AS BIGINT) AS reorder_point,
       CAST(SUM(CASE WHEN l_returnflag = 'R' THEN -l_quantity
                     ELSE l_quantity END) AS BIGINT) AS batch_delta
FROM lineitem
GROUP BY 1, 2
HAVING SUM(CASE WHEN l_returnflag = 'R' THEN -l_quantity
               ELSE l_quantity END) <= {LOW_STOCK_RP}
"""


def q_streaming_snapshot_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The foreachBatch upsert sink (SnapshotMaintainer: M1 snapshot
    maintenance + M5 audit CDC as a streaming store) as a driver row:
    lineitem streamed as signed movements into a fresh parquet store, the
    final snapshot read back and hash-checked against the batch
    signed-sum twin. Exercises the full sink path — batch-id-idempotent
    log, stage-then-swap snapshot write, per-batch audit partition —
    under the driver's vanilla session. Multi-batch replay/idempotence
    semantics stay pinned by tests/test_streaming.py (explicit files and
    a forced batch replay there)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
        ]
    )
    with scratch_dir("wsspark_snapq_") as d:
        src = (
            spark.readStream.schema(schema)
            .format("parquet")
            .option("path", _stage_stream_dir(sf_dir, d, "lineitem"))
            .load()
        )
        movements = src.select(
            F.col("l_partkey").alias("product_id"),
            F.col("l_suppkey").alias("warehouse_id"),
            F.when(F.col("l_returnflag") == "R", -F.col("l_quantity"))
            .otherwise(F.col("l_quantity"))
            .cast("long")
            .alias("quantity"),
        )
        maintainer = streaming.SnapshotMaintainer(spark, os.path.join(d, "store"))
        q = maintainer.attach(movements, os.path.join(d, "ckpt"))
        _await_stream(q, "snapshot upsert")
        # materialize before the store is deleted
        return shared._pin_result(maintainer.snapshot())


STREAMING_SNAPSHOT_SQL = """
SELECT l_partkey AS product_id,
       l_suppkey AS warehouse_id,
       CAST(SUM(CASE WHEN l_returnflag = 'R' THEN -l_quantity
                     ELSE l_quantity END) AS BIGINT) AS quantity_on_hand
FROM lineitem
GROUP BY 1, 2
"""


def q_streaming_dedup_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental near-dup index (StreamingDedupIndex: MinHash+LSH
    banding per micro-batch, candidates checked against the accumulated
    corpus BEFORE insertion) as a driver row: the documents table streamed
    through a fresh index store. With the single-file source there is
    exactly one batch, so the detected pairs are the within-batch pair set
    — which, at 100% LSH recall on this corpus (min true-pair jaccard
    ~0.89), equals the quadratic 3-shingle jaccard twin that also oracles
    the batch minhash_dedup_pairs query. Cross-batch arrival ordering and
    replay idempotence stay pinned by tests/test_streaming_dedup.py."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    with scratch_dir("wsspark_dedupq_") as d:
        src = (
            spark.readStream.schema(schema)
            .format("parquet")
            .option("path", _stage_stream_dir(sf_dir, d, "documents"))
            .load()
        )
        index = streaming.StreamingDedupIndex(
            spark, os.path.join(d, "store"), threshold=0.6
        )
        q = index.attach(src, os.path.join(d, "ckpt"))
        _await_stream(q, "dedup index")
        return shared._pin_result(
            spark.read.parquet(index.pairs_path).select("doc_a", "doc_b", "jaccard")
        )


def q_streaming_event_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-evicted streaming dropDuplicates computed by the STREAM
    path and verified against batch SELECT DISTINCT — the stateful dedup
    twin of the batch event_dedup_first_daily operator."""
    with scratch_dir("wsspark_stream_") as d:
        stream = streaming.read_event_stream(spark, _stage_stream_dir(sf_dir, d))
        return _run_append_to_table(
            streaming.distinct_daily_actors(stream), spark, "q_stream_event_dedup"
        )


STREAMING_DEDUP_SQL = """
SELECT DISTINCT user_id, event_type,
       CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
FROM events
"""


def q_streaming_segment_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static broadcast join computed by the STREAM path (events
    stream enriched with the static customer dimension per micro-batch)
    and verified against the batch join twin."""
    dim = read_table(spark, sf_dir, "customer")
    with scratch_dir("wsspark_stream_") as d:
        stream = streaming.read_event_stream(spark, _stage_stream_dir(sf_dir, d))
        return _run_to_table(
            streaming.stream_static_enrichment(stream, dim),
            spark,
            "q_stream_seg_counts",
        )


STREAMING_SEGMENT_SQL = """
SELECT c.c_mktsegment, e.event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(ROUND(e.value * 100, 0) AS BIGINT)) AS DOUBLE) / 100
           AS total_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2
"""


def q_streaming_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level incremental dedup at ingest (StreamingChunkDedup:
    doc_chunks per micro-batch, every chunk hash checked against the
    accumulated index BEFORE insertion) as a driver row: the documents
    table streamed through a fresh store. With the single-file source
    there is exactly one batch, so the assignments equal the batch
    first-occurrence window the oracle computes; cross-batch arrival
    ordering and replay idempotence stay pinned by
    tests/test_streaming_dedup.py."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    with scratch_dir("wsspark_chunkdedup_") as d:
        src = (
            spark.readStream.schema(schema)
            .format("parquet")
            .option("path", _stage_stream_dir(sf_dir, d, "documents"))
            .load()
        )
        dedup = streaming.StreamingChunkDedup(
            spark, os.path.join(d, "store"),
            chunk_size=shared.CHUNK_SIZE, overlap=shared.CHUNK_OVERLAP,
        )
        q = dedup.attach(src, os.path.join(d, "ckpt"))
        _await_stream(q, "chunk dedup")
        return shared._pin_result(
            spark.read.parquet(dedup.assignments_path).select(
                "doc_id", "chunk_id", "chunk_hash", "is_dup",
                "first_doc_id", "first_chunk_id",
            )
        )


# single-batch twin: dup = an earlier (doc_id, chunk_id) with the same
# chunk hash; first_* = the first occurrence in that order. Chunk layout
# is the same starts rule DOC_CHUNKS_SQL pins.
STREAMING_CHUNK_DEDUP_SQL = f"""
WITH starts AS (
    SELECT doc_id, text,
           UNNEST(generate_series(
               0, GREATEST(LENGTH(text) - {shared.CHUNK_OVERLAP} - 1, 0),
               {shared.CHUNK_SIZE - shared.CHUNK_OVERLAP})) AS chunk_start
    FROM documents
),
hashed AS (
    SELECT doc_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY chunk_start)
                - 1 AS INTEGER) AS chunk_id,
           md5(SUBSTRING(text, chunk_start + 1, {shared.CHUNK_SIZE}))
               AS chunk_hash
    FROM starts
),
ranked AS (
    SELECT *,
           ROW_NUMBER() OVER (PARTITION BY chunk_hash
                              ORDER BY doc_id, chunk_id) AS rn,
           FIRST_VALUE(doc_id) OVER (PARTITION BY chunk_hash
                                     ORDER BY doc_id, chunk_id)
               AS first_doc_id,
           FIRST_VALUE(chunk_id) OVER (PARTITION BY chunk_hash
                                       ORDER BY doc_id, chunk_id)
               AS first_chunk_id
    FROM hashed
)
SELECT doc_id, chunk_id, chunk_hash, rn > 1 AS is_dup,
       first_doc_id, CAST(first_chunk_id AS INTEGER) AS first_chunk_id
FROM ranked
"""


def q_streaming_drift_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retraction-aware CUMULATIVE drift from the change-feed STREAM
    (streaming.StreamingCdfDriftMonitor, r16) as a folded row: the
    movements fact is committed to a snapstore, the baseline counts +
    edges freeze at version 0, the fact is UPDATEd and DELETEd, and one
    availableNow run of the readChangeFeed stream maintains the
    (column, bucket) counts through the signed retraction algebra. The
    report hash-checks against the SAME DuckDB twin as the batch
    drift_ivm_report (llm.DRIFT_IVM_SQL) — one oracle pins the batch
    refresh and the streaming maintainer."""
    from wsspark import adapters as ad
    from wsspark import snapstore as ss
    from wsspark.snapsource import register

    register(spark)
    li = read_table(spark, sf_dir, "lineitem")
    mvs = ad.movements_from_lineitem(li)
    with scratch_dir("snapsdrift-") as d:
        fact_root = os.path.join(d, "fact")
        ss.snap_commit(mvs.repartition(8), fact_root)
        ss.snap_enable_cdf(fact_root)
        baseline = ss.snap_read(spark, fact_root, 0)
        monitor = streaming.StreamingCdfDriftMonitor(
            spark, os.path.join(d, "store"), baseline,
            numeric_cols=["quantity"], cat_cols=["movement_type"],
        )
        ss.snap_update_where(
            spark, fact_root, "quantity > 30", {"quantity": "quantity - 30"}
        )
        ss.snap_delete_where(spark, fact_root, "reference_id % 7 = 3")
        q = monitor.attach(
            spark.readStream.format("snapstore")
            .option("readChangeFeed", "true")
            .load(fact_root),
            os.path.join(d, "ckpt"),
        )
        _await_stream(q, "drift feed")
        out = monitor.report()
        rows = out.collect()  # O(columns) rows
    return local_frame(spark, rows, out.schema)


def q_streaming_mv_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous MV maintenance (StreamingMVMaintainer) as a driver row:
    lineitem streamed as dated signed movements into a fresh MV store,
    each micro-batch partially aggregated and key-merged (foreachBatch,
    batch-id-idempotent, stage-then-swap). The final store plus the
    derived avg is hash-checked against the SAME full-recompute oracle as
    the batch operator (core.INCREMENTAL_MV_SQL) — one oracle pins both
    the batch and the streaming refresh paths. Multi-batch merge + replay
    idempotence are pinned in tests/test_streaming_mv.py."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    )
    with scratch_dir("wsspark_mvq_") as d:
        src = (
            spark.readStream.schema(schema)
            .format("parquet")
            .option("path", _stage_stream_dir(sf_dir, d, "lineitem"))
            .load()
        )
        movements = src.select(
            F.col("l_partkey").alias("product_id"),
            F.col("l_suppkey").alias("warehouse_id"),
            F.when(F.col("l_returnflag") == "R", -F.col("l_quantity"))
            .otherwise(F.col("l_quantity"))
            .alias("quantity"),
            F.col("l_shipdate").alias("movement_date"),
        )
        maintainer = streaming.StreamingMVMaintainer(spark, os.path.join(d, "store"))
        q = maintainer.attach(movements, os.path.join(d, "ckpt"))
        _await_stream(q, "MV refresh")
        return shared._pin_result(
            maintainer.mv().select(
                "warehouse_id",
                "product_id",
                "n_movements",
                "net_qty",
                "last_movement_at",
                F.round(
                    F.col("net_qty").cast("double") / F.col("n_movements"), 4
                ).alias("avg_qty"),
            )
        )




def q_streaming_bloom_ngram_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constant-state cross-doc n-gram index at ingest
    (StreamingBloomNgramIndex): the documents table streamed through a
    fresh store. With the single-file source there is exactly one batch,
    so every verdict comes from the EXACT within-batch earlier-doc check
    (the accumulated-bloom path starts empty) and the output equals the
    oracle's first-occurrence computation; cross-batch bloom behavior
    (no false negatives vs history, constant state size, replay
    idempotence) is pinned by tests/test_streaming_dedup.py."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    with scratch_dir("wsspark_ngrambloom_") as d:
        src = (
            spark.readStream.schema(schema)
            .format("parquet")
            .option("path", _stage_stream_dir(sf_dir, d, "documents"))
            .load()
        )
        idx = streaming.StreamingBloomNgramIndex(
            spark, os.path.join(d, "store"), n=shared.NGRAM_DUP_N,
            n_bits=shared.BLOOM_BITS, k=shared.BLOOM_K,
        )
        q = idx.attach(src, os.path.join(d, "ckpt"))
        _await_stream(q, "ngram bloom")
        return shared._pin_result(
            spark.read.parquet(idx.profiles_path)
            .select("doc_id", "n_windows", "n_seen_windows", "seen_ratio")
            .orderBy("doc_id")
        )


# single-batch twin: a window is "seen" iff an EARLIER doc (smaller
# doc_id = earlier arrival within the batch) contains the same gram —
# the same gram keying as the batch dup_ngram oracles
STREAMING_BLOOM_NGRAM_SQL = f"""
WITH t AS (
    SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
grams AS (
    SELECT doc_id,
           substring(md5(array_to_string(
               list_slice(toks, i, i + {shared.NGRAM_DUP_N - 1}), ' ')), 1, 16)
               AS gram_key
    FROM t, LATERAL (SELECT UNNEST(generate_series(
        1, len(toks) - {shared.NGRAM_DUP_N - 1})) AS i) s
),
first AS (
    SELECT gram_key, MIN(doc_id) AS first_doc FROM grams GROUP BY 1
),
per_doc AS (
    SELECT g.doc_id, COUNT(*) AS nw,
           SUM(CASE WHEN g.doc_id > f.first_doc THEN 1 ELSE 0 END) AS nseen
    FROM grams g JOIN first f USING (gram_key)
    GROUP BY 1
)
SELECT t.doc_id,
       CAST(COALESCE(p.nw, 0) AS BIGINT) AS n_windows,
       CAST(COALESCE(p.nseen, 0) AS BIGINT) AS n_seen_windows,
       ROUND(CASE WHEN COALESCE(p.nw, 0) = 0 THEN 0.0
             ELSE CAST(p.nseen AS DOUBLE) / p.nw END, 4) AS seen_ratio
FROM t LEFT JOIN per_doc p USING (doc_id)
ORDER BY doc_id
"""


QUERIES = [
    # streaming_daily_counts retired to the folded tier in r14 (slot
    # swap — see llm.py FOLDED_QUERIES); implementation + SQL stay here.
    # streaming_event_dedup retired to the folded tier in r13 (slot swap
    # — see llm.py FOLDED_QUERIES); implementation + SQL stay here.
    Query(
        "streaming_segment_counts",
        q_streaming_segment_counts,
        STREAMING_SEGMENT_SQL,
        "§2.10 stream-static broadcast enrichment == batch join twin",
    ),
    Query(
        "streaming_sessionize",
        q_streaming_sessionize,
        STREAMING_SESSIONIZE_SQL,
        "§2.10 session windows as a driver row: stream sessions == islands SQL",
    ),
    Query(
        "streaming_click_attribution",
        q_streaming_click_attribution,
        STREAMING_CLICK_ATTR_SQL,
        "§2.10 stream-stream interval join as a driver row == batch inner join",
    ),
    Query(
        "streaming_low_stock_alerts",
        q_streaming_low_stock_alerts,
        STREAMING_LOW_STOCK_SQL,
        "§2.10 applyInPandasWithState running balances == batch HAVING twin",
    ),
    # streaming_snapshot_upsert retired to the folded tier in r16 (slot
    # swap — see llm.py FOLDED_QUERIES); implementation + SQL stay here.
    # streaming_dedup_index retired to the folded tier in r16 (slot swap).
    Query(
        "streaming_chunk_dedup",
        q_streaming_chunk_dedup,
        STREAMING_CHUNK_DEDUP_SQL,
        "chunk-level incremental dedup at ingest == first-occurrence window",
    ),
    Query(
        "streaming_bloom_ngram_index",
        q_streaming_bloom_ngram_index,
        STREAMING_BLOOM_NGRAM_SQL,
        "constant-state bloom n-gram index at ingest == first-occurrence "
        "window (state = one bitmap, forever)",
    ),
    Query(
        "streaming_mv_refresh",
        q_streaming_mv_refresh,
        # the batch incremental-refresh oracle verbatim: one full-recompute
        # definition pins both the batch and streaming maintenance paths
        coreq.INCREMENTAL_MV_SQL,
        "continuous MV maintenance: foreachBatch merge == full recompute",
    ),
]
