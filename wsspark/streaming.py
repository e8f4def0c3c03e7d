"""Structured Streaming surface (SURVEY.md §2.10).

The reference has no streaming engine — its "streaming" is (a) the
incremental high-watermark extract (etl/extract/data_extractor.py:43-70) and
(b) row triggers maintaining a snapshot + audit log
(dbfn/functions.sql:7-58, dbfn/triggers.sql:9-63). These are re-expressed in
Spark's native streaming model:

- incremental extract  -> a file/parquet stream source + watermark; late or
  invalid rows are dropped by the same DQ predicates pre-aggregation.
- resample counts (W1) -> tumbling ``window()`` aggregation with watermark.
- sessionization       -> ``session_window()`` gap-based aggregation.
- M1 snapshot upsert + M5 audit trigger -> ``foreachBatch``: each micro-batch
  merges signed quantities into a parquet snapshot store and appends the
  diff rows as the audit log — exactly the trigger semantics, set-based.

Scale notes: every aggregation here keys the state store by (window, key) or
(session, user) — state size is bounded by the watermark horizon, not the
stream length. The foreachBatch upsert rewrites only the snapshot (dimension
cardinality: product x warehouse), never the movement history.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from wsspark.exec import local_frame, persisted
from wsspark.io import configure_timestamp_reads, convert_ns_timestamp
from wsspark.ops.audit import snapshot_diff
from wsspark.ops.functions import apply_movements
from wsspark.statestore import AtomicStateStore


def _read_parquet_or_none(spark: SparkSession, path: str) -> DataFrame | None:
    """Read a parquet store, returning None ONLY when the path doesn't exist
    yet (first batch). Any other failure — corrupt files, transient IO —
    re-raises: silently treating it as an empty store would discard all
    accumulated state on the next overwrite."""
    from pyspark.errors import AnalysisException

    if not os.path.isdir(path):
        return None
    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        if "PATH_NOT_FOUND" in str(e) or "Path does not exist" in str(e):
            return None
        raise


class _BatchLog:
    """Driver-local commit log for foreachBatch sinks whose per-batch
    writes are IDEMPOTENT (each batch overwrites its own
    ``batch_id=<N>`` partition dir): records the last applied batch_id so
    a replayed micro-batch (at-least-once delivery after a crash between
    the sink write and the checkpoint commit) is skipped. The file-swap
    is atomic (os.replace). Sinks that MERGE into a single accumulated
    store must NOT use this (a crash between store write and log commit
    re-applies the batch to updated state) — they use
    ``wsspark.statestore.AtomicStateStore``, which commits the cursor and
    the state in one pointer flip. On a real deployment both roles are
    played by a transactional table format's log (the repo's snapstore
    ``tag``)."""

    def __init__(self, store_dir: str) -> None:
        self.path = os.path.join(store_dir, "_last_batch")

    def last_applied(self) -> int:
        try:
            with open(self.path) as f:
                return int(f.read().strip())
        except (FileNotFoundError, ValueError):
            return -1

    def commit(self, batch_id: int) -> None:
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(batch_id))
        os.replace(tmp, self.path)

def _events_stream_schema(ts_type: T.DataType) -> T.StructType:
    """Stream-source schema for the driver's events table (TESTDATA.md)."""
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def _source_ts_unit(source_dir: str) -> str:
    """Peek at one parquet footer to learn how ``ts`` is stored: ``'ns'``
    (legacy TIMESTAMP(NANOS) testdata, read as i64 + exact division) or
    ``'us'`` (current ``timestamp[us]``). Streams need a declared schema up
    front, so unlike the batch reader we must decide before the first scan —
    guessing wrong is what silently relocated every event to 1970 when the
    driver's testdata switched units. Defaults to 'us' when no file exists
    yet (empty stream dir)."""
    import pyarrow.parquet as pq

    if os.path.isfile(source_dir):
        t = pq.read_schema(source_dir).field("ts").type
        return "ns" if str(t) in ("int64", "timestamp[ns]") else "us"
    for root, _, files in os.walk(source_dir):
        for f in sorted(files):
            if f.endswith(".parquet"):
                t = pq.read_schema(os.path.join(root, f)).field("ts").type
                return "ns" if str(t) in ("int64", "timestamp[ns]") else "us"
    return "us"


def read_event_stream(
    spark: SparkSession, source_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Parquet-directory stream of events rows, normalized to a plain
    TIMESTAMP ``ts`` exactly like the batch reader io.read_table — a
    streaming query and its batch twin must bucket every event identically."""
    configure_timestamp_reads(spark)
    unit = _source_ts_unit(source_dir)
    schema = _events_stream_schema(T.LongType() if unit == "ns" else T.TimestampType())
    reader = (
        spark.readStream.schema(schema).format("parquet").option("path", source_dir)
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    df = reader.load()
    if unit == "ns":
        # Integer div, same as io.convert_ns_timestamp: a double roundtrip
        # has ~256ns ulp at 2024-epoch nanos and could flip window/session
        # boundaries versus the batch reader.
        df = convert_ns_timestamp(df, "ts")
    return df


def windowed_event_counts(
    events: DataFrame,
    window_size: str = "1 day",
    watermark: str = "1 day",
    ts_col: str = "ts",
    group_cols: tuple[str, ...] = ("event_type",),
) -> DataFrame:
    """W1 as a streaming tumbling-window aggregation: the natural Structured
    Streaming form of pandas resample. Late rows beyond the watermark are
    dropped, mirroring the batch DQ future/late-date rules."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window_size).alias("bucket"), *group_cols)
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("bucket.start").alias("bucket_start"),
            F.col("bucket.end").alias("bucket_end"),
            *group_cols,
            "n_events",
        )
    )


def session_window_stats(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> DataFrame:
    """Gap-based sessionization with the native session_window operator —
    the streaming twin of queries.llm.q_sessionize."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("session"), user_col)
        .agg(
            F.count("*").alias("n_events"),
            # exact-cents sum (see queries.exactsum): associative integer
            # addition keeps the value identical under any partial-agg
            # order — required for the cross-engine oracle hash, and the
            # right money discipline at scale anyway
            (F.sum(F.round(F.col("value") * 100).cast("long")).cast("double") / 100
             ).alias("session_value"),
        )
        .select(
            user_col,
            F.col("session.start").alias("session_start"),
            F.col("session.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


def stream_static_enrichment(
    events: DataFrame,
    dim: DataFrame,
    key: str = "user_id",
    dim_key: str = "c_custkey",
    seg_col: str = "c_mktsegment",
) -> DataFrame:
    """Stream-static enrichment: each micro-batch joins against a STATIC
    dimension (broadcast — the stream side never shuffles for the join),
    then rolls up counts and cents-exact value per (segment, event_type).
    The static side is re-resolvable per batch in production (slowly
    refreshed dim tables); no state beyond the aggregation itself."""
    joined = events.join(
        F.broadcast(dim.select(dim_key, seg_col)), F.col(key) == F.col(dim_key)
    )
    return joined.groupBy(seg_col, "event_type").agg(
        F.count("*").alias("n_events"),
        (F.sum(F.round(F.col("value") * 100).cast("long")).cast("double") / 100
         ).alias("total_value"),
    )


def distinct_daily_actors(
    events: DataFrame,
    watermark: str = "1 day",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming deduplication with bounded state: first sighting of each
    (user_id, event_type, day) key emits one row; later duplicates are
    dropped by the dropDuplicates state store. The truncated event-time
    column ``day`` is part of the dedup key AND carries the watermark, so
    state for a day is EVICTED once the watermark passes it — the shape
    that keeps streaming dedup O(active window) instead of O(history) at
    100 TB. Output is the distinct key set (no first-arrival payload
    columns), which makes the result deterministic and batch-SQL
    oracle-able: identical to SELECT DISTINCT over the bounded input."""
    return (
        events.withColumn("day", F.date_trunc("day", F.col(ts_col)))
        .withWatermark("day", watermark)
        .dropDuplicates(["user_id", "event_type", "day"])
        .select("user_id", "event_type", "day")
    )


def stream_click_attribution(
    events: DataFrame,
    window_seconds: int = 3600,
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream interval join: attribute each purchase to every click
    by the same user in the preceding ``window_seconds`` — the streaming
    twin of the batch bounded range join (ops.temporal.bucketed_range_count
    / queries.temporal.purchase_click_window_counts, inner-join rows).

    Both sides are the SAME input stream filtered two ways (Spark plans the
    self-join as two stream readers). Watermarks bound the join state: a
    click can only match purchases up to ``window_seconds`` later, so once
    the purchase-side watermark passes click_ts + window the click's state
    row is evicted — state size is O(events per watermark horizon), not
    unbounded. This is the standard Structured Streaming interval-join
    pattern (time-range condition + watermarks on both sides).
    """
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    return purchases.join(
        clicks,
        (F.col("p_user_id") == F.col("c_user_id"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr(f"INTERVAL {window_seconds} SECONDS"))
        & (F.col("click_ts") < F.col("purchase_ts")),
        "inner",
    ).select(
        "purchase_id",
        F.col("p_user_id").alias("user_id"),
        "purchase_ts",
        "click_id",
        "click_ts",
    )


class SnapshotMaintainer:
    """M1 + M5 as a foreachBatch sink: maintain a snapshot parquet store from
    a movement stream and append trigger-style audit rows per micro-batch.

    ``keys``/``qty_col`` name the movement columns; the snapshot is the
    signed running sum per key (the event-sourcing invariant,
    database/schema.sql:108-109).
    """

    def __init__(
        self,
        spark: SparkSession,
        store_dir: str,
        keys: tuple[str, ...] = ("product_id", "warehouse_id"),
        qty_col: str = "quantity",
    ) -> None:
        self.spark = spark
        self.snapshot_path = os.path.join(store_dir, "snapshot")
        self.audit_path = os.path.join(store_dir, "audit_log")
        self.keys = keys
        self.qty_col = qty_col
        self._state = AtomicStateStore(self.snapshot_path)

    def snapshot(self) -> DataFrame:
        """The committed snapshot (typed-empty before the first commit)."""
        return self._read_snapshot()

    def _read_snapshot(self) -> DataFrame:
        df = self._state.read(self.spark)
        if df is not None:
            return df
        fields = [T.StructField(k, T.LongType()) for k in self.keys]
        fields.append(T.StructField("quantity_on_hand", T.LongType()))
        return local_frame(self.spark, [], T.StructType(fields))

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        # foreachBatch is at-least-once: a crash between the sink write and
        # the checkpoint commit replays the same batch_id. Skip it — the
        # movement delta must not be double-applied to the running snapshot.
        # The cursor is committed ATOMICALLY with the snapshot itself
        # (AtomicStateStore pointer flip), so no crash instant exists where
        # a replay sees the updated snapshot with a stale cursor.
        if batch_id <= self._state.last_batch():
            return
        old = self._read_snapshot()
        new = apply_movements(old, batch, self.keys, self.qty_col)
        audit = snapshot_diff(old, new, self.keys)
        # Per-batch audit partition dir, overwrite mode: a replay of a
        # PARTIALLY-applied batch (crash mid-process_batch, before the
        # snapshot commit) rewrites the same directory instead of appending
        # duplicate audit rows. Partition discovery restores batch_id.
        audit.write.mode("overwrite").parquet(
            os.path.join(self.audit_path, f"batch_id={batch_id}")
        )
        self._state.commit(new, batch_id)

    def attach(self, movements: DataFrame, checkpoint_dir: str):
        """Wire the maintainer to a movement stream; returns the query."""
        return (
            movements.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )


def low_stock_alerts(
    movements: DataFrame,
    reorder_points: dict[tuple[int, int], int] | int = 10,
    keys: tuple[str, ...] = ("product_id", "warehouse_id"),
    qty_col: str = "quantity",
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-key
    running stock balance over the movement stream, emitting an alert row
    whenever a micro-batch drives the balance at-or-below the reorder point
    (the continuous form of M3 check_reorder_points,
    dbfn/functions.sql:143-176).

    State is one long per (product, warehouse) — dimension-cardinality, not
    stream-cardinality — and lives in the state store across micro-batches
    and restarts. ``reorder_points`` is either a constant threshold or a
    {(product_id, warehouse_id): point} dict (broadcast-sized; a dimension
    join upstream is the alternative at very high key counts).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("product_id", LongType()),
            StructField("warehouse_id", LongType()),
            StructField("balance", LongType()),
            StructField("reorder_point", LongType()),
            StructField("batch_delta", LongType()),
        ]
    )
    state_schema = StructType([StructField("balance", LongType())])

    def update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        delta = 0
        for pdf in pdfs:
            delta += int(pdf[qty_col].sum())
        (balance,) = state.get if state.exists else (0,)
        balance += delta
        state.update((balance,))
        point = (
            reorder_points.get(tuple(key), 0)
            if isinstance(reorder_points, dict)
            else reorder_points
        )
        if balance <= point:
            yield pd.DataFrame(
                {
                    "product_id": [key[0]],
                    "warehouse_id": [key[1]],
                    "balance": [balance],
                    "reorder_point": [point],
                    "batch_delta": [delta],
                }
            )

    return movements.groupBy(*[F.col(k) for k in keys]).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


class StreamingDedupIndex:
    """Incremental near-duplicate detection over a document stream: each
    micro-batch is checked against the accumulated corpus BEFORE being added
    to it — the streaming form of llmops.dedup.minhash_dedup_pairs, and the
    shape a training-data ingest pipeline needs (reject dups at arrival,
    not in a nightly O(corpus) sweep).

    Per batch: MinHash signatures + LSH band keys for the new docs; candidate
    pairs = (new x history) sharing a band, plus (new x new); candidates are
    verified with exact Jaccard over stored shingle-hash sets; verified pairs
    append to ``pairs_path`` and the new docs' (signature, bands, shingles)
    append to the index. Work per batch scales with batch size x bucket
    occupancy, never with corpus size: the history side is touched only
    through the band-key join.
    """

    def __init__(
        self,
        spark: SparkSession,
        store_dir: str,
        threshold: float = 0.6,
        num_hashes: int = 32,
        bands: int = 8,
        shingle_k: int = 3,
    ) -> None:
        from wsspark.llmops import dedup as _dedup

        self.spark = spark
        self.index_path = os.path.join(store_dir, "banded_index")
        self.pairs_path = os.path.join(store_dir, "dup_pairs")
        self.threshold = threshold
        self.num_hashes = num_hashes
        self.bands = bands
        self.shingle_k = shingle_k
        self._dedup = _dedup
        self._log = _BatchLog(store_dir)

    def _banded(self, docs: DataFrame) -> DataFrame:
        """(doc_id, band, band_hash, sh) rows for a static batch frame.

        The micro-batch often arrives as ONE input split (a single file per
        trigger), which would run the whole shingle/hash signature build
        single-threaded — the same pitfall the batch minhash query hit
        (queries/llm.py q_minhash_dedup_pairs); spread it first, the
        repartition is no-op-sized next to the work it parallelizes."""
        docs = docs.repartition(
            self.spark.sparkContext.defaultParallelism, "doc_id"
        )
        d = self._dedup
        sigs = d.minhash_signatures(docs, self.num_hashes, shingle_k=self.shingle_k)
        banded = d.lsh_band_keys(sigs, self.bands, self.num_hashes)
        shingles = docs.select(
            "doc_id",
            F.transform(
                d.word_shingles("text", self.shingle_k), lambda s: F.xxhash64(s)
            ).alias("sh"),
        )
        return banded.join(shingles, "doc_id")

    def _verified_pairs(self, cands: DataFrame, left: DataFrame, right: DataFrame) -> DataFrame:
        a = left.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")).distinct()
        b = right.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")).distinct()
        jac = F.round(
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
            4,
        )
        return (
            cands.join(a, "doc_a")
            .join(b, "doc_b")
            .select("doc_a", "doc_b", jac.alias("jaccard"))
            .filter(F.col("jaccard") >= self.threshold)
        )

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        # Same at-least-once guard as SnapshotMaintainer: a replayed batch
        # must not re-append its band/shingle rows (permanently inflating
        # bucket occupancy) or duplicate its verified pairs.
        if batch_id <= self._log.last_applied():
            return
        with persisted(self._banded(batch)) as new:
            history = _read_parquet_or_none(self.spark, self.index_path)

            n = new.select("doc_id", "band", "band_hash")
            pair_sets = []
            # new x new (within-batch dups)
            a, b = n.alias("a"), n.alias("b")
            nn = (
                a.join(
                    b,
                    (F.col("a.band") == F.col("b.band"))
                    & (F.col("a.band_hash") == F.col("b.band_hash"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")),
                )
                .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
                .distinct()
            )
            pair_sets.append(self._verified_pairs(nn, new, new))
            # new x history (cross-batch dups); history side pruned via band join
            if history is not None:
                h = history.select("doc_id", "band", "band_hash")
                nh = (
                    n.alias("a")
                    .join(
                        h.alias("b"),
                        (F.col("a.band") == F.col("b.band"))
                        & (F.col("a.band_hash") == F.col("b.band_hash"))
                        & (F.col("a.doc_id") != F.col("b.doc_id")),
                    )
                    .select(
                        F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
                    )
                    .distinct()
                )
                pair_sets.append(self._verified_pairs(nh, new, history))

            pairs = pair_sets[0]
            for p in pair_sets[1:]:
                pairs = pairs.unionByName(p)
            # Per-batch partition dirs + overwrite: replays of a partially
            # applied batch rewrite in place instead of appending duplicates.
            pairs.write.mode("overwrite").parquet(
                os.path.join(self.pairs_path, f"batch_id={batch_id}")
            )
            new.write.mode("overwrite").parquet(
                os.path.join(self.index_path, f"batch_id={batch_id}")
            )
        self._log.commit(batch_id)

    def attach(self, docs: DataFrame, checkpoint_dir: str):
        return (
            docs.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )


class StreamingSrpIndex:
    """Incremental EMBEDDING near-duplicate detection — the streaming form
    of ``llmops.srp.srp_dup_pairs``, and the concrete reason SRP is the
    streaming-safe vector LSH: a new vector's band keys depend only on the
    fixed hyperplane seed — no trained centroids (IVF) or codebooks (PQ) —
    so arrival order can never invalidate the index and there is no
    retrain/rebuild cycle.

    Per batch: SRP signatures + band-key slices for the new vectors;
    candidate pairs = (new x new) and (new x history) sharing any
    (band, band_key) bucket; candidates are verified with EXACT cosine over
    the stored vectors; verified pairs append to ``pairs_path`` and the new
    vectors' (band rows, vector, norm) append to the index. Work per batch
    scales with batch size x bucket occupancy, never corpus size — the
    history is touched only through the band-key equi-join. Same
    at-least-once guard as the other foreachBatch sinks (_BatchLog +
    per-batch partition overwrite)."""

    def __init__(
        self,
        spark: SparkSession,
        store_dir: str,
        threshold: float = 0.95,
        dim: int = 64,
        n_bits: int = 48,
        band_bits: int = 6,
        seed: int = 42,
    ) -> None:
        from wsspark.llmops import srp as _srp

        self.spark = spark
        self.index_path = os.path.join(store_dir, "banded_index")
        self.pairs_path = os.path.join(store_dir, "dup_pairs")
        self.threshold = threshold
        self.n_bits = n_bits
        self.band_bits = band_bits
        self.planes = _srp.srp_hyperplanes(dim, n_bits, seed)
        self._srp = _srp
        self._log = _BatchLog(store_dir)

    def _banded(self, vectors: DataFrame) -> DataFrame:
        """(vec_id, band, band_key, _vec, _norm) rows for a static batch
        frame. Single-file micro-batches arrive as one split — spread the
        projection work first (same pitfall as StreamingDedupIndex)."""
        from wsspark.llmops.similarity import with_norm

        vectors = vectors.repartition(
            self.spark.sparkContext.defaultParallelism, "vec_id"
        )
        sigs = self._srp.srp_signatures(vectors, planes=self.planes)
        banded = self._srp.srp_band_keys(sigs, self.n_bits, self.band_bits)
        vecs = with_norm(vectors).select("vec_id", "_vec", "_norm")
        return banded.join(vecs, "vec_id")

    def _verified_pairs(
        self, cands: DataFrame, left: DataFrame, right: DataFrame
    ) -> DataFrame:
        from wsspark.llmops.similarity import dot

        a = left.select(
            F.col("vec_id").alias("id_a"),
            F.col("_vec").alias("_va"),
            F.col("_norm").alias("_na"),
        ).distinct()
        b = right.select(
            F.col("vec_id").alias("id_b"),
            F.col("_vec").alias("_vb"),
            F.col("_norm").alias("_nb"),
        ).distinct()
        cos = F.round(
            dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb")), 4
        )
        return (
            cands.join(a, "id_a")
            .join(b, "id_b")
            .select("id_a", "id_b", cos.alias("cos_sim"))
            .filter(F.col("cos_sim") >= self.threshold)
        )

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        if batch_id <= self._log.last_applied():
            return
        with persisted(self._banded(batch)) as new:
            history = _read_parquet_or_none(self.spark, self.index_path)

            n = new.select("vec_id", "band", "band_key")
            a, b = n.alias("a"), n.alias("b")
            nn = (
                a.join(
                    b,
                    (F.col("a.band") == F.col("b.band"))
                    & (F.col("a.band_key") == F.col("b.band_key"))
                    & (F.col("a.vec_id") < F.col("b.vec_id")),
                )
                .select(
                    F.col("a.vec_id").alias("id_a"), F.col("b.vec_id").alias("id_b")
                )
                .distinct()
            )
            pairs = self._verified_pairs(nn, new, new)
            if history is not None:
                h = history.select("vec_id", "band", "band_key")
                nh = (
                    n.alias("a")
                    .join(
                        h.alias("b"),
                        (F.col("a.band") == F.col("b.band"))
                        & (F.col("a.band_key") == F.col("b.band_key"))
                        & (F.col("a.vec_id") != F.col("b.vec_id")),
                    )
                    .select(
                        F.col("a.vec_id").alias("id_a"),
                        F.col("b.vec_id").alias("id_b"),
                    )
                    .distinct()
                )
                pairs = pairs.unionByName(self._verified_pairs(nh, new, history))
            pairs.write.mode("overwrite").parquet(
                os.path.join(self.pairs_path, f"batch_id={batch_id}")
            )
            new.write.mode("overwrite").parquet(
                os.path.join(self.index_path, f"batch_id={batch_id}")
            )
        self._log.commit(batch_id)

    def attach(self, vectors: DataFrame, checkpoint_dir: str):
        return (
            vectors.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )


class StreamingChunkDedup:
    """Chunk-level EXACT dedup at ingest — the production shape for
    continuous corpus building: each arriving document is chunked
    (llmops.textstats.doc_chunks) and every chunk's content hash is checked
    against the accumulated chunk index BEFORE being added to it, so
    duplicated passages (boilerplate, syndicated paragraphs, re-crawls) are
    flagged at arrival instead of in a nightly O(corpus) sweep.

    Per batch: chunk -> md5(chunk_text) -> a within-batch first-occurrence
    window over the hash, then one equi-join against the history index
    (chunk_hash, first_doc_id, first_chunk_id — globally unique per hash by
    construction, so the join can never fan out). A chunk is a dup if its
    hash hits history, or an earlier (doc_id, chunk_id) in the SAME batch;
    ``first_*`` always points at the true first occurrence. Novel hashes
    append to the index; every chunk's verdict appends to
    ``assignments_path``. Same at-least-once guard as the other foreachBatch
    sinks (_BatchLog + per-batch partition overwrite): replays rewrite in
    place, never double-append.

    Scale: work per batch = batch chunks (window on the batch side only) +
    one hash-join against the index. The index grows with UNIQUE corpus
    content; at 100 TB it lives bucketed by chunk_hash so the per-batch
    join shuffles only the batch side into the index's bucket layout, and
    the md5 keyspace is uniform by construction — no skew. Exact-hash
    granularity is the complement of StreamingDedupIndex's MinHash NEAR-dup
    at document grain: run both to reject verbatim passages and re-crawled
    near-copies in the same ingest pass.
    """

    def __init__(
        self,
        spark: SparkSession,
        store_dir: str,
        chunk_size: int = 200,
        overlap: int = 50,
    ) -> None:
        self.spark = spark
        self.index_path = os.path.join(store_dir, "chunk_index")
        self.assignments_path = os.path.join(store_dir, "chunk_assignments")
        self.chunk_size = chunk_size
        self.overlap = overlap
        self._log = _BatchLog(store_dir)

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window

        from wsspark.llmops import textstats

        if batch_id <= self._log.last_applied():
            return
        # Single-file triggers arrive as one split; spread the chunk/hash
        # work (same pitfall note as StreamingDedupIndex._banded).
        docs = batch.repartition(
            self.spark.sparkContext.defaultParallelism, "doc_id"
        )
        chunks = textstats.doc_chunks(
            docs, chunk_size=self.chunk_size, overlap=self.overlap
        )
        w = Window.partitionBy("chunk_hash").orderBy("doc_id", "chunk_id")
        ranked = chunks.select(
            "doc_id",
            "chunk_id",
            F.md5("chunk_text").alias("chunk_hash"),
        ).select(
            "*",
            F.row_number().over(w).alias("_rn"),
            F.first("doc_id").over(w).alias("_batch_first_doc"),
            F.first("chunk_id").over(w).alias("_batch_first_chunk"),
        )
        history = _read_parquet_or_none(self.spark, self.index_path)
        if history is not None:
            h = history.select(
                "chunk_hash",
                F.col("first_doc_id").alias("_h_doc"),
                F.col("first_chunk_id").alias("_h_chunk"),
            )
            ranked = ranked.join(h, "chunk_hash", "left")
        else:
            ranked = ranked.withColumn(
                "_h_doc", F.lit(None).cast("long")
            ).withColumn("_h_chunk", F.lit(None).cast("int"))
        out = ranked.select(
            "doc_id",
            "chunk_id",
            "chunk_hash",
            (F.col("_h_doc").isNotNull() | (F.col("_rn") > 1)).alias("is_dup"),
            F.coalesce("_h_doc", "_batch_first_doc").alias("first_doc_id"),
            F.coalesce("_h_chunk", "_batch_first_chunk").alias("first_chunk_id"),
        )
        with persisted(out):
            out.write.mode("overwrite").parquet(
                os.path.join(self.assignments_path, f"batch_id={batch_id}")
            )
            novel = out.filter(~F.col("is_dup")).select(
                "chunk_hash",
                F.col("doc_id").alias("first_doc_id"),
                F.col("chunk_id").alias("first_chunk_id"),
            )
            novel.write.mode("overwrite").parquet(
                os.path.join(self.index_path, f"batch_id={batch_id}")
            )
        self._log.commit(batch_id)

    def attach(self, docs: DataFrame, checkpoint_dir: str):
        return (
            docs.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )


class StreamingBloomNgramIndex:
    """CONSTANT-STATE cross-doc n-gram duplication signal at ingest — the
    third member of the streaming dedup family, with the state profile the
    other two cannot have: StreamingChunkDedup's index grows with unique
    corpus content and StreamingDedupIndex's with unique documents, but a
    Bloom filter's union is plain bit OR, so this index's entire state is
    ONE bitmap frame (~n_bits/63 rows, ~2 MiB at 2^24 bits) FOREVER,
    regardless of corpus size. At 100 TB that is the difference between a
    growing side-input and a broadcastable constant; the price is the
    bloom contract (no false negatives, corpus-growth-dependent false
    positives — size n_bits for the expected distinct-gram count, and
    rebuild-to-resize offline when the corpus outgrows it).

    Per batch: the arriving docs' token n-gram windows (the same
    _gram_positions explode the batch profiles use) are flagged
    ``seen_before`` iff the gram hits the ACCUMULATED bloom (some prior
    batch contained it) or an earlier doc in the same batch contains it
    (exact, batch-local min-doc — cheap and removes any within-batch fp).
    Per-doc profiles (n_windows, n_seen_windows, seen_ratio) append per
    batch; the state update is bloom_bitmap(batch grams) bit_or-merged
    into the store. Durability mirrors SnapshotMaintainer: batch-id apply
    log (at-least-once replays skipped) + stage-then-swap writes.
    """

    def __init__(
        self,
        spark: SparkSession,
        store_dir: str,
        n: int = 5,
        n_bits: int = 1 << 20,
        k: int = 4,
    ) -> None:
        self.spark = spark
        self.bloom_path = os.path.join(store_dir, "ngram_bloom")
        self.profiles_path = os.path.join(store_dir, "ngram_profiles")
        self.n = n
        self.n_bits = n_bits
        self.k = k
        self._state = AtomicStateStore(self.bloom_path)

    def bloom_state(self) -> DataFrame | None:
        """The committed bitmap frame (word_idx, bits), None before any."""
        return self._state.read(self.spark)

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        from wsspark.llmops import bloom
        from wsspark.llmops.textstats import _gram_positions

        if batch_id <= self._state.last_batch():
            return
        docs = batch.repartition(
            self.spark.sparkContext.defaultParallelism, "doc_id"
        )
        g = _gram_positions(docs, self.n, "text", "doc_id")
        # exact within-batch "an earlier doc contains this gram"
        first = g.groupBy("gram_key").agg(F.min("doc_id").alias("_first_doc"))
        flagged = g.join(first, "gram_key")
        history = self.bloom_state()
        if history is not None:
            flagged = bloom.with_bloom_test(
                flagged, "gram_key", history, self.n_bits, self.k,
                out_col="_hist_hit",
            )
        else:
            flagged = flagged.withColumn("_hist_hit", F.lit(False))
        seen = F.col("_hist_hit") | (F.col("doc_id") > F.col("_first_doc"))
        per_doc = (
            docs.select("doc_id")
            .join(
                flagged.groupBy("doc_id").agg(
                    F.count("*").cast("long").alias("_nw"),
                    F.sum(seen.cast("int")).cast("long").alias("_nseen"),
                ),
                "doc_id",
                "left",
            )
            .select(
                "doc_id",
                F.coalesce("_nw", F.lit(0)).cast("long").alias("n_windows"),
                F.coalesce("_nseen", F.lit(0))
                .cast("long")
                .alias("n_seen_windows"),
            )
            .withColumn(
                "seen_ratio",
                F.round(
                    F.when(F.col("n_windows") == 0, F.lit(0.0)).otherwise(
                        F.col("n_seen_windows") / F.col("n_windows")
                    ),
                    4,
                ),
            )
        )
        per_doc.write.mode("overwrite").parquet(
            os.path.join(self.profiles_path, f"batch_id={batch_id}")
        )
        batch_bm = bloom.bloom_bitmap(
            g.select("gram_key").distinct(), "gram_key", self.n_bits, self.k
        )
        merged = batch_bm if history is None else (
            batch_bm.unionByName(history)
            .groupBy("word_idx")
            .agg(F.bit_or("bits").alias("bits"))
        )
        self._state.commit(merged, batch_id)

    def attach(self, docs: DataFrame, checkpoint_dir: str):
        return (
            docs.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )


class StreamingCmsCounter:
    """CONSTANT-STATE streaming frequency estimation — the CMS twin of
    StreamingBloomNgramIndex's state profile: counters are linear
    (llmops/cms), so the per-batch state update is ``sketch(batch)``
    merged into the store by a groupBy sum over <= width x depth rows,
    and the ENTIRE state stays that fixed-size frame forever, regardless
    of how much stream has passed through. The bloom index answers "seen
    before?"; this answers "roughly how often?" — together they are the
    bounded-memory pair a 100 TB ingest pipeline keeps per feed.

    ``estimate(keys)`` serves point estimates from the store with the
    batch operator's guarantees: never an underestimate of the true
    ingested count, overcount bounded by the width. Durability mirrors
    the other foreachBatch sinks: batch-id apply log (at-least-once
    replays skipped — a replayed batch must not double-count) +
    stage-then-swap store writes."""

    def __init__(
        self,
        spark: SparkSession,
        store_dir: str,
        key_col: str = "key",
        width: int = 1024,
        depth: int = 4,
        weight_col: str | None = None,
    ) -> None:
        self.spark = spark
        self.sketch_path = os.path.join(store_dir, "cms_sketch")
        self.key_col = key_col
        self.width = width
        self.depth = depth
        self.weight_col = weight_col
        self._state = AtomicStateStore(self.sketch_path)

    def sketch(self) -> DataFrame | None:
        """The committed sketch frame, None before the first commit."""
        return self._state.read(self.spark)

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        from wsspark.llmops import cms

        # counters are ADDITIVE — a replay would double-count, so the
        # cursor committed atomically with the sketch is the guard
        if batch_id <= self._state.last_batch():
            return
        batch_sk = cms.cms_sketch(
            batch, self.key_col, self.width, self.depth, self.weight_col
        )
        history = self.sketch()
        merged = batch_sk if history is None else cms.cms_merge(batch_sk, history)
        self._state.commit(merged, batch_id)

    def estimate(self, keys: DataFrame) -> DataFrame:
        from wsspark.llmops import cms

        history = self.sketch()
        if history is None:
            return keys.select(self.key_col).distinct().withColumn(
                "est", F.lit(0).cast("long")
            )
        return cms.cms_estimate(
            history, keys, self.key_col, self.width, self.depth
        )

    def attach(self, rows: DataFrame, checkpoint_dir: str):
        return (
            rows.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )


class StreamingMVMaintainer:
    """Continuous materialized-view maintenance — the streaming twin of
    ops.incremental.incremental_refresh: each micro-batch is partially
    aggregated (movement_mv over just the batch) and merged by key into a
    kept parquet MV store (merge_mv), so view freshness costs O(batch),
    never O(history). Mirrors SnapshotMaintainer's durability contract:
    batch-id cursor committed atomically WITH the store (the MV merge is
    additive — a replay would double-count, so the cursor and the state
    must advance in one pointer flip: AtomicStateStore), and a fresh
    store bootstraps from an empty typed frame.

    At 100 TB the store lives bucketed on the MV keys
    (io.write_bucketed_table) so the merge shuffles only the batch's
    delta aggregate — the same plan contract asserted for the batch
    operator in tests/test_incremental.py."""

    def __init__(
        self,
        spark: SparkSession,
        store_dir: str,
    ) -> None:
        self.spark = spark
        self.mv_path = os.path.join(store_dir, "mv")
        self._state = AtomicStateStore(self.mv_path)

    def mv(self) -> DataFrame:
        """The committed MV frame (typed-empty before the first commit)."""
        return self._read_mv()

    def _read_mv(self) -> DataFrame:
        df = self._state.read(self.spark)
        if df is not None:
            return df
        return local_frame(
            self.spark,
            [],
            T.StructType(
                [
                    T.StructField("warehouse_id", T.LongType()),
                    T.StructField("product_id", T.LongType()),
                    T.StructField("n_movements", T.LongType()),
                    T.StructField("net_qty", T.LongType()),
                    T.StructField("last_movement_at", T.TimestampType()),
                ]
            ),
        )

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        from wsspark.ops.incremental import merge_mv, movement_mv

        if batch_id <= self._state.last_batch():
            return
        delta = movement_mv(batch)
        new = merge_mv(self._read_mv(), delta).drop("avg_qty")
        self._state.commit(new, batch_id)

    def attach(self, movements: DataFrame, checkpoint_dir: str):
        return (
            movements.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )


class StreamingCdfMVMaintainer:
    """Continuous TRUE-IVM maintenance from the snapstore CHANGE FEED
    stream (``readStream.format("snapstore").option("readChangeFeed",
    "true")``): each micro-batch carries SIGNED row changes (insert /
    update pre+post / delete), so fact UPDATEs and DELETEs maintain the
    view continuously at O(batch) — the streaming twin of
    ``ops.incremental.snapstore_mv_refresh_cdf``, on
    ``StreamingMVMaintainer``'s exactly-once ``AtomicStateStore``
    contract (cursor and state advance in one pointer flip; replayed
    batch ids no-op). The CDF MV shape is count/sum/avg — MAX is not
    self-maintainable under retractions (see ops/incremental.py)."""

    def __init__(self, spark: SparkSession, store_dir: str) -> None:
        self.spark = spark
        self.mv_path = os.path.join(store_dir, "mv_cdf")
        self._state = AtomicStateStore(self.mv_path)

    def mv(self) -> DataFrame:
        return self._read_mv()

    def _read_mv(self) -> DataFrame:
        df = self._state.read(self.spark)
        if df is not None:
            return df
        return local_frame(
            self.spark,
            [],
            T.StructType(
                [
                    T.StructField("warehouse_id", T.LongType()),
                    T.StructField("product_id", T.LongType()),
                    T.StructField("n_movements", T.LongType()),
                    T.StructField("net_qty", T.LongType()),
                    T.StructField("avg_qty", T.DoubleType()),
                ]
            ),
        )

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        from wsspark.ops.incremental import cdf_delta_mv, merge_mv_cdf

        if batch_id <= self._state.last_batch():
            return
        new = merge_mv_cdf(self._read_mv(), cdf_delta_mv(batch))
        self._state.commit(new, batch_id)

    def attach(self, changes: DataFrame, checkpoint_dir: str):
        return (
            changes.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )


class StreamingCdfDriftMonitor:
    """Retraction-aware CUMULATIVE drift from the snapstore change feed
    (r16): the per-(column, bucket) PSI counts of the WHOLE table state,
    maintained O(batch changes) per micro-batch — the streaming twin of
    ``quality.snapstore_drift_ivm_refresh`` on the exactly-once
    ``AtomicStateStore`` contract (cursor and counts advance in one
    pointer flip; replayed batch ids no-op).

    ``StreamingDriftMonitor`` (below) verdicts each ARRIVING batch
    against the baseline — an insert-only lens that never sees a fact
    UPDATE or DELETE shift the distribution. This monitor rides the CDF
    stream's signed rows (insert/update_postimage +1,
    delete/update_preimage -1), so retractions adjust the maintained
    counts and ``report()`` equals
    ``drift_report(baseline, fact@consumed-version)`` at every cursor
    (pinned in tests/test_streaming_mv.py). The baseline's bucket edges
    and counts are resolved ONCE at construction and never move — the
    monitor's yardstick must not drift with its subject. Driver state
    is O(columns x buckets) for the life of the query, the drift
    family's bounded-state contract."""

    def __init__(
        self,
        spark: SparkSession,
        store_dir: str,
        baseline: DataFrame,
        numeric_cols: list[str] | None = None,
        cat_cols: list[str] | None = None,
        n_buckets: int = 10,
        max_cat_buckets: int | None = None,
    ) -> None:
        from wsspark.quality import MAX_CAT_BUCKETS, _drift_counts, _drift_edges

        self.spark = spark
        self.numeric_cols = list(numeric_cols or [])
        self.cat_cols = list(cat_cols or [])
        if not self.numeric_cols and not self.cat_cols:
            raise ValueError(
                "StreamingCdfDriftMonitor: pass at least one column"
            )
        self.n_buckets = n_buckets
        self.max_cat_buckets = (
            MAX_CAT_BUCKETS if max_cat_buckets is None else max_cat_buckets
        )
        self.edges = _drift_edges(baseline, self.numeric_cols)
        self.base_counts = _drift_counts(
            baseline, self.numeric_cols, self.cat_cols, self.edges,
            n_buckets, self.max_cat_buckets,
        )
        self._state = AtomicStateStore(os.path.join(store_dir, "drift_cdf"))

    def _cur(self) -> dict:
        df = self._state.read(self.spark)
        if df is None:
            # the feed replays the fact from its beginning (appends
            # derive inserts from the file diff), so the counts start
            # EMPTY and the first run rebuilds the current state
            return {}
        return {(r.col, r.bucket): r.n for r in df.collect()}

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        from wsspark.quality import _drift_counts_delta

        if batch_id <= self._state.last_batch():
            return
        delta = _drift_counts_delta(
            batch, self.numeric_cols, self.cat_cols, self.edges,
            self.n_buckets, self.max_cat_buckets,
        )
        cur = self._cur()
        for key, dn in delta.items():
            cur[key] = cur.get(key, 0) + dn
        cur = {k: n for k, n in cur.items() if n != 0}
        rows = [(c, b, int(n)) for (c, b), n in sorted(cur.items())]
        self._state.commit(
            local_frame(
                self.spark,
                rows, "col string, bucket string, n long"
            ).coalesce(1),
            batch_id,
        )

    def report(self, psi_alert: float = 0.2) -> DataFrame:
        from wsspark.quality import _psi_rows

        out = _psi_rows(
            self.numeric_cols, self.cat_cols, self.edges,
            self.base_counts, self._cur(), psi_alert,
        )
        return local_frame(
            self.spark,
            sorted(out),
            "column string, kind string, n_base long, n_current long, "
            "psi double, drifted boolean",
        )

    def attach(self, changes: DataFrame, checkpoint_dir: str):
        return (
            changes.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )


class StreamingDriftMonitor:
    """Per-micro-batch PSI drift against a PINNED baseline — the
    streaming member of the DQ drift family (quality.drift_report): an
    ingest pipeline doesn't get to re-scan yesterday to notice today's
    feed shifted, so the baseline's bucket edges and counts are resolved
    ONCE at construction (two tiny aggregations; O(columns x buckets)
    driver state held for the life of the query) and every micro-batch
    pays exactly one stacked count aggregation over its own rows.

    Output: one row per audited column per batch under
    ``<store>/drift/batch_id=N/`` — the idempotent per-batch-partition
    write shape, guarded by the ``_BatchLog`` cursor (a replay rewrites
    its own directory; see _BatchLog's class doc for why merging sinks
    use AtomicStateStore instead). ``report()`` reads the full drift
    timeline with ``batch_id`` restored by partition discovery.

    Constant state forever: nothing accumulates across batches except
    the one-row-per-column verdicts themselves — the same bounded-state
    argument as StreamingCmsCounter, applied to distribution monitoring.
    """

    def __init__(
        self,
        spark: SparkSession,
        store_dir: str,
        baseline: DataFrame,
        numeric_cols: list[str] | None = None,
        cat_cols: list[str] | None = None,
        n_buckets: int = 10,
        psi_alert: float = 0.2,
        max_cat_buckets: int | None = None,
        topk_cols: list[str] | None = None,
        k: int = 100,
    ) -> None:
        from wsspark.quality import (
            MAX_CAT_BUCKETS,
            _cat_value_counts,
            _drift_counts,
            _drift_edges,
            _fold_to_buckets,
            _topk_values,
        )

        self.spark = spark
        self.drift_path = os.path.join(store_dir, "drift")
        self.numeric_cols = list(numeric_cols or [])
        self.cat_cols = list(cat_cols or [])
        # topk_cols: UNBOUNDED-cardinality categoricals ride the
        # quality.drift_topk scale path — the bucket set is pinned to the
        # BASELINE's top-k values (plus OTHER) at construction, so every
        # batch pays one stacked count aggregation and the monitor's
        # state stays O(cols x k) for the life of the query. The bounded
        # cat_cols keep the exact per-value buckets under the
        # MAX_CAT_BUCKETS guard.
        self.topk_cols = list(topk_cols or [])
        overlap = set(self.topk_cols) & set(
            self.cat_cols + self.numeric_cols
        )
        if overlap:
            raise ValueError(
                f"StreamingDriftMonitor: {sorted(overlap)} passed as both "
                "topk_cols and numeric/cat_cols"
            )
        if not self.numeric_cols and not self.cat_cols and not self.topk_cols:
            raise ValueError("StreamingDriftMonitor: pass at least one column")
        self.n_buckets = n_buckets
        self.psi_alert = psi_alert
        self.k = k
        # same categorical-cardinality guard as quality.drift_report: the
        # monitor holds baseline counts for the life of the query AND
        # collects per-batch counts forever — both bounded per column
        self.max_cat_buckets = (
            MAX_CAT_BUCKETS if max_cat_buckets is None else max_cat_buckets
        )
        self.edges = _drift_edges(baseline, self.numeric_cols)
        self.base_counts = (
            _drift_counts(
                baseline,
                self.numeric_cols,
                self.cat_cols,
                self.edges,
                n_buckets,
                self.max_cat_buckets,
            )
            if (self.numeric_cols or self.cat_cols)
            else {}
        )
        if self.topk_cols:
            self.topk_rows = _topk_values(
                _cat_value_counts(baseline, self.topk_cols), k
            )
            self.base_topk_counts = _fold_to_buckets(
                _cat_value_counts(baseline, self.topk_cols),
                self.topk_rows,
                self.topk_cols,
                k,
            )
        else:
            self.topk_rows = []
            self.base_topk_counts = {}
        self._log = _BatchLog(store_dir)

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        from wsspark.quality import (
            _cat_value_counts,
            _drift_counts,
            _fold_to_buckets,
            _psi_rows,
        )

        if batch_id <= self._log.last_applied():
            return
        rows = []
        if self.numeric_cols or self.cat_cols:
            cc = _drift_counts(
                batch,
                self.numeric_cols,
                self.cat_cols,
                self.edges,
                self.n_buckets,
                self.max_cat_buckets,
            )
            rows += _psi_rows(
                self.numeric_cols,
                self.cat_cols,
                self.edges,
                self.base_counts,
                cc,
                self.psi_alert,
            )
        if self.topk_cols:
            tc = _fold_to_buckets(
                _cat_value_counts(batch, self.topk_cols),
                self.topk_rows,
                self.topk_cols,
                self.k,
            )
            rows += _psi_rows(
                [],
                self.topk_cols,
                {},
                self.base_topk_counts,
                tc,
                self.psi_alert,
            )
        local_frame(
            self.spark,
            sorted(rows),
            "column string, kind string, n_base long, n_current long, "
            "psi double, drifted boolean",
        ).write.mode("overwrite").parquet(
            os.path.join(self.drift_path, f"batch_id={batch_id}")
        )
        self._log.commit(batch_id)

    def report(self) -> DataFrame:
        """The COMMITTED drift timeline. Only batch dirs at-or-below the
        ``_BatchLog`` cursor are read (explicit dir list + basePath, not
        blind partition discovery): a crash between the per-batch dir
        write and the log commit leaves a torn or unlogged
        ``batch_id=N`` dir behind, and blind discovery would either
        surface those uncommitted rows or fail outright on a partial
        parquet file — the replay rewrites and commits the dir, at which
        point it becomes visible. Read-committed, exactly like
        AtomicStateStore's pointer semantics, for the idempotent
        partition-dir shape."""
        last = self._log.last_applied()
        dirs = []
        if os.path.isdir(self.drift_path):
            for name in sorted(os.listdir(self.drift_path)):
                if not name.startswith("batch_id="):
                    continue
                try:
                    bid = int(name.split("=", 1)[1])
                except ValueError:
                    continue
                if bid <= last:
                    dirs.append(os.path.join(self.drift_path, name))
        if not dirs:
            return local_frame(
                self.spark,
                [],
                "column string, kind string, n_base long, n_current long, "
                "psi double, drifted boolean, batch_id int",
            )
        return self.spark.read.option("basePath", self.drift_path).parquet(
            *dirs
        )

    def attach(self, rows: DataFrame, checkpoint_dir: str):
        return (
            rows.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
