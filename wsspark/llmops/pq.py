"""Product quantization (PQ) for embedding compression + ANN search.

Completes the similarity family's scale ladder (brute force -> IVF cells
-> int8 scalar quantization -> PQ): split each d-dim vector into ``m``
subvectors, k-means each subspace into ``k`` centroids, and store each
vector as ``m`` code bytes. At d=64, m=8, k=16 that is 8 bytes per vector
— a 32x compression over float32 — which is what lets a 100 TB embedding
corpus keep its ANN index in executor memory. Search uses asymmetric
distance computation (ADC): the query stays full-precision, one k×m
distance table is built per query (driver math, k·m floats), and each
candidate's approximate distance is ``m`` table lookups — no decode.

Scale shape:
- **Training** runs on a deterministic sample (md5-ordered, the repo's
  standard sampling discipline): codebooks need O(10⁴-10⁵) vectors
  regardless of corpus size, so the sample collect is O(sample·d), never
  O(corpus). Lloyd's iterations are numpy on the driver — at sample
  sizes this is milliseconds and exactly reproducible.
- **Encoding** is a broadcast-codebook ``mapInPandas`` pass: per Arrow
  batch one (rows × k) distance matrix per subspace, vectorized argmin.
  O(rows·k·d) FLOPs, fully parallel, 1-byte-per-subspace output.
- **Search** broadcasts the per-query lookup table inside the same kind
  of pass; top-k via the registered pinned-order pattern.

Honest accuracy contract: recall@k of PQ-ADC against brute-force cosine
is MEASURED in tests (pinned at the observed floor on the driver corpus)
— PQ is a recall/memory trade, never exact; the int8 path
(quantized_ann_topk) re-ranks a shortlist for recall 1.0, and PQ can be
composed with the same re-rank when exactness matters.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from wsspark.exec import local_frame


def _sampled_matrix(
    embs: DataFrame, vec_col: str, id_col: str, sample: int
) -> np.ndarray:
    """Deterministic training sample: md5-rank over ids (portable, layout-
    independent), collected as a (sample, d) float64 matrix."""
    rows = (
        embs.select(id_col, vec_col)
        .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(sample)
        .collect()
    )
    return np.stack([np.asarray(r[1], dtype=np.float64) for r in rows])


def train_codebooks(
    embs: DataFrame,
    m: int = 8,
    k: int = 16,
    n_iter: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample: int = 4096,
) -> np.ndarray:
    """Per-subspace Lloyd's k-means on a deterministic sample.

    Returns codebooks of shape (m, k, d/m). Deterministic init: the first
    k distinct sample rows per subspace (md5 order), so retrains are
    byte-identical. Empty clusters re-seed from the farthest points."""
    x = _sampled_matrix(embs, vec_col, id_col, sample)
    d = x.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    sub = d // m
    books = np.empty((m, k, sub))
    for j in range(m):
        xj = x[:, j * sub : (j + 1) * sub]
        cent = xj[:k].copy()
        for _ in range(n_iter):
            d2 = ((xj[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(k):
                mask = assign == c
                if mask.any():
                    cent[c] = xj[mask].mean(axis=0)
                else:  # re-seed an empty cluster with the worst-fit point
                    cent[c] = xj[d2.min(axis=1).argmax()]
        books[j] = cent
    return books


def encode(
    embs: DataFrame,
    codebooks: np.ndarray,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, codes) frame: codes[j] = argmin-centroid of subvector j."""
    books = np.asarray(codebooks, dtype=np.float64)
    m, _, sub = books.shape
    schema = StructType(
        [
            StructField(id_col, LongType(), False),
            StructField("codes", ArrayType(IntegerType()), False),
        ]
    )

    def _enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            codes = np.empty((len(x), m), dtype=np.int64)
            for j in range(m):
                xj = x[:, j * sub : (j + 1) * sub]
                d2 = ((xj[:, None, :] - books[j][None, :, :]) ** 2).sum(axis=2)
                codes[:, j] = d2.argmin(axis=1)
            yield pd.DataFrame(
                {id_col: pdf[id_col], "codes": [list(map(int, c)) for c in codes]}
            )

    return embs.select(id_col, vec_col).mapInPandas(_enc, schema)


def adc_topk(
    codes: DataFrame,
    codebooks: np.ndarray,
    query: np.ndarray,
    topk: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric-distance top-k: per-query k×m lookup table, each
    candidate scored with m table lookups, pinned (distance, id) order."""
    books = np.asarray(codebooks, dtype=np.float64)
    q = np.asarray(query, dtype=np.float64)
    m, k, sub = books.shape
    # table[c, j] = || q_j - centroid_cj ||^2
    table = np.stack(
        [((books[j] - q[j * sub : (j + 1) * sub]) ** 2).sum(axis=1) for j in range(m)],
        axis=1,
    )  # (k, m)
    schema = StructType(
        [
            StructField(id_col, LongType(), False),
            StructField("adc_dist", DoubleType(), False),
        ]
    )

    def _score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            cd = np.stack([np.asarray(c) for c in pdf["codes"]])
            dist = table[cd, np.arange(m)[None, :]].sum(axis=1)
            yield pd.DataFrame(
                {id_col: pdf[id_col], "adc_dist": np.round(dist, 6)}
            )

    scored = codes.mapInPandas(_score, schema)
    return scored.orderBy("adc_dist", id_col).limit(topk)


def search_rerank(
    embs: DataFrame,
    codes: DataFrame,
    codebooks: np.ndarray,
    query: np.ndarray,
    topk: int = 10,
    shortlist: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """PQ shortlist + full-precision re-rank (the same compose the int8
    path uses): ADC selects ``shortlist`` candidates (default 10·topk)
    from the 10-byte codes, then ONLY those rows are scored exactly
    against the float vectors (broadcast semi-join on the tiny shortlist,
    pinned order). Measured on the driver corpus (m=16, k=32,
    shortlist=10·topk): mean recall@10 = 0.99, min 0.9 — the memory win
    of PQ with near-exact results, re-ranking 10·topk rows instead of
    scanning the corpus in float."""
    if shortlist is None:
        shortlist = 10 * topk
    q = np.asarray(query, dtype=np.float64)
    cand = adc_topk(codes, codebooks, q, topk=shortlist, id_col=id_col)
    qlit = F.array(*[F.lit(float(v)) for v in q])
    d2 = F.aggregate(
        F.zip_with(
            F.col(vec_col), qlit, lambda a, b: (a - b) * (a - b)
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return (
        embs.join(F.broadcast(cand.select(id_col)), id_col, "left_semi")
        .select(id_col, F.round(d2, 6).alias("dist"))
        .orderBy("dist", id_col)
        .limit(topk)
    )


def ivf_pq_search(
    embs: DataFrame,
    assigned: DataFrame,
    centroids: DataFrame,
    codes: DataFrame,
    codebooks: np.ndarray,
    query: np.ndarray,
    topk: int = 10,
    n_probe: int = 2,
    shortlist: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """The full production ANN compose — every rung of the ladder at once:
    IVF cells cut the candidate set sub-linearly (only ``n_probe`` cells'
    vectors are considered), PQ ADC scores those candidates from their
    1-byte-per-subspace codes (no float reads), and the exact re-rank
    touches only the ``shortlist`` survivors. This is the layout a 100 TB
    embedding corpus actually serves from: codes partitioned BY CELL on
    disk, so the probe prunes partitions before any scan; here the cell
    restriction is a broadcast join of the (tiny) probed-cell list onto
    the assignment frame and a semi-join onto the codes — same semantics,
    in-memory form.

    Recall contract: cell misses dominate (the PQ shortlist re-rank is
    near-exact at 10x over-fetch, measured 0.99 mean in test_pq), so
    compose recall ~= IVF recall at the same n_probe — measured and
    pinned in tests/test_pq.py. Everything stays lazy: the probed-cell
    list is a limit-2 frame, never collected.

    ``ivf_pq_search_multi`` reimplements this ladder with per-query
    windows for batched serving; the two formulations are DELIBERATELY
    independent (orderBy().limit() vs row_number) and pinned
    row-identical in tests/test_pq.py — a cross-implementation check, so
    any semantic drift in either (rounding, tiebreaks, probing) goes red
    there. Change them in sync."""
    from wsspark.llmops.similarity import dot, with_norm

    q = np.asarray(query, dtype=np.float64)
    spark = embs.sparkSession
    q_df = local_frame(
        spark,
        [(0, [float(v) for v in q])], f"{id_col} long, {vec_col} array<double>"
    )
    qn = with_norm(q_df, vec_col).select(
        F.col("_vec").alias("_qvec"), F.col("_norm").alias("_qnorm")
    )
    probed = (
        centroids.crossJoin(F.broadcast(qn))
        .select(
            "centroid_id",
            (
                dot(F.col("_vec"), F.col("_qvec"))
                / (F.col("_norm") * F.col("_qnorm"))
            ).alias("_cos"),
        )
        .orderBy(F.col("_cos").desc(), "centroid_id")
        .limit(n_probe)
        .select("centroid_id")
    )
    # ivf_build_index's assignment frame carries the id as neighbor_id
    aid = "neighbor_id" if "neighbor_id" in assigned.columns else id_col
    cand = (
        assigned.join(F.broadcast(probed), "centroid_id")
        .select(F.col(aid).alias(id_col))
    )
    sub_codes = codes.join(cand, id_col, "left_semi")
    return search_rerank(
        embs,
        sub_codes,
        codebooks,
        q,
        topk=topk,
        shortlist=shortlist,
        vec_col=vec_col,
        id_col=id_col,
    )


def ivf_pq_search_multi(
    embs: DataFrame,
    assigned: DataFrame,
    centroids: DataFrame,
    codes: DataFrame,
    codebooks: np.ndarray,
    queries: dict[int, np.ndarray],
    topk: int = 10,
    n_probe: int = 2,
    shortlist: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Batched form of ``ivf_pq_search``: all query vectors ride ONE pass
    through each ladder rung instead of a per-query job chain — the shape
    an online ANN service actually runs (requests are micro-batched, the
    index is shared). Per query the selected rows are IDENTICAL to the
    single-query compose (same rounding, same (dist, id) tiebreaks; pinned
    in tests/test_pq.py): the per-query ``orderBy().limit()`` becomes a
    ``row_number`` window partitioned by query_id — many small sorted
    partitions, no global sort, no per-query job fan-out.

    Scale shape: the query set is request-sized (broadcast everywhere it
    appears); candidate generation is one broadcast join of the probed
    (query, cell) list onto the assignment frame; ADC scores every
    (query, candidate) pair in one Arrow pass with a (Q, k, m) table
    tensor; the exact re-rank touches only Q*shortlist rows."""
    from pyspark.sql import Window

    from wsspark.llmops.similarity import dot, with_norm

    if shortlist is None:
        shortlist = 10 * topk
    books = np.asarray(codebooks, dtype=np.float64)
    m, k, sub = books.shape
    qids = sorted(queries)
    qmat = np.stack([np.asarray(queries[q], dtype=np.float64) for q in qids])
    # (Q, k, m) ADC tables: tables[qi, c, j] = ||q_j - centroid_cj||^2
    tables = np.stack(
        [
            np.stack(
                [
                    ((books[j] - qv[j * sub : (j + 1) * sub]) ** 2).sum(axis=1)
                    for j in range(m)
                ],
                axis=1,
            )
            for qv in qmat
        ]
    )
    qpos = {q: i for i, q in enumerate(qids)}

    spark = embs.sparkSession
    q_df = local_frame(
        spark,
        [(int(q), [float(v) for v in queries[q]]) for q in qids],
        f"query_id long, {vec_col} array<double>",
    )
    qn = with_norm(q_df, vec_col).select(
        "query_id",
        F.col("_vec").alias("_qvec"),
        F.col("_norm").alias("_qnorm"),
    )

    w_cell = Window.partitionBy("query_id").orderBy(
        F.col("_cos").desc(), "centroid_id"
    )
    probed = (
        centroids.crossJoin(F.broadcast(qn))
        .select(
            "query_id",
            "centroid_id",
            (
                dot(F.col("_vec"), F.col("_qvec"))
                / (F.col("_norm") * F.col("_qnorm"))
            ).alias("_cos"),
        )
        .withColumn("_rn", F.row_number().over(w_cell))
        .filter(F.col("_rn") <= n_probe)
        .select("query_id", "centroid_id")
    )
    aid = "neighbor_id" if "neighbor_id" in assigned.columns else id_col
    cand = assigned.join(F.broadcast(probed), "centroid_id").select(
        "query_id", F.col(aid).alias(id_col)
    )

    schema = StructType(
        [
            StructField("query_id", LongType(), False),
            StructField(id_col, LongType(), False),
            StructField("adc_dist", DoubleType(), False),
        ]
    )

    def _score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            cd = np.stack([np.asarray(c) for c in pdf["codes"]])
            qi = pdf["query_id"].map(qpos).to_numpy()
            dist = tables[qi[:, None], cd, np.arange(m)[None, :]].sum(axis=1)
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"],
                    id_col: pdf[id_col],
                    "adc_dist": np.round(dist, 6),
                }
            )

    scored = (
        codes.join(cand, id_col)
        .select("query_id", id_col, "codes")
        .mapInPandas(_score, schema)
    )
    w_adc = Window.partitionBy("query_id").orderBy("adc_dist", id_col)
    short = (
        scored.withColumn("_rn", F.row_number().over(w_adc))
        .filter(F.col("_rn") <= shortlist)
        .select("query_id", id_col)
    )

    d2 = F.aggregate(
        F.zip_with(F.col(vec_col), F.col("_qvec"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    w_final = Window.partitionBy("query_id").orderBy("dist", id_col)
    return (
        embs.join(F.broadcast(short), id_col)
        .join(F.broadcast(qn.select("query_id", "_qvec")), "query_id")
        .select("query_id", id_col, F.round(d2, 6).alias("dist"))
        .withColumn("_rn", F.row_number().over(w_final))
        .filter(F.col("_rn") <= topk)
        .select("query_id", F.col(id_col).alias("neighbor_id"), "dist")
    )


def write_ivf_pq_store(
    vectors: DataFrame,
    path: str,
    m: int = 8,
    k: int = 16,
    sample: int = 4096,
    n_cells: int | None = None,
    centroids: DataFrame | None = None,
    codebooks: np.ndarray | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> tuple[DataFrame, np.ndarray, int]:
    """Persist the FULL production ANN layout: one parquet directory per
    IVF cell, each row carrying the PQ codes (the scan payload for ADC)
    AND the float vector (read only by the re-rank). Returns
    ``(centroids, codebooks, n_cells)`` — keep both beside the store;
    they are sqrt(N)- and (m*k*d/m)-sized. A 100 TB corpus serves from
    exactly this shape: the probe prunes PARTITIONS (directory listing),
    ADC prunes COLUMNS (codes-only ReadSchema), and the float vectors are
    touched for shortlist rows only — all three prunings are
    plan-asserted in tests/test_pq.py."""
    from wsspark.llmops.similarity import ivf_build_index

    assigned, centroids, n_cells = ivf_build_index(
        vectors, n_cells, vec_col, id_col, centroids=centroids
    )
    if codebooks is None:
        codebooks = train_codebooks(
            vectors, m=m, k=k, vec_col=vec_col, id_col=id_col, sample=sample
        )
    codes = encode(vectors, codebooks, vec_col=vec_col, id_col=id_col)
    store = assigned.select(
        F.col("neighbor_id").alias(id_col), "centroid_id", "_vec", "_norm"
    ).join(codes, id_col)
    store.write.partitionBy("centroid_id").mode("overwrite").parquet(path)
    return centroids, codebooks, n_cells


def ivf_pq_search_store(
    spark,
    path: str,
    centroids: DataFrame,
    codebooks: np.ndarray,
    query: np.ndarray,
    topk: int = 10,
    n_probe: int = 2,
    shortlist: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Search a ``write_ivf_pq_store`` layout with all three prunings
    live: probed cells resolved to LITERAL ids (one O(n_probe) collect,
    request-sized) so the reader partition-prunes; the ADC pass selects
    only (id, codes) so the scan's ReadSchema drops the float vectors;
    the exact re-rank semi-joins the shortlist back onto the pruned
    store's vectors. Row-identical to ``ivf_pq_search`` over the same
    index/codebooks (pinned in tests/test_pq.py)."""
    from wsspark.llmops.similarity import dot, with_norm

    if shortlist is None:
        shortlist = 10 * topk
    q = np.asarray(query, dtype=np.float64)
    q_df = local_frame(
        spark,
        [(0, [float(v) for v in q])], f"{id_col} long, {vec_col} array<double>"
    )
    qn = with_norm(q_df, vec_col).select(
        F.col("_vec").alias("_qvec"), F.col("_norm").alias("_qnorm")
    )
    probed_ids = sorted(
        r["centroid_id"]
        for r in centroids.crossJoin(F.broadcast(qn))
        .select(
            "centroid_id",
            (
                dot(F.col("_vec"), F.col("_qvec"))
                / (F.col("_norm") * F.col("_qnorm"))
            ).alias("_cos"),
        )
        .orderBy(F.col("_cos").desc(), "centroid_id")
        .limit(n_probe)
        .collect()
    )
    pruned = spark.read.parquet(path).filter(
        F.col("centroid_id").isin(*[int(c) for c in probed_ids])
    )
    cand_codes = pruned.select(id_col, "codes")
    short = adc_topk(cand_codes, codebooks, q, topk=shortlist, id_col=id_col)
    d2 = F.aggregate(
        F.zip_with(F.col("_vec"), F.array(*[F.lit(float(v)) for v in q]),
                   lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return (
        pruned.select(id_col, "_vec")
        .join(F.broadcast(short.select(id_col)), id_col, "left_semi")
        .select(id_col, F.round(d2, 6).alias("dist"))
        .orderBy("dist", id_col)
        .limit(topk)
    )
