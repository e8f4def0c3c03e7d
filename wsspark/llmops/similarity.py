"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: brute-force exact top-k — the baseline/oracle. Dot
  products are native ``zip_with``/``aggregate`` expressions in double
  precision (JVM codegen; no Python, no UDF).
- ``ivf_topk``: the scale path — an IVF-style index: pick C deterministic
  centroids, assign every vector to its ``n_probe`` nearest cells, and only
  score query/candidate pairs that share a cell. Per-cell work is
  |cell_queries| x |cell_vectors| instead of |Q| x |N|.

At 100 TB the corpus side stays partitioned by cell (bucketed layout) and
queries broadcast — no all-pairs shuffle ever materializes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from wsspark.exec import persisted, rounds


def as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def with_norm(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    v = as_double(F.col(vec_col))
    return df.withColumn("_vec", v).withColumn("_norm", norm(F.col("_vec")))


def cosine_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact brute-force cosine top-k: broadcast the (small) query set against
    the corpus, one shuffle for the per-query top-k window."""
    corpus = with_norm(vectors, vec_col).select(
        F.col(id_col).alias("neighbor_id"), "_vec", "_norm"
    )
    qs = with_norm(queries, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col("_vec").alias("_qvec"),
        F.col("_norm").alias("_qnorm"),
    )
    cos = F.round(
        dot(F.col("_qvec"), F.col("_vec")) / (F.col("_qnorm") * F.col("_norm")), 4
    )
    scored = (
        corpus.join(F.broadcast(qs), F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cos.alias("cos_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("_rank", F.row_number().over(w))
        .filter(F.col("_rank") <= k)
        .drop("_rank")
    )


# Knuth multiplicative hash (mod 2^32): deterministic, id-order-free spread.
# Chosen over xxhash64 so an external SQL oracle can replicate centroid
# selection bit-for-bit; safe from int64 overflow for ids < ~3.4e9 (swap in
# xxhash64 beyond that, giving up oracle parity).
_KNUTH = 2654435761
_MOD32 = 4294967296


def spread_centroids(corpus: DataFrame, n_cells: int, id_col: str = "vec_id") -> DataFrame:
    """Pick ``n_cells`` centroid vectors by smallest Knuth hash of their id —
    a deterministic uniform sample over the id space. Unlike smallest-N-ids
    (round 1), the picks are uncorrelated with ingest order, so cells don't
    collapse into one corner of the corpus when ids encode arrival time.
    A k-means refinement would drop in here without changing the dataflow.

    orderBy().limit() compiles to TakeOrderedAndProject — a distributed
    top-N, not a global sort; the row_number window then runs over only the
    ``n_cells`` picked rows."""
    h = F.pmod(F.col(id_col) * F.lit(_KNUTH), F.lit(_MOD32))
    picked = corpus.withColumn("_h", h).orderBy("_h", id_col).limit(n_cells)
    w = Window.orderBy("_h", id_col)
    return picked.select(
        F.row_number().over(w).alias("centroid_id"), "_vec", "_norm"
    )


def auto_n_cells(corpus: DataFrame, floor: int = 16) -> int:
    """Corpus-proportional cell count: ~sqrt(N) (classic IVF sizing — cell
    scan cost ~N/C balances probe cost ~C at C=sqrt(N)). The count() is the
    index-BUILD phase, an explicitly eager step, not hidden query work; on
    parquet it's a metadata-only job."""
    n = corpus.count()
    return max(floor, int(n**0.5))


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    n_probe: int = 1,
    vec_col: str = "_vec",
    id_col: str = "vec_id",
) -> DataFrame:
    """Assign each vector to its n_probe nearest centroids (by cosine)."""
    cents = centroids.select(
        F.col("centroid_id"), F.col("_vec").alias("_cvec"), F.col("_norm").alias("_cnorm")
    )
    cos = dot(F.col(vec_col), F.col("_cvec")) / (F.col("_norm") * F.col("_cnorm"))
    scored = vectors.crossJoin(F.broadcast(cents)).withColumn("_ccos", cos)
    w = Window.partitionBy(id_col).orderBy(F.desc("_ccos"), F.asc("centroid_id"))
    return (
        scored.withColumn("_crank", F.row_number().over(w))
        .filter(F.col("_crank") <= n_probe)
        .drop("_ccos", "_crank", "_cvec", "_cnorm")
    )


def ivf_build_index(
    vectors: DataFrame,
    n_cells: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame, int]:
    """Build the IVF index: ``(assigned, centroids, n_cells)``. Centroids
    default to a deterministic hash-spread sample (``spread_centroids``)
    with ``n_cells`` ~sqrt(N) (``auto_n_cells``); pass ``centroids`` — a
    (centroid_id, _vec, _norm) frame, e.g. k-means-refined means — to
    build over trained cells instead (measured: +0.1 recall at equal
    probe on the synthetic corpus, see PLANS.md ANN recall). Each corpus
    vector is assigned to exactly ONE cell either way.

    ``n_cells`` is resolved HERE (one tiny count at build time when the
    caller didn't fix it) so ``ivf_search`` can derive its default
    ``n_probe`` without firing a hidden per-search Spark job.

    This is the expensive phase — N x n_cells centroid dot products — and
    in production it runs ONCE (persist/cache ``assigned``) and is
    amortized over every subsequent search. Measured (local[32], dim 64,
    20 queries): per-call IVF loses to brute force at 32k vectors (9.5 s vs
    2.6 s) because the build dominates, while a prebuilt cached index
    searches the same corpus in well under brute time — the crossover is
    query volume ~sqrt(N), so SEPARATE build from search."""
    corpus = with_norm(vectors, vec_col).select(F.col(id_col), "_vec", "_norm")
    if centroids is None:
        if n_cells is None:
            n_cells = auto_n_cells(corpus)
        centroids = spread_centroids(corpus, n_cells, id_col=id_col)
    elif n_cells is None:
        n_cells = centroids.count()
    assigned = ivf_assign(corpus, centroids, n_probe=1, id_col=id_col).select(
        F.col(id_col).alias("neighbor_id"), "centroid_id", "_vec", "_norm"
    )
    return assigned, centroids, n_cells


def kmeans_centroids(
    vectors: DataFrame,
    k: int,
    n_iter: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """SPHERICAL Lloyd-refined centroids in the (centroid_id, _vec, _norm)
    shape ``ivf_build_index`` accepts — the trained-cell upgrade path for
    IVF. Same distributed iteration as ``kmeans_embeddings`` (broadcast
    argmin, one k x dim exchange per round), returning the means instead
    of the assignment.

    ``ivf_assign``/``ivf_search`` assign by COSINE, so the refinement must
    optimize the same metric: corpus vectors and the per-round means are
    unit-normalized (spherical k-means), which makes the squared-Euclidean
    argmin below identical to the cosine argmin (||a-b||^2 = 2 - 2cos for
    unit vectors). Refining unnormalized means by plain Euclidean distance
    — the pre-round-6 behavior — silently optimizes a different objective
    than the one search uses."""
    corpus = (
        with_norm(vectors, vec_col)
        .select(
            F.col(id_col),
            F.transform(
                F.col("_vec"),
                lambda x: x / F.greatest(F.col("_norm"), F.lit(1e-12)),
            ).alias("_vec"),
        )
        .withColumn("_norm", norm(F.col("_vec")))
    )
    corpus = corpus.localCheckpoint()
    cents = spread_centroids(corpus, k, id_col=id_col).select(
        "centroid_id", F.col("_vec").alias("_cvec")
    )
    d2 = F.aggregate(
        F.zip_with(F.col("_vec"), F.col("_cvec"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    with rounds() as barrier:
        for _ in range(n_iter):
            assigned = (
                corpus.crossJoin(F.broadcast(cents))
                .select(F.col(id_col), "_vec", "centroid_id", d2.alias("_d2"))
                .groupBy(id_col)
                .agg(
                    F.min(F.struct("_d2", "centroid_id")).alias("_best"),
                    F.first("_vec").alias("_vec"),
                )
                .select("_vec", F.col("_best.centroid_id").alias("cluster_id"))
            )
            means = (
                assigned.select("cluster_id", F.posexplode("_vec").alias("dim", "x"))
                .groupBy("cluster_id", "dim")
                .agg(F.round(F.avg("x"), 9).alias("m"))
                .groupBy("cluster_id")
                .agg(F.array_sort(F.collect_list(F.struct("dim", "m"))).alias("_dm"))
                .select(
                    "cluster_id",
                    F.transform(F.col("_dm"), lambda s: s["m"]).alias("_cvec"),
                )
            )
            cents = barrier(
                cents.alias("old")
                .join(
                    means.select(
                        F.col("cluster_id").alias("centroid_id"),
                        F.col("_cvec").alias("_new"),
                    ),
                    "centroid_id",
                    "left",
                )
                .select(
                    "centroid_id",
                    F.coalesce(F.col("_new"), F.col("old._cvec")).alias("_m"),
                )
                .select("centroid_id", "_m", norm(F.col("_m")).alias("_mn"))
                .select(
                    "centroid_id",
                    F.transform(
                        F.col("_m"),
                        lambda x: x / F.greatest(F.col("_mn"), F.lit(1e-12)),
                    ).alias("_cvec"),
                )
            )
        return cents.select(
            "centroid_id", F.col("_cvec").alias("_vec"), norm(F.col("_cvec")).alias("_norm")
        )


def auto_n_probe(n_cells: int) -> int:
    """Recall-first default probe count: 3/4 of the cells, floor 4.

    Measured on the synthetic sf0.1 embeddings (2000 vecs, dim 64, 44
    cells — effectively UNCLUSTERED data, IVF's worst case): recall@5 vs
    brute force is ~linear in the probed fraction (n_probe 4 -> 0.38,
    16 -> 0.72, 32 -> 0.92, 48 -> 1.0; k-means-refined centroids shift
    each point up ~0.1 but don't change the slope), so no small fixed
    probe can meet a 0.9 recall bar here. Real embedding corpora have
    cluster structure that concentrates neighbors in few cells — there a
    caller-set n_probe of 4-16 is the right speed/recall trade, tuned per
    corpus with ``ivf_probe_for_recall``. The DEFAULT must not silently
    ship 0.38 recall, so it buys recall >=0.9 on even structureless data
    at the cost of scanning ~75% of cells. See PLANS.md (ANN recall)."""
    return max(4, -(-3 * n_cells // 4))


def ivf_search(
    assigned: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_probe: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_cells: int | None = None,
) -> DataFrame:
    """Search a prebuilt IVF index: queries probe ``n_probe`` cells
    (default: recall-first ``auto_n_probe``), scan only those cells'
    vectors. Because each corpus vector lives in exactly one cell, every
    (query, neighbor) pair is scored at most once — no dedup/distinct
    shuffle on the scored frame.

    Stays LAZY when ``n_probe`` is given, or when ``n_cells`` (returned
    by ``ivf_build_index``) is passed for the auto default. Only the
    both-None fallback fires an eager count — per-search, so avoid it on
    hot paths."""
    if n_probe is None:
        n_probe = auto_n_probe(n_cells if n_cells is not None else centroids.count())
    qs = with_norm(queries, vec_col).select(F.col(id_col), "_vec", "_norm")
    q_assigned = ivf_assign(qs, centroids, n_probe=n_probe, id_col=id_col).select(
        F.col(id_col).alias("query_id"),
        "centroid_id",
        F.col("_vec").alias("_qvec"),
        F.col("_norm").alias("_qnorm"),
    )
    cos = F.round(
        dot(F.col("_qvec"), F.col("_vec")) / (F.col("_qnorm") * F.col("_norm")), 4
    )
    scored = (
        assigned.join(F.broadcast(q_assigned), "centroid_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cos.alias("cos_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("_rank", F.row_number().over(w))
        .filter(F.col("_rank") <= k)
        .drop("_rank")
    )


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int | None = None,
    n_probe: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """One-shot IVF top-k: build + search in a single plan (the
    oracle-checked query shape). For repeated searching, call
    ``ivf_build_index`` once, persist ``assigned``, and ``ivf_search``
    against it."""
    assigned, centroids, n_cells = ivf_build_index(vectors, n_cells, vec_col, id_col)
    return ivf_search(
        assigned, centroids, queries, k, n_probe, vec_col, id_col, n_cells=n_cells
    )


def ivf_probe_for_recall(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    target_recall: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> tuple[int, float]:
    """Tune ``n_probe`` for a corpus: smallest probe count whose recall@k
    against brute-force ground truth meets ``target_recall`` on the given
    query sample. Returns ``(n_probe, measured_recall)``.

    This is an explicitly EAGER diagnostic (index-build + one brute-force
    pass over the query sample + a doubling sweep of tiny count() scalars)
    — run it once per corpus at ingest/index time, then pass the returned
    n_probe to ``ivf_search`` for every subsequent query batch. At 100 TB
    the query sample stays small (hundreds), so the brute-force truth pass
    is |sample| x N — the same cost as one exact search, amortized over
    the index lifetime."""
    truth = cosine_topk(vectors, queries, k, vec_col, id_col).select(
        "query_id", "neighbor_id"
    )
    assigned, centroids, n_cells = ivf_build_index(vectors, None, vec_col, id_col)
    with persisted(truth, assigned):
        n_truth = truth.count()
        n_probe = 4
        while True:
            res = ivf_search(
                assigned, centroids, queries, k, n_probe, vec_col, id_col
            ).select("query_id", "neighbor_id")
            hits = truth.join(res, ["query_id", "neighbor_id"], "left_semi").count()
            recall = hits / n_truth if n_truth else 1.0
            if recall >= target_recall or n_probe >= n_cells:
                return n_probe, recall
            n_probe = min(n_cells, n_probe * 2)


def embedding_cosine_dup_pairs(
    vectors: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_cells: int | None = None,
) -> DataFrame:
    """Embedding near-duplicate pairs: cell-blocked exact cosine — pairs are
    scored only within shared IVF cells (probe 2 keeps boundary pairs; the
    final distinct dedupes pairs sharing both probed cells)."""
    corpus = with_norm(vectors, vec_col).select(F.col(id_col), "_vec", "_norm")
    if n_cells is None:
        n_cells = auto_n_cells(corpus)
    centroids = spread_centroids(corpus, n_cells, id_col=id_col)
    assigned = ivf_assign(corpus, centroids, n_probe=2, id_col=id_col)
    a = assigned.select(
        F.col(id_col).alias("id_a"),
        F.col("centroid_id"),
        F.col("_vec").alias("_va"),
        F.col("_norm").alias("_na"),
    )
    b = assigned.select(
        F.col(id_col).alias("id_b"),
        F.col("centroid_id"),
        F.col("_vec").alias("_vb"),
        F.col("_norm").alias("_nb"),
    )
    cos = F.round(dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb")), 4)
    return (
        a.join(b, "centroid_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
        .distinct()
    )


def semantic_dedup_survivors(
    vectors: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_cells: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic dedup keep-set (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication"): drop every vector that has a cosine near-duplicate
    with a SMALLER id at or above ``threshold``; keep the rest. This is
    the deterministic greedy keep-first-by-id policy — no connected
    components needed, and transitive chains behave like SemDeDup's
    per-cluster epsilon pruning (the chain minimum always survives; a
    later chain member survives only if nothing earlier is within
    threshold of it).

    Completes the embedding dedup chain the way ``dedup_survivors`` does
    for MinHash text dedup: ``embedding_cosine_dup_pairs`` generates the
    candidates (cell-blocked, never all-pairs), the dominated set is the
    distinct greater-id side, and survivors are a left_anti join. At
    near-dup densities the dominated set is a small fraction of the
    corpus, so it is broadcast — the anti-join costs no extra shuffle on
    the corpus side. No UDFs, no collect."""
    pairs = embedding_cosine_dup_pairs(
        vectors, threshold, vec_col, id_col, n_cells
    )
    dominated = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return vectors.join(F.broadcast(dominated), id_col, "left_anti")


def normalize(df: DataFrame, vec_col: str = "embedding", out_col: str = "unit_vec") -> DataFrame:
    """Unit-normalize vectors (zero vectors -> null). Normalizing once at
    ingest turns every cosine downstream into a plain dot product — at
    corpus scale that halves the arithmetic of each of the O(pairs)
    comparisons for one O(N) pass."""
    v = as_double(F.col(vec_col))
    n = norm(v)
    return df.withColumn(
        out_col,
        F.when(n > 0, F.transform(v, lambda x: x / n)).otherwise(F.lit(None)),
    )


def quantize_int8(
    df: DataFrame, vec_col: str = "embedding", prefix: str = "q"
) -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = max|x| / 127, stored
    as (array<tinyint>, float scale) — a 4x storage/IO cut versus float32,
    which at 100 TB is the difference between scanning 100 TB and 25 TB for
    every ANN sweep. Recall loss is bounded by the ~0.4% per-component
    error; re-rank survivors against the float column when exactness
    matters."""
    v = as_double(F.col(vec_col))
    amax = F.aggregate(v, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x)))
    scale = F.when(amax > 0, amax / F.lit(127.0)).otherwise(F.lit(1.0))
    return (
        df.withColumn(f"{prefix}_scale", scale.cast("float"))
        .withColumn(
            f"{prefix}_vec",
            F.transform(v, lambda x: F.round(x / F.col(f"{prefix}_scale")).cast("byte")),
        )
    )


def dequantize(q_vec: Column, q_scale: Column) -> Column:
    """int8 vector + scale -> array<double> (inverse of quantize_int8)."""
    return F.transform(q_vec, lambda x: x.cast("double") * q_scale)


def quantized_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    shortlist_mult: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """The int8 scan path end-to-end: shortlist candidates with the
    quantized integer dot product (the 4x-cheaper scan), then re-rank the
    ``k * shortlist_mult`` survivors with the exact float cosine.

    The integer dot is exact int arithmetic (no FP drift); the approximate
    cosine is ``int_dot * scale_a * scale_b / (norm_a * norm_b)`` with every
    operand explicitly cast to double so an external SQL oracle reproduces
    the shortlist boundary bit-for-bit. At 100 TB the stage-1 scan reads
    only the int8 column (quarter the bytes); stage 2 touches float vectors
    for shortlist rows only.
    """
    corpus = quantize_int8(with_norm(vectors, vec_col), "_vec", prefix="q").select(
        F.col(id_col).alias("neighbor_id"),
        "_vec",
        "_norm",
        F.col("q_vec").alias("_qv"),
        F.col("q_scale").alias("_qs"),
    )
    qs = quantize_int8(with_norm(queries, vec_col), "_vec", prefix="q").select(
        F.col(id_col).alias("query_id"),
        F.col("_vec").alias("_query_vec"),
        F.col("_norm").alias("_query_norm"),
        F.col("q_vec").alias("_query_qv"),
        F.col("q_scale").alias("_query_qs"),
    )
    int_dot = F.aggregate(
        F.zip_with(
            F.col("_query_qv"), F.col("_qv"), lambda x, y: x.cast("int") * y.cast("int")
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    approx = (
        int_dot.cast("double")
        * F.col("_query_qs").cast("double")
        * F.col("_qs").cast("double")
        / (F.col("_query_norm") * F.col("_norm"))
    )
    scored = (
        corpus.join(F.broadcast(qs), F.col("neighbor_id") != F.col("query_id"))
        .withColumn("_approx", approx)
    )
    w1 = Window.partitionBy("query_id").orderBy(F.desc("_approx"), F.asc("neighbor_id"))
    shortlist = (
        scored.withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= k * shortlist_mult)
    )
    exact = F.round(
        dot(F.col("_query_vec"), F.col("_vec")) / (F.col("_query_norm") * F.col("_norm")),
        4,
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        shortlist.select("query_id", "neighbor_id", exact.alias("cos_sim"))
        .withColumn("_r2", F.row_number().over(w2))
        .filter(F.col("_r2") <= k)
        .drop("_r2")
    )


def kmeans_embeddings(
    vectors: DataFrame,
    k: int = 8,
    n_iter: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Lloyd's k-means over an embedding column, fully distributed and
    deterministic: init = ``spread_centroids`` (hash-spread, id-order-free),
    then ``n_iter`` rounds of [assign -> recompute means]. Returns
    (vec_id, cluster_id) for the final assignment.

    Scale shape per round: assignment is a broadcast crossJoin of the
    corpus against k centroid rows + an argmin (min_by over a k-element
    array — no window, no shuffle); the mean update is a posexplode +
    (cluster, dim) combinable average — ONE shuffle at k x dim cardinality.
    No driver-side collect anywhere; centroids live as a k-row DataFrame
    that AQE broadcasts. Each round's centroids are an ``exec.rounds``
    checkpoint that truncates the per-round lineage (same pattern as
    connected_components). Fixed n_iter keeps the op deterministic and
    plannable; convergence-based stopping would add one scalar action per
    round like the dedup clustering does.
    """
    corpus = with_norm(vectors, vec_col).select(F.col(id_col), "_vec", "_norm")
    corpus = corpus.localCheckpoint()
    cents = spread_centroids(corpus, k, id_col=id_col).select(
        "centroid_id", F.col("_vec").alias("_cvec")
    )

    def assign(c: DataFrame) -> DataFrame:
        # squared euclidean argmin via min_by over the broadcast centroids
        d2 = F.aggregate(
            F.zip_with(F.col("_vec"), F.col("_cvec"), lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        scored = corpus.crossJoin(F.broadcast(c)).select(
            F.col(id_col), "_vec", "centroid_id", d2.alias("_d2")
        )
        # min_by with a deterministic tiebreak on centroid_id
        return (
            scored.groupBy(id_col)
            .agg(
                F.min(F.struct("_d2", "centroid_id")).alias("_best"),
                F.first("_vec").alias("_vec"),
            )
            .select(id_col, "_vec", F.col("_best.centroid_id").alias("cluster_id"))
        )

    with rounds() as barrier:
        for _ in range(n_iter):
            assigned = assign(cents)
            means = (
                assigned.select("cluster_id", F.posexplode("_vec").alias("dim", "x"))
                # 9dp round absorbs partition-merge-order float jitter so the
                # assignment boundaries (and thus the output) stay deterministic
                .groupBy("cluster_id", "dim")
                .agg(F.round(F.avg("x"), 9).alias("m"))
                .groupBy("cluster_id")
                .agg(F.array_sort(F.collect_list(F.struct("dim", "m"))).alias("_dm"))
                .select(
                    "cluster_id",
                    F.transform(F.col("_dm"), lambda s: s["m"]).alias("_cvec"),
                )
            )
            # a cluster that lost every member keeps its previous centroid
            # (standard Lloyd treatment; without this the cluster would vanish
            # and k would silently shrink)
            cents = barrier(
                cents.alias("old")
                .join(
                    means.select(F.col("cluster_id").alias("centroid_id"),
                                 F.col("_cvec").alias("_new")),
                    "centroid_id",
                    "left",
                )
                .select("centroid_id",
                        F.coalesce(F.col("_new"), F.col("old._cvec")).alias("_cvec"))
            )
        return assign(cents).select(id_col, "cluster_id")


def write_ivf_store(
    vectors: DataFrame,
    path: str,
    n_cells: int | None = None,
    centroids: DataFrame | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> tuple[DataFrame, int]:
    """Persist the IVF index AS A CELL-PARTITIONED PARQUET STORE — the
    on-disk layout a 100 TB embedding corpus actually serves from: one
    directory per cell (``centroid_id=<c>/``), so a probed search reads
    ``n_probe / n_cells`` of the corpus from storage and Catalyst's
    partition pruning (not a filter over a full scan) enforces it — the
    layout q25's in-memory broadcast-join restriction models. Returns
    ``(centroids, n_cells)``; persist the centroid frame beside the store
    (it is sqrt(N)-sized) to search without rebuilding."""
    assigned, centroids, n_cells = ivf_build_index(
        vectors, n_cells, vec_col, id_col, centroids=centroids
    )
    assigned.write.partitionBy("centroid_id").mode("overwrite").parquet(path)
    return centroids, n_cells


def append_ivf_store(
    new_vectors: DataFrame,
    path: str,
    centroids: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Incrementally extend a ``write_ivf_store`` layout: assign ONLY the
    new vectors to the EXISTING centroids and append them into their
    cells' partition directories — no rebuild, no touch of resident data.
    This is the ingest half of the serving story: with fixed centroids
    the cell of a vector depends on nothing but the vector (the same
    property that makes SRP streaming-safe holds for a FROZEN IVF
    codebook), so appends commute and the store after any append sequence
    equals a fresh build over the union (pinned in tests/test_llmops.py).
    Cell balance degrades only as far as the data drifts from the
    centroid sample — re-train + rewrite offline when probed-cell sizes
    skew (the classic IVF re-index cadence)."""
    corpus = with_norm(new_vectors, vec_col).select(F.col(id_col), "_vec", "_norm")
    assigned = ivf_assign(corpus, centroids, n_probe=1, id_col=id_col).select(
        F.col(id_col).alias("neighbor_id"), "centroid_id", "_vec", "_norm"
    )
    assigned.write.partitionBy("centroid_id").mode("append").parquet(path)


def ivf_search_store(
    spark: SparkSession,
    path: str,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_probe: int | None = None,
    n_cells: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Search a ``write_ivf_store`` layout reading ONLY the probed cells'
    partitions. The per-query probed cells are resolved to LITERAL ids
    first (one collect of <= queries x n_probe ids — request-sized,
    never corpus-sized) precisely so the ``isin`` lands in the reader as
    a partition filter: ``inputFiles()`` of the pruned frame contains
    only ``centroid_id=<probed>`` paths (asserted in
    tests/test_llmops.py). Results are row-identical to ``ivf_search``
    over the full in-memory index: each query still scores exactly its
    own probed cells (the union-pruned store is a superset per query;
    the per-query cell join restricts it back)."""
    if n_probe is None:
        n_probe = auto_n_probe(
            n_cells if n_cells is not None else centroids.count()
        )
    # Pin the (request-sized) query frame: the probed-cell collect below
    # and the search plan returned to the caller both evaluate `queries`,
    # and a nondeterministic frame (limit without order, sampling) could
    # otherwise probe cells for one set of queries and search for another
    # — silently missing neighbors.
    queries = queries.localCheckpoint()
    qs = with_norm(queries, vec_col).select(F.col(id_col), "_vec", "_norm")
    probed_ids = sorted(
        r["centroid_id"]
        for r in ivf_assign(qs, centroids, n_probe=n_probe, id_col=id_col)
        .select("centroid_id")
        .distinct()
        .collect()
    )
    store = spark.read.parquet(path).filter(
        F.col("centroid_id").isin(*[int(c) for c in probed_ids])
    )
    return ivf_search(
        store, centroids, queries, k, n_probe, vec_col, id_col,
        n_cells=n_cells,
    )
