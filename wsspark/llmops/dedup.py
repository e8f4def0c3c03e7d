"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Hash primitives (all JVM-side, deterministic across runs/executors, no
Python in the loop):
- ``xxhash64`` with integer seeds where raw hash values never leave the
  operator (MinHash signatures/bands — candidates are exact-verified
  downstream, so the driver oracle checks the *verified* output instead).
- ``portable_hash64`` (60-bit md5 prefix) where hash-derived values ARE the
  output (SimHash fingerprints, winnowing fingerprints): DuckDB computes
  the identical value via ``('0x' || substr(md5(x),1,15))::BIGINT``, which
  is what makes those queries hash-checkable by the driver.

Scale design:
- exact dedup: one hash-groupBy over the corpus (map-side combinable).
- exact Jaccard is quadratic and exists as the small-scale oracle / verifier;
  the scale path is MinHash LSH: shingle -> k minhashes -> b bands -> bucket
  join, so the pairwise step runs only inside same-signature buckets.
- SimHash: 64-bit fingerprint per doc; near-dups collide on rotated band
  keys (hamming-adjacent docs share a band), again bucket-local pairing.
"""

from __future__ import annotations

import contextlib

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from wsspark.exec import local_frame, persisted, rounds

DEFAULT_NUM_HASHES = 32
DEFAULT_BANDS = 8
DEFAULT_SHINGLE = 3


def portable_hash64(col) -> F.Column:
    """60-bit cross-engine hash: the first 15 hex chars of md5, parsed as a
    non-negative BIGINT (top 4 bits always zero). DuckDB computes the same
    value with ``('0x' || substr(md5(x), 1, 15))::BIGINT``. ~3-5x the cost
    of xxhash64 per value but still codegen'd JVM expression work — the
    price of driver-side falsifiability for operators whose OUTPUT is the
    hash."""
    return F.conv(F.substring(F.md5(F.col(col).cast("binary") if isinstance(col, str) else col.cast("binary")), 1, 15), 16, 10).cast("long")


def exact_dedup_groups(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups by content hash: smallest id wins."""
    return (
        docs.groupBy(F.md5(F.col(text_col).cast("binary")).alias("text_hash"))
        .agg(
            F.count("*").alias("n_copies"),
            F.min(id_col).alias("keep_doc_id"),
        )
    )


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one representative (min id) per distinct content."""
    w = Window.partitionBy(F.md5(F.col(text_col).cast("binary"))).orderBy(id_col)
    return (
        docs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def word_shingles(text_col: str = "text", k: int = DEFAULT_SHINGLE):
    """Distinct k-word shingles as a native expression: zip the token array
    against its shifted selves."""
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    return F.array_distinct(
        F.when(
            n >= k,
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k))),
        ).otherwise(F.array(F.concat_ws(" ", toks)))
    )


def jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.6,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_cols: tuple[str, ...] = (),
    shingle_k: int = 1,
) -> DataFrame:
    """Exact shingle-set Jaccard similarity for all pairs (within optional
    blocking columns). Quadratic within blocks — the correctness oracle for
    the LSH path, and usable directly when blocks are small."""
    shingles = word_shingles(text_col, shingle_k) if shingle_k > 1 else F.array_distinct(
        F.split(F.col(text_col), " ")
    )
    words = docs.select(
        F.col(id_col).alias("doc_id"), *block_cols, F.explode(shingles).alias("w")
    )
    sizes = words.groupBy("doc_id").agg(F.count("*").alias("set_size"))
    a = words.alias("a")
    b = words.alias("b")
    cond = (F.col("a.w") == F.col("b.w")) & (F.col("a.doc_id") < F.col("b.doc_id"))
    for c in block_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    inter = (
        a.join(b, cond)
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("set_size").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("set_size").alias("size_b"))
    jac = F.round(
        F.col("n_common") / (F.col("size_a") + F.col("size_b") - F.col("n_common")), 4
    )
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def prefix_jaccard_join(
    docs: DataFrame,
    threshold: float = 0.6,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 1,
) -> DataFrame:
    """EXACT all-pairs Jaccard join at scale via prefix filtering — the
    AllPairs/PPJoin family (Bayardo et al., WWW'07), the third point on
    the near-dup ladder: ``jaccard_pairs`` is the quadratic oracle,
    MinHash+LSH is approximate-with-measured-recall, and this is exact
    AND subquadratic.

    The pruning theorem: order every token by ascending global document
    frequency (rarest first; ties by token). For Jaccard >= t a doc x
    with |x| distinct tokens can only match docs sharing at least one of
    its first ``p(x) = |x| - ceil(t*|x|) + 1`` tokens in that order — if
    the prefixes are disjoint, the overlap is capped at
    ``ceil(t*|x|) - 1 < t*|x| <= t*max(|x|,|y|) <= o_min``, so no
    candidate with J >= t is ever dropped. Rare-first ordering makes the
    prefix postings lists short (the most frequent tokens never appear in
    a prefix), so the token-keyed candidate self-join touches a tiny
    fraction of the quadratic pair space. A length filter
    ``t * max <= min`` prunes further before exact verification.

    Every surviving candidate is verified exactly (intersection count via
    two token-keyed hash joins), so the result frame EQUALS
    ``jaccard_pairs`` on any corpus — an equality the folded query's
    quadratic DuckDB twin re-proves per round. All stages are native
    groupBy/join/window; the only window is per-doc (partitionBy doc_id).
    100 TB shape: shuffles are token- or doc-keyed; nothing quadratic,
    no CartesianProduct (plan-asserted in tests)."""
    shingles = (
        word_shingles(text_col, shingle_k)
        if shingle_k > 1
        else F.array_distinct(F.split(F.col(text_col), " "))
    )
    tokens = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(shingles).alias("w")
    )
    df_counts = tokens.groupBy("w").agg(F.count("*").alias("_df"))
    # rare-first total order; per-doc position + set size in one window pair
    wpos = Window.partitionBy("doc_id").orderBy("_df", "w")
    wall = Window.partitionBy("doc_id")
    ranked = (
        tokens.join(df_counts, "w")
        .select(
            "doc_id",
            "w",
            F.row_number().over(wpos).alias("_pos"),
            F.count("*").over(wall).alias("set_size"),
        )
    )
    prefix_len = F.col("set_size") - F.ceil(F.lit(threshold) * F.col("set_size")) + 1
    prefix = ranked.filter(F.col("_pos") <= prefix_len).select(
        "doc_id", "w", "set_size", "_pos"
    )
    # PPJoin positional filter: a pair generated at prefix positions
    # (i, j) can overlap at most 1 + min(|x|-i, |y|-j) tokens; if that
    # upper bound is below the required overlap ceil(t/(1+t)*(|x|+|y|)),
    # the occurrence can't witness a similar pair. Lossless: a truly
    # similar pair is also generated at its FIRST common prefix token,
    # where the bound is loosest and must hold (Xiao et al., WWW'08).
    pa, pb = prefix.alias("pa"), prefix.alias("pb")
    ubound = F.lit(1) + F.least(
        F.col("pa.set_size") - F.col("pa._pos"),
        F.col("pb.set_size") - F.col("pb._pos"),
    )
    min_overlap = F.ceil(
        F.lit(threshold / (1.0 + threshold))
        * (F.col("pa.set_size") + F.col("pb.set_size"))
    )
    cands = (
        pa.join(
            pb,
            (F.col("pa.w") == F.col("pb.w"))
            & (F.col("pa.doc_id") < F.col("pb.doc_id"))
            # length filter: J >= t forces t * max(|x|,|y|) <= min(|x|,|y|)
            & (
                F.lit(threshold)
                * F.greatest(F.col("pa.set_size"), F.col("pb.set_size"))
                <= F.least(F.col("pa.set_size"), F.col("pb.set_size"))
            )
            & (ubound >= min_overlap),
        )
        .select(
            F.col("pa.doc_id").alias("doc_a"),
            F.col("pb.doc_id").alias("doc_b"),
            F.col("pa.set_size").alias("size_a"),
            F.col("pb.set_size").alias("size_b"),
        )
        .distinct()
    )
    # exact verification: intersection count via two token-keyed joins
    cj, ta, tb = cands.alias("c"), tokens.alias("ta"), tokens.alias("tb")
    inter = (
        cj.join(ta, F.col("c.doc_a") == F.col("ta.doc_id"))
        .join(
            tb,
            (F.col("c.doc_b") == F.col("tb.doc_id"))
            & (F.col("ta.w") == F.col("tb.w")),
        )
        .groupBy(
            F.col("c.doc_a").alias("doc_a"),
            F.col("c.doc_b").alias("doc_b"),
            F.col("c.size_a").alias("size_a"),
            F.col("c.size_b").alias("size_b"),
        )
        .agg(F.count("*").alias("n_common"))
    )
    jac = F.round(
        F.col("n_common") / (F.col("size_a") + F.col("size_b") - F.col("n_common")),
        4,
    )
    return (
        inter.select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_signatures(
    docs: DataFrame,
    num_hashes: int = DEFAULT_NUM_HASHES,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = DEFAULT_SHINGLE,
) -> DataFrame:
    """MinHash signature per doc: for seed j, min over shingles of
    xxhash64(xxhash64(shingle), j).

    Shape: explode shingles to rows, hash each shingle string ONCE, then
    explode the seed dimension and min-aggregate per (doc, seed). Keeping
    the expensive string work out of the per-seed expressions matters
    (Catalyst's project-collapsing would otherwise inline the whole
    shingle-construction expression into every per-seed branch — measured
    30x slowdown), and the narrow (doc, seed) aggregate keeps every
    generated method small — a 32-column-wide aggregate was JIT-unstable
    (1.6-14s warm-run swings; this shape holds ~0.5s). Map-side combine
    reduces the shuffle to ~num_hashes rows per doc per partition, so
    volume matches the wide shape at any corpus size."""
    exploded = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_shingles(text_col, shingle_k)).alias("_sh"),
    ).select(
        "doc_id",
        F.xxhash64("_sh").alias("_h"),
        F.explode(F.sequence(F.lit(0), F.lit(num_hashes - 1))).alias("_j"),
    )
    mins = exploded.groupBy("doc_id", "_j").agg(
        F.min(F.xxhash64(F.col("_h"), F.col("_j"))).alias("_m")
    )
    return (
        mins.groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("_j", "_m"))).alias("_s"))
        .select("doc_id", F.transform("_s", lambda s: s["_m"]).alias("signature"))
    )


def lsh_band_keys(
    signatures: DataFrame,
    bands: int = DEFAULT_BANDS,
    num_hashes: int = DEFAULT_NUM_HASHES,
) -> DataFrame:
    """(doc_id, band, band_hash) rows: the LSH bucket keys for a signature
    frame — the joinable form of the index (used by both the batch
    candidate self-join and the streaming incremental index)."""
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    rows = num_hashes // bands
    # hash the band's signature longs directly (multi-arg xxhash64) — no
    # string materialization in the inner loop
    band_arr = F.array(
        *[
            F.xxhash64(
                *[F.col("signature")[b * rows + r] for r in range(rows)], F.lit(b)
            )
            for b in range(bands)
        ]
    )
    return signatures.select(
        "doc_id", F.posexplode(band_arr).alias("band", "band_hash")
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    bands: int = DEFAULT_BANDS,
    num_hashes: int = DEFAULT_NUM_HASHES,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """LSH banding: docs sharing any band signature become candidates.
    Self-join runs per (band, band_hash) bucket — near-linear when dup rate
    is modest; hot buckets are handled by AQE skew splitting.

    ``max_bucket_size`` guards the hyper-duplication regime (measured: 16
    mutually-near-dup copies of a 5k corpus = 600k candidate pairs, OOM on
    a 1 GB heap — candidate count is QUADRATIC in dup-cluster size by
    definition of pairwise output). Buckets larger than the cap are dropped
    before the self-join: on web-scale corpora such buckets are almost
    always boilerplate, and production LSH dedup (after an exact-dedup
    pre-pass collapses identical copies) routes them to cluster-level
    handling instead of pair explosion. Default None preserves exact
    pairwise semantics (required by the oracle-checked queries)."""
    banded = lsh_band_keys(signatures, bands, num_hashes)
    if max_bucket_size is not None:
        w = Window.partitionBy("band", "band_hash")
        banded = (
            banded.withColumn("_bucket_n", F.count("*").over(w))
            .filter(F.col("_bucket_n") <= max_bucket_size)
            .drop("_bucket_n")
        )
    # Materialize the band keys ONCE: both sides of the self-join otherwise
    # re-run the whole shingle->hash->min-aggregate signature pipeline (the
    # plan showed two full document scans). The banded frame is tiny —
    # n_docs x bands narrow rows — so the lazy local checkpoint trades a
    # cheap materialization for halving the expensive signature work
    # (measured ~25% off the end-to-end query at sf0.1). Batch-only: the
    # streaming index path uses lsh_band_keys directly.
    banded = banded.localCheckpoint(eager=False)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def minhash_dedup_pairs(
    docs: DataFrame,
    threshold: float = 0.6,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = DEFAULT_SHINGLE,
    max_bucket_size: int | None = None,
    postjoin_verify: bool = False,
) -> DataFrame:
    """Scale-path near-dup detection: LSH candidates, then *exact* Jaccard
    verification of candidates only (estimated-signature similarity is never
    reported — candidates are re-checked against true shingle sets).
    ``max_bucket_size`` (see lsh_candidate_pairs) caps pathological
    boilerplate buckets on hyper-duplicated corpora; leave None for exact
    pairwise semantics.

    ``postjoin_verify`` (r17, guide §2.3): compute the verification
    shingle arrays AFTER the candidate join — the join sides carry only
    (id, raw text), so shingles are built solely for candidate rows
    instead of two more corpus-wide shingle passes. Wins when the doc
    lineage is expensive to re-derive (the corpus build's quality-gated
    scan: −0.9 to −1.1 s on the sf0.1 pairs plan, rows bit-identical);
    LOSES when the sides read an already-materialized exchange the old
    shape reuses for free (the plain registered query repartitions docs
    once and all three consumers share that shuffle — measured +0.1-0.2 s
    there), hence a caller opt-in rather than a default. The candidate
    shingle arrays sit behind a lazy localCheckpoint barrier: without it,
    filter pushdown inlines the full shingle expression into the join
    condition AND the output projection (~6 evaluations per candidate
    row). Both shapes return identical rows."""
    sigs = minhash_signatures(docs, num_hashes, text_col, id_col, shingle_k)
    cands = lsh_candidate_pairs(sigs, bands, num_hashes, max_bucket_size)
    jac = F.round(
        F.size(F.array_intersect("sh_a", "sh_b"))
        / F.size(F.array_union("sh_a", "sh_b")),
        4,
    )
    if postjoin_verify:
        a = docs.select(
            F.col(id_col).alias("doc_a"), F.col(text_col).alias("_ta")
        )
        b = docs.select(
            F.col(id_col).alias("doc_b"), F.col(text_col).alias("_tb")
        )
        pair_sh = (
            cands.join(a, "doc_a")
            .join(b, "doc_b")
            .select(
                "doc_a",
                "doc_b",
                word_shingles("_ta", shingle_k).alias("sh_a"),
                word_shingles("_tb", shingle_k).alias("sh_b"),
            )
            .localCheckpoint(eager=False)
        )
        return pair_sh.select("doc_a", "doc_b", jac.alias("jaccard")).filter(
            F.col("jaccard") >= threshold
        )
    # (Measured: checkpointing this shingle frame too does NOT pay — the
    # arrays cost more to materialize than to recompute per side.)
    sh = docs.select(
        F.col(id_col).alias("doc_id"), word_shingles(text_col, shingle_k).alias("sh")
    )
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    return (
        cands.join(a, "doc_a")
        .join(b, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def simhash(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 64
) -> DataFrame:
    """SimHash per document from word features: bit i of the fingerprint is
    the sign of sum over distinct words of (+1 if portable_hash64(word) bit
    i set else -1). The term hash is the 60-bit md5 prefix, so bits 60-63
    are always 0 (their votes are uniformly -1) — 60 effective bits, and a
    DuckDB oracle can recompute the fingerprint bit-for-bit.

    Shape: explode distinct tokens, hash each ONCE, then one hash-aggregate
    with 64 cheap conditional sums (same rationale as minhash_signatures —
    keeps string hashing out of the 64 per-bit expressions and gets map-side
    partial aggregation, one (doc_id, 64 ints) shuffle at any corpus size)."""

    def bit_mask(i: int):
        return F.lit(1 << i if i < 63 else -(2**63)).cast("long")

    exploded = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(F.split(F.col(text_col), " "))).alias("_t"),
    ).select("doc_id", portable_hash64(F.col("_t")).alias("_h"))
    votes = exploded.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.col("_h").bitwiseAND(bit_mask(i)) != 0, 1).otherwise(-1)
            ).alias(f"_b{i}")
            for i in range(bits)
        ]
    )
    fingerprint = F.lit(0).cast("long")
    for i in range(bits):
        fingerprint = fingerprint + F.when(F.col(f"_b{i}") > 0, bit_mask(i)).otherwise(
            F.lit(0).cast("long")
        )
    return votes.select("doc_id", fingerprint.alias("simhash"))


def simhash_bands(sim: DataFrame, bands: int = 4) -> DataFrame:
    """Band the 64-bit simhash into ``bands`` 16-bit keys: docs within
    hamming distance < bands share at least one band key (pigeonhole),
    giving bucket-local candidate generation."""
    width = 64 // bands
    mask = (1 << width) - 1
    band_arr = F.array(
        *[
            F.shiftrightunsigned(F.col("simhash"), b * width).bitwiseAND(F.lit(mask))
            for b in range(bands)
        ]
    )
    return sim.select("doc_id", "simhash", F.posexplode(band_arr).alias("band", "band_key"))


def connected_components(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    max_iter: int = 25,
    driver_threshold: int = 200_000,
) -> DataFrame:
    """Connected components over a duplicate-pair graph: every node gets
    ``cluster_id`` = the minimum node id in its component. This is the step
    that turns pairwise near-dup output into actionable dedup GROUPS (keep
    one representative per cluster) — pairs alone can't be acted on when
    duplicates are transitive (A~B, B~C but A!~C).

    Algorithm: iterative min-label propagation (hash-to-min) with pointer
    jumping. Each round is (a) one equi-join of the (cached) symmetric edge
    list with the current labels plus a min-aggregation, then (b) a label
    shortcut — every node also adopts its current label's OWN label
    (labels are min-monotone, so this only improves). The shortcut makes
    rounds O(log diameter) instead of O(diameter): a 1M-node path converges
    in ~20 rounds, not 1M. All shuffles are keyed by node id,
    AQE-skew-splittable. Per round the driver sees ONE scalar (the
    changed-label count) for the convergence test, and each round's labels
    are an ``exec.rounds`` checkpoint that truncates the growing lineage
    (the standard Spark iterative-algorithm pattern, same shape GraphFrames
    uses) and is released once two newer rounds exist. Returns
    (node, cluster_id), nodes = every id appearing in ``pairs``.

    Raises ``RuntimeError`` if labels are still changing after ``max_iter``
    rounds — a partially-propagated labeling would silently split real
    clusters, which is worse than failing.

    ADAPTIVE SMALL-GRAPH PATH: dedup pair graphs are usually tiny relative
    to the corpus (near-dup rate percent-scale), and the distributed
    fixpoint pays ~4 jobs per round regardless of size — pure scheduler
    overhead on a 500-pair graph (measured: the CC step was 1.7 s of
    q22_corpus_build's 4.0 s at sf0.1). So the pair frame is first probed
    with ``limit(driver_threshold + 1).collect()`` — ONE bounded-transfer
    execution, same discipline as AQE's broadcast-threshold decision. At
    or under the threshold those rows ARE the whole graph: a driver
    union-find labels it in microseconds (identical min-of-component
    labels — the labeling is canonical, independent of algorithm). Over
    the threshold the distributed hash-to-min fixpoint runs as before —
    the 100 TB path is unchanged, and the threshold bounds the driver
    transfer by construction. The pairs frame is persisted AROUND the
    probe (unless the caller already cached it): the probe's partial
    execution fills the cache, so exceeding the threshold does NOT
    re-execute the possibly-expensive pair-generation subtree (LSH,
    minhash) from scratch in the fixpoint — exactly the large inputs
    where a double computation would hurt. The cache is released once
    the symmetrized edge list is materialized. ``driver_threshold=0``
    forces the distributed path (and skips the probe persist).
    """
    with contextlib.ExitStack() as sym_scope:
        probe_scope = sym_scope.enter_context(contextlib.ExitStack())
        if driver_threshold > 0:
            # keep the probe's work: partitions computed by the bounded
            # collect persist, so the over-threshold fallthrough reuses
            # them instead of re-running the pair-generation plan
            probe_scope.enter_context(persisted(pairs))
            # node/cluster_id keep the pair columns' own integer type, so the
            # two paths are schema-identical
            id_type = pairs.schema[id_a].dataType.simpleString()
            out_schema = f"node {id_type}, cluster_id {id_type}"
            probe = (
                pairs.select(id_a, id_b).limit(driver_threshold + 1).collect()
            )
            if len(probe) <= driver_threshold:
                spark = pairs.sparkSession
                if not probe:
                    return local_frame(spark, [], out_schema)
                parent: dict[int, int] = {}

                def find(x: int) -> int:
                    parent.setdefault(x, x)
                    while parent[x] != x:
                        parent[x] = parent[parent[x]]  # path halving
                        x = parent[x]
                    return x

                for a, b in probe:
                    ra, rb = find(a), find(b)
                    if ra != rb:
                        # union by min: the smaller id becomes the root, so
                        # roots ARE the canonical min labels at the end
                        parent[max(ra, rb)] = min(ra, rb)
                rows = sorted((x, find(x)) for x in parent)
                return local_frame(spark, rows, out_schema)

        # symmetrize with ONE evaluation of the (possibly expensive) pairs plan:
        # a union of two projections would scan the pairs subtree twice while
        # filling the cache; exploding a 2-struct array doesn't.
        sym = pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col(id_a).alias("src"), F.col(id_b).alias("dst")),
                    F.struct(F.col(id_b).alias("src"), F.col(id_a).alias("dst")),
                )
            ).alias("e")
        ).select("e.src", "e.dst")
        sym_scope.enter_context(persisted(sym))
        barrier = sym_scope.enter_context(rounds())
        labels = barrier(
            sym.select(F.col("src").alias("node"))
            .distinct()
            .select("node", F.col("node").alias("cluster_id"))
        )
        # the eager seed checkpoint above materialized sym (filling ITS
        # cache), so the probe-time pairs cache has served its purpose
        probe_scope.close()
        for _ in range(max_iter):
            nbr = sym.join(labels, sym["dst"] == labels["node"]).select(
                sym["src"].alias("node"), "cluster_id"
            )
            mins = (
                labels.union(nbr)
                .groupBy("node")
                .agg(F.min("cluster_id").alias("cluster_id"))
            )
            # pointer jump: label <- label(label). cluster_id is always itself a
            # node (it's a min over node ids), so the lookup is a plain
            # self-join; least() is belt-and-suspenders for monotonicity.
            parent = mins.select(
                F.col("node").alias("_cid"), F.col("cluster_id").alias("_parent")
            )
            new = barrier(
                mins.join(parent, mins["cluster_id"] == parent["_cid"], "left")
                .select(
                    "node",
                    F.least(
                        F.col("cluster_id"),
                        F.coalesce(F.col("_parent"), F.col("cluster_id")),
                    ).alias("cluster_id"),
                )
            )
            changed = (
                new.alias("n")
                .join(labels.alias("o"), "node")
                .filter(F.col("n.cluster_id") != F.col("o.cluster_id"))
                .count()
            )
            labels = new
            if changed == 0:
                return labels
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds; "
            "labels were still changing — raise max_iter (rounds are "
            "O(log diameter) with pointer jumping, so this indicates a "
            "pathological graph or a bug, not a long chain)"
        )


def blocked_fuzzy_pairs(
    names: DataFrame,
    max_dist: int,
    name_col: str = "name",
    block_col: str = "block",
) -> DataFrame:
    """Blocked edit-distance self-join (entity resolution / fuzzy dedup):
    all pairs (name_a < name_b) sharing a block key with
    levenshtein(name_a, name_b) <= max_dist. Any extra columns on
    ``names`` ride along suffixed _a/_b.

    The caller supplies the blocking key (trailing word, phonetic code,
    length bucket, ...) — blocking is what bounds the quadratic
    comparison to O(sum of block-size^2) and is the same
    recall-for-tractability trade LSH banding makes: cross-block pairs
    are unfindable by contract. ``names`` should already be a collapsed
    vocabulary (one row per distinct name), never the raw fact."""
    payload = [c for c in names.columns if c not in (name_col, block_col)]
    a = names.select(
        F.col(name_col).alias("name_a"),
        F.col(block_col).alias(block_col),
        *[F.col(c).alias(f"{c}_a") for c in payload],
    )
    b = names.select(
        F.col(name_col).alias("name_b"),
        F.col(block_col).alias(block_col),
        *[F.col(c).alias(f"{c}_b") for c in payload],
    )
    return (
        a.join(b, block_col)
        .filter(F.col("name_a") < F.col("name_b"))
        .withColumn("edit_dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("edit_dist") <= max_dist)
        .drop(block_col)
    )
