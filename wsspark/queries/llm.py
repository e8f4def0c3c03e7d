"""LLM-data-pipeline queries over documents/embeddings/events (SURVEY.md
§7.2 step 12). EVERY query carries a DuckDB oracle: directly SQL-expressible
ops have literal twins; the LSH scale paths are oracle-checked on their
exact-verified OUTPUT (valid while LSH recall is 100% on the corpus — wide
margin here, see q_minhash_dedup_pairs); hash-valued outputs (SimHash,
winnowing) use the portable 60-bit md5-prefix hash both engines compute
identically. Spark/exact equivalences additionally asserted in
tests/test_llmops.py and tests/test_dedup.py.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from wsspark.exec import local_frame, overlap, scratch_dir
from wsspark.io import read_table
from wsspark.llmops import corpus, dedup, fingerprint, hashvec, pii, similarity, srp, textstats
from wsspark.queries import Query
from wsspark.queries import exactsum as ex
from wsspark.queries.shared import (
    BLOOM_BITS,
    BLOOM_K,
    CHUNK_OVERLAP,
    CHUNK_SIZE,
    NGRAM_DUP_N,
    SNAPSTORE_RESULT_CAP,
    _pin_result,
)

SESSION_GAP_MIN = 30
JACCARD_THRESHOLD = 0.6
ANN_K = 5
QUERY_MOD = 100  # vec_id % 100 == 0 -> query vector
# Calibrated to the synthetic embeddings (random unit vectors, max pairwise
# cosine ~0.51, p99.9 ~0.38): 0.4 yields a small non-empty pair set, so the
# correctness check is falsifiable. A real near-dup corpus would use ~0.95.
EMB_DUP_THRESHOLD = 0.4

# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


def q_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.doc_stats(read_table(spark, sf_dir, "documents"))


_STOP_SQL = ", ".join(f"'{s}'" for s in textstats.STOPWORDS)

DOC_STATS_SQL = f"""
WITH t AS (
    SELECT doc_id, string_split(text, ' ') AS toks, length(text) AS n_chars_actual
    FROM documents
),
s AS (
    SELECT doc_id, n_chars_actual,
           len(toks) AS n_tokens,
           len(list_filter(toks, x -> x IN ({_STOP_SQL}))) AS n_stop
    FROM t
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_chars_actual AS BIGINT) AS n_chars_actual,
       ROUND(CAST(n_chars_actual - (n_tokens - 1) AS DOUBLE) / n_tokens, 4)
           AS avg_token_len,
       ROUND(CAST(n_stop AS DOUBLE) / n_tokens, 4) AS stopword_ratio,
       (n_tokens >= 10 AND CAST(n_stop AS DOUBLE) / n_tokens <= 0.5) AS is_quality
FROM s
"""


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.token_counts(read_table(spark, sf_dir, "documents"))


TOKEN_COUNTS_SQL = """
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS BIGINT)
           AS n_bpe_tokens
FROM documents
"""

# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


def q_token_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact frequent tokens via sketch-candidates + exact-verify
    (llmops/textstats.token_heavy_hitters): the freqItems pass bounds the
    work, the verify pass makes the output exact — so the DuckDB twin is
    the plain exact computation and the hashes must match bit for bit
    (any sketch false NEGATIVE would drop a row and go red)."""
    return textstats.token_heavy_hitters(
        read_table(spark, sf_dir, "documents"), support=0.002
    )


TOKEN_HEAVY_HITTERS_SQL = """
WITH toks AS (
    SELECT t.token
    FROM documents d, UNNEST(string_split(d.text, ' ')) AS t(token)
    WHERE t.token <> ''
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM toks)
SELECT token,
       CAST(COUNT(*) AS BIGINT) AS n_occurrences,
       ROUND(CAST(COUNT(*) AS DOUBLE) / (SELECT n FROM tot), 6) AS token_share
FROM toks
GROUP BY token
HAVING COUNT(*) > 0.002 * (SELECT n FROM tot)
"""


BM25_K = 5


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-k (llmops/retrieval.bm25_search) with the ANN
    convention's query set (doc_id % 100 == 0, the query docs' own text
    — more-like-this). Every score is deterministic arithmetic and ranks
    order by the 6dp-ROUNDED score then doc_id, so the DuckDB twin
    recomputing the identical postings/idf/tf-norm pipeline must match
    the ranking hash exactly."""
    from wsspark.llmops import retrieval

    docs = read_table(spark, sf_dir, "documents")
    qs = docs.filter(F.col("doc_id") % QUERY_MOD == 0).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    return retrieval.bm25_search(docs, qs, k=BM25_K)


_BM25_CORE_SQL = """
d AS (
    SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
    FROM documents
),
post AS (
    SELECT doc_id, len(tk) AS dl, t.term, COUNT(*) AS tf
    FROM d, UNNEST(tk) AS t(term)
    GROUP BY doc_id, len(tk), t.term
),
stats AS (SELECT COUNT(*) AS n_docs, AVG(len(tk)) AS avgdl FROM d),
q AS (SELECT doc_id AS query_id, tk FROM d WHERE doc_id % 100 = 0),
qterms AS (SELECT DISTINCT query_id, t.term FROM q, UNNEST(tk) AS t(term)),
tdf AS (
    SELECT term, COUNT(*) AS df_t FROM post
    WHERE term IN (SELECT DISTINCT term FROM qterms)
    GROUP BY term
),
qs AS (
    SELECT qt.query_id, qt.term,
           LN(1 + ((SELECT n_docs FROM stats) - df_t + 0.5) / (df_t + 0.5))
               AS idf
    FROM qterms qt JOIN tdf USING (term)
),
scored AS (
    SELECT qs.query_id, p.doc_id,
           ROUND(SUM(qs.idf * p.tf * 2.2
                     / (p.tf + 1.2 * (1 - 0.75
                        + 0.75 * p.dl / (SELECT avgdl FROM stats)))), 6)
               AS score
    FROM post p JOIN qs ON p.term = qs.term
    GROUP BY 1, 2
),
ranked AS (
    SELECT query_id, doc_id, score,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY score DESC, doc_id)
               AS INTEGER) AS rank
    FROM scored
)
"""

BM25_SQL = f"""
WITH {_BM25_CORE_SQL}
SELECT query_id, doc_id, score, rank FROM ranked WHERE rank <= {BM25_K}
"""


def q_hybrid_related_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid related-documents retrieval: BM25 more-like-this fused with
    exact cosine over the embedding table by reciprocal-rank fusion
    (llmops/retrieval.hybrid_related_docs). The twin recomputes BOTH legs
    (the BM25 pipeline above, the ANN_SQL cosine pairs) and the
    1/(60+rank) fusion arithmetic — rank-only fusion keeps the whole
    composition exactly SQL-expressible."""
    from wsspark.llmops import retrieval

    docs = read_table(spark, sf_dir, "documents")
    emb = read_table(spark, sf_dir, "embeddings")
    qids = docs.filter(F.col("doc_id") % QUERY_MOD == 0).select("doc_id")
    return retrieval.hybrid_related_docs(docs, emb, qids, k=BM25_K)


HYBRID_SQL = f"""
WITH {_BM25_CORE_SQL},
lex AS (
    SELECT query_id, doc_id, score,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY score DESC, doc_id)
               AS INTEGER) AS rank
    FROM ranked
    WHERE rank <= {BM25_K + 1} AND doc_id <> query_id
),
e AS (SELECT vec_id, embedding FROM embeddings),
qv AS (SELECT vec_id AS query_id, embedding AS qe FROM e
       WHERE vec_id % 100 = 0),
pairs AS (
    SELECT qv.query_id, e.vec_id AS doc_id,
           ROUND(
               list_aggregate(list_transform(list_zip(qv.qe, e.embedding),
                   x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), 'sum')
               / (sqrt(list_aggregate(list_transform(qv.qe,
                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
                  * sqrt(list_aggregate(list_transform(e.embedding,
                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))),
               4) AS cos_sim
    FROM qv JOIN e ON e.vec_id <> qv.query_id
),
sem AS (
    SELECT query_id, doc_id,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY cos_sim DESC, doc_id)
               AS INTEGER) AS rank
    FROM pairs
    QUALIFY rank <= {BM25_K}
),
contrib AS (
    SELECT query_id, doc_id, 1.0 / (60 + rank) AS c FROM (
        SELECT query_id, doc_id,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY query_id ORDER BY score DESC, doc_id)
                   AS INTEGER) AS rank
        FROM lex QUALIFY rank <= {BM25_K}
    )
    UNION ALL
    SELECT query_id, doc_id, 1.0 / (60 + rank) AS c FROM sem
),
fused AS (
    SELECT query_id, doc_id, ROUND(SUM(c), 6) AS rrf_score
    FROM contrib GROUP BY 1, 2
)
SELECT query_id, doc_id, rrf_score,
       CAST(rank AS INTEGER) AS rank
FROM (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY rrf_score DESC, doc_id) AS rank
    FROM fused
)
WHERE rank <= {BM25_K}
"""


CMS_WIDTH = 256
CMS_DEPTH = 4


def q_cms_token_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The count-min sketch counters over the documents token stream
    (llmops/cms.cms_sketch): deterministic md5 Kirsch-Mitzenmacher
    arithmetic, so the whole approximate structure — every counter in
    the width x depth matrix — is recomputed by the DuckDB twin and
    hash-checked bit for bit. Estimate-side guarantees (never an
    underestimate; bounded overcount) are pinned in tests/test_llmops.py."""
    from wsspark.llmops import cms

    toks = (
        read_table(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
    )
    return cms.cms_sketch(toks, "token", width=CMS_WIDTH, depth=CMS_DEPTH)


CMS_TOKEN_SKETCH_SQL = f"""
WITH toks AS (
    SELECT t.token
    FROM documents d, UNNEST(string_split(d.text, ' ')) AS t(token)
    WHERE t.token <> ''
),
h AS (
    SELECT ('0x' || substr(md5(token), 1, 8))::BIGINT AS h1,
           ('0x' || substr(md5(token), 9, 8))::BIGINT AS h2
    FROM toks
),
e AS (
    SELECT i.depth, ((h1 + i.depth * h2) % {CMS_WIDTH}) AS bucket
    FROM h, (SELECT UNNEST(generate_series(1, {CMS_DEPTH})) AS depth) i
)
SELECT CAST(depth AS INTEGER) AS depth,
       CAST(bucket AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS cnt
FROM e
GROUP BY depth, bucket
"""


def q_srp_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packed 48-bit random-hyperplane signatures (llmops/srp): bit i =
    side of Gaussian hyperplane i, planes derived from the fixed seed and
    rounded to 6dp so the DuckDB twin embeds the IDENTICAL literals. The
    dot-product fold is left-to-right in double on both engines (verified
    bit-exact vs DuckDB's list_dot_product), and the sign is taken on the
    6dp-rounded dot — so the packed BIGINT must match bit for bit; any
    projection/pack/ordering divergence goes red in the hash."""
    return srp.srp_signatures(
        read_table(spark, sf_dir, "embeddings"), planes=_SRP_PLANES
    )


_SRP_PLANES = srp.srp_hyperplanes(dim=64)  # testdata embedding dim

SRP_SIGNATURES_SQL = "SELECT vec_id, CAST({} AS BIGINT) AS srp_sig FROM embeddings".format(
    " + ".join(
        "CASE WHEN ROUND(list_dot_product(embedding::DOUBLE[], [{}]::DOUBLE[]), 6)"
        " >= 0 THEN CAST({} AS BIGINT) ELSE CAST(0 AS BIGINT) END".format(
            ", ".join(repr(x) for x in p), 1 << i
        )
        for i, p in enumerate(_SRP_PLANES)
    )
)


def q_bloom_pruned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bloom_pruned_join end-to-end no-false-negative check on real data:
    lineitem probe-pruned by a broadcast Bloom of the high-value order
    keys, then inner-joined. Row-identical to the plain join by contract
    (llmops/bloom.bloom_pruned_join), so the DuckDB oracle is simply the
    plain join — ANY dropped match (a false negative anywhere in the
    hash/bitmap/probe chain) goes red in the driver-identical hash."""
    from wsspark.llmops.bloom import bloom_pruned_join

    li = read_table(spark, sf_dir, "lineitem")
    build = (
        read_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 400000)
        .select(
            F.col("o_orderkey").alias("l_orderkey"),
            F.round("o_totalprice", 2).alias("order_total"),
        )
    )
    return bloom_pruned_join(li, build, "l_orderkey").select(
        "l_orderkey",
        F.col("l_linenumber").cast("long").alias("line_no"),
        "order_total",
    )


BLOOM_PRUNED_JOIN_SQL = """
SELECT l.l_orderkey,
       CAST(l.l_linenumber AS BIGINT) AS line_no,
       ROUND(o.o_totalprice, 2) AS order_total
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
WHERE o.o_totalprice > 400000
"""


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup_groups(read_table(spark, sf_dir, "documents"))


DEDUP_EXACT_SQL = """
SELECT md5(text) AS text_hash, COUNT(*) AS n_copies, MIN(doc_id) AS keep_doc_id
FROM documents GROUP BY 1
"""


def q_near_dup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-set Jaccard pairs within the same lang (blocking col)."""
    docs = read_table(spark, sf_dir, "documents")
    return dedup.jaccard_pairs(
        docs, threshold=JACCARD_THRESHOLD, block_cols=("lang",), shingle_k=1
    )


NEAR_DUP_SQL = f"""
WITH words AS (
    SELECT doc_id, lang, unnest(list_distinct(string_split(text, ' '))) AS w
    FROM documents
),
sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM words GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
    FROM words a JOIN words b
      ON a.w = b.w AND a.lang = b.lang AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       ROUND(CAST(n_common AS DOUBLE) / (sa.set_size + sb.set_size - n_common), 4)
           AS jaccard
FROM inter
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE CAST(n_common AS DOUBLE) / (sa.set_size + sb.set_size - n_common)
      >= {JACCARD_THRESHOLD}
"""


def q_minhash_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale path: MinHash LSH candidates + exact verification.

    Oracle-able even though xxhash64 signatures have no SQL twin: the
    output is the exact-verified jaccard of every surviving candidate, so
    it equals the quadratic 3-shingle jaccard pair set whenever LSH recall
    is 100% — which it is on this corpus by wide margin (every true pair
    has jaccard >= 0.89; per-pair miss probability at s=0.89 with 8 bands
    x 4 rows is (1 - 0.89^4)^8 ~= 4e-4). Equivalence is also asserted in
    tests/test_dedup.py at shingle_k=3.

    The testdata corpus is one small parquet row-group = one input split, so
    the per-row shingle/hash work would run single-threaded; spread it
    across the cluster first. At real scale the corpus arrives as many
    splits and this repartition is a cheap no-op-sized shuffle relative to
    the signature build it parallelizes.
    """
    docs = read_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    return dedup.minhash_dedup_pairs(docs, threshold=JACCARD_THRESHOLD)


# 3-word-shingle exact jaccard — the quadratic twin of the LSH scale path
# (shingle construction mirrors dedup.word_shingles: k=3, whole-text
# fallback for sub-k docs, distinct shingles).
SHINGLE3_EDGES_SQL = f"""
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
sh AS (
    SELECT doc_id, unnest(list_distinct(
        CASE WHEN len(t) >= 3
             THEN list_transform(range(1, len(t) - 1),
                                 i -> array_to_string(list_slice(t, i, i + 2), ' '))
             ELSE [array_to_string(t, ' ')] END)) AS w
    FROM toks
),
sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM sh GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
    FROM sh a JOIN sh b ON a.w = b.w AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
jpairs AS (
    SELECT doc_a, doc_b,
           ROUND(CAST(n_common AS DOUBLE)
                 / (sa.set_size + sb.set_size - n_common), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE ROUND(CAST(n_common AS DOUBLE)
                / (sa.set_size + sb.set_size - n_common), 4)
          >= {JACCARD_THRESHOLD}
)
"""

MINHASH_PAIRS_SQL = SHINGLE3_EDGES_SQL + "SELECT doc_a, doc_b, jaccard FROM jpairs"


PREFIX_JACCARD_T = 0.8


def q_prefix_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact subquadratic near-dup pairs: AllPairs/PPJoin prefix +
    positional + length filtering over 3-word shingles at t=0.8
    (dedup.prefix_jaccard_join). The third point on the near-dup
    ladder — exact like the quadratic join, subquadratic like LSH. The
    twin is the QUADRATIC exact join, so the hash gate re-proves the
    pruning theorems lossless on this corpus every round (a filter bug
    that drops one true pair goes red). Plan-asserted
    CartesianProduct-free in tests/test_plans.py.

    Parameter note (measured): this corpus draws from a tiny wordlist —
    931 distinct 2-shingles across 5,000 docs at sf0.1 — so at t=0.5
    there ARE no rare tokens and prefix filtering degenerates (16.5M
    candidate occurrences). AllPairs is a high-threshold technique:
    t=0.8 posts only each doc's rarest ~20%, the right regime. The
    corpus is one row-group = one input split; repartition spreads the
    shingle/window work across the cluster first (the minhash query's
    note applies)."""
    docs = read_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    return dedup.prefix_jaccard_join(docs, threshold=PREFIX_JACCARD_T, shingle_k=3)


PREFIX_JACCARD_SQL = f"""
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
sh AS (
    SELECT doc_id, unnest(list_distinct(
        CASE WHEN len(t) >= 3
             THEN list_transform(range(1, len(t) - 1),
                                 i -> array_to_string(list_slice(t, i, i + 2), ' '))
             ELSE [array_to_string(t, ' ')] END)) AS w
    FROM toks
),
sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM sh GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
    FROM sh a JOIN sh b ON a.w = b.w AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       ROUND(CAST(n_common AS DOUBLE)
             / (sa.set_size + sb.set_size - n_common), 4) AS jaccard
FROM inter
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE ROUND(CAST(n_common AS DOUBLE)
            / (sa.set_size + sb.set_size - n_common), 4)
      >= {PREFIX_JACCARD_T}
"""


def q_simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprint + band keys per doc. Hash-checkable: the term
    hash is the portable 60-bit md5 prefix, so the DuckDB oracle recomputes
    the fingerprint (votes, sign bits, band keys) value-for-value."""
    docs = read_table(spark, sf_dir, "documents")
    return dedup.simhash_bands(dedup.simhash(docs))


SIMHASH_SQL = """
WITH toks AS (
    SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
    FROM documents
),
h AS (
    SELECT doc_id, ('0x' || substr(md5(w), 1, 15))::BIGINT AS h FROM toks
),
votes AS (
    SELECT doc_id, i,
           SUM(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS vote
    FROM h CROSS JOIN range(60) r(i)
    GROUP BY 1, 2
),
fp AS (
    SELECT doc_id,
           COALESCE(SUM(CASE WHEN vote > 0 THEN (1::BIGINT << i) ELSE 0 END),
                    0)::BIGINT AS simhash
    FROM votes GROUP BY doc_id
)
SELECT doc_id, simhash, band::INT AS band,
       (simhash >> (band * 16)) & 65535 AS band_key
FROM fp CROSS JOIN range(4) b(band)
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language ID (pure stopword arithmetic — oracle-checked)."""
    return textstats.lang_id(read_table(spark, sf_dir, "documents"))


def _lang_id_sql() -> str:
    """DuckDB twin of textstats.lang_id: one UNION ALL branch per language
    profile, argmax with (score DESC, lang ASC) tie-break."""
    branches = []
    for lang in sorted(textstats.LANG_PROFILES):
        words = ", ".join(f"'{w}'" for w in textstats.LANG_PROFILES[lang])
        branches.append(
            f"SELECT doc_id, '{lang}' AS lang, "
            f"len(list_intersect(t, [{words}])) AS score FROM toks"
        )
    union = "\nUNION ALL\n".join(branches)
    return f"""
WITH toks AS (
    SELECT doc_id, list_distinct(string_split(text, ' ')) AS t FROM documents
),
scores AS (
{union}
)
SELECT doc_id, lang AS lang_pred, CAST(score AS BIGINT) AS lang_score
FROM scores
QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, lang) = 1
"""


LANG_ID_SQL = _lang_id_sql()


def q_doc_fingerprint_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints -> shared-fingerprint candidate pairs.
    Hash-checkable: gram hash is the portable 60-bit md5 prefix, so the
    DuckDB oracle replays the full winnowing selection (rolling 5-gram
    hashes, window-4 minima, distinct fingerprints, pair counts)."""
    docs = read_table(spark, sf_dir, "documents")
    return fingerprint.fingerprint_candidates(fingerprint.winnow_fingerprints(docs))


FINGERPRINT_CAND_SQL = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
positions AS (
    SELECT doc_id, t, unnest(range(0, greatest(len(t) - 5, 0) + 1)) AS pos
    FROM toks
),
grams AS (
    SELECT doc_id, pos,
           ('0x' || substr(md5(array_to_string(list_slice(t, pos + 1, pos + 5),
                                               ' ')), 1, 15))::BIGINT AS h
    FROM positions
),
mins AS (
    SELECT doc_id, pos,
           MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m,
           MAX(pos) OVER (PARTITION BY doc_id) AS maxpos
    FROM grams
),
fps AS (
    SELECT DISTINCT doc_id, m
    FROM mins WHERE pos <= greatest(maxpos - 3, 0)
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared_fingerprints
FROM fps a JOIN fps b ON a.m = b.m AND a.doc_id < b.doc_id
GROUP BY 1, 2
"""

# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------


def _split_queries(emb: DataFrame) -> tuple[DataFrame, DataFrame]:
    qs = emb.filter(F.col("vec_id") % QUERY_MOD == 0)
    return emb, qs


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    vectors, qs = _split_queries(emb)
    return similarity.cosine_topk(vectors, qs, k=ANN_K)


ANN_SQL = f"""
WITH e AS (SELECT vec_id, embedding FROM embeddings),
q AS (SELECT vec_id AS query_id, embedding AS qe FROM e WHERE vec_id % {QUERY_MOD} = 0),
pairs AS (
    SELECT q.query_id, e.vec_id AS neighbor_id,
           list_aggregate(list_transform(list_zip(q.qe, e.embedding),
               x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), 'sum') AS dp,
           sqrt(list_aggregate(list_transform(q.qe,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) AS qn,
           sqrt(list_aggregate(list_transform(e.embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) AS en
    FROM q JOIN e ON e.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, ROUND(dp / (qn * en), 4) AS cos_sim
FROM pairs
QUALIFY ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY dp / (qn * en) DESC, neighbor_id) <= {ANN_K}
"""


def q_ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed approximate top-k. Fully deterministic (hash-spread
    centroids, ~sqrt(N) cells), so the whole index build + probe is
    replicated in the DuckDB oracle below; recall vs brute force is
    additionally asserted in tests."""
    emb = read_table(spark, sf_dir, "embeddings")
    vectors, qs = _split_queries(emb)
    return similarity.ivf_topk(vectors, qs, k=ANN_K)


# Shared SQL fragments replicating wsspark.llmops.similarity exactly:
# double-cast vectors + norms, Knuth-hash centroid pick, nearest-cell
# assignment with (cos DESC, centroid_id) tie-break.
_EMB_NORMED_SQL = """
en AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
           sqrt(list_aggregate(list_transform(
               list_transform(embedding, x -> CAST(x AS DOUBLE)),
               x -> x * x), 'sum')) AS nrm
    FROM embeddings
),
params AS (
    SELECT GREATEST(16, CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT)) AS n_cells
    FROM en
),
cents AS (
    SELECT ROW_NUMBER() OVER (ORDER BY (vec_id * 2654435761) % 4294967296,
                                       vec_id) AS centroid_id,
           v AS cv, nrm AS cnrm
    FROM en
    QUALIFY ROW_NUMBER() OVER (ORDER BY (vec_id * 2654435761) % 4294967296,
                                        vec_id) <= (SELECT n_cells FROM params)
)
"""

_CELL_COS_SQL = (
    "list_aggregate(list_transform(list_zip(v, cv),"
    " x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), 'sum') / (nrm * cnrm)"
)

IVF_SQL = f"""
WITH {_EMB_NORMED_SQL},
corpus_assign AS (
    SELECT vec_id, centroid_id, v, nrm
    FROM en CROSS JOIN cents
    QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
        ORDER BY {_CELL_COS_SQL} DESC, centroid_id) <= 1
),
q_assign AS (
    -- auto_n_probe: recall-first default, GREATEST(4, CEIL(3/4 n_cells))
    SELECT vec_id AS query_id, centroid_id, v AS qv, nrm AS qnrm
    FROM en CROSS JOIN cents
    WHERE vec_id % {QUERY_MOD} = 0
    QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
        ORDER BY {_CELL_COS_SQL} DESC, centroid_id)
        <= (SELECT GREATEST(4, CAST(CEIL(3.0 * n_cells / 4) AS BIGINT))
            FROM params)
),
pairs AS (
    SELECT q.query_id, c.vec_id AS neighbor_id,
           ROUND(list_aggregate(list_transform(list_zip(q.qv, c.v),
               x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), 'sum')
               / (q.qnrm * c.nrm), 4) AS cos_sim
    FROM q_assign q JOIN corpus_assign c USING (centroid_id)
    WHERE c.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, cos_sim
FROM pairs
QUALIFY ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) <= {ANN_K}
"""


def q_embedding_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, IVF-cell blocked. Threshold
    calibrated to the synthetic corpus so the output is non-empty (round-1
    returned 0 rows at 0.9 — unfalsifiable); deterministic, so oracle-checked."""
    emb = read_table(spark, sf_dir, "embeddings")
    return similarity.embedding_cosine_dup_pairs(emb, threshold=EMB_DUP_THRESHOLD)


EMB_DUP_SQL = f"""
WITH {_EMB_NORMED_SQL},
dup_assign AS (
    SELECT vec_id, centroid_id, v, nrm
    FROM en CROSS JOIN cents
    QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
        ORDER BY {_CELL_COS_SQL} DESC, centroid_id) <= 2
)
SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_aggregate(list_transform(list_zip(a.v, b.v),
           x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), 'sum')
           / (a.nrm * b.nrm), 4) AS cos_sim
FROM dup_assign a JOIN dup_assign b USING (centroid_id)
WHERE a.vec_id < b.vec_id
  AND ROUND(list_aggregate(list_transform(list_zip(a.v, b.v),
          x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), 'sum')
          / (a.nrm * b.nrm), 4) >= {EMB_DUP_THRESHOLD}
"""

def q_semantic_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """llmops.similarity.semantic_dedup_survivors: SemDeDup keep-set over
    the embeddings table — every vector NOT dominated by a smaller-id
    cosine near-duplicate at the shared EMB_DUP_THRESHOLD. The embedding
    dedup chain's survivor stage (candidate pairs are the registered
    embedding_dup_pairs)."""
    emb = read_table(spark, sf_dir, "embeddings")
    return (
        similarity.semantic_dedup_survivors(emb, threshold=EMB_DUP_THRESHOLD)
        .select("vec_id", "label")
        .orderBy("vec_id")
    )


# survivors = embeddings minus the distinct greater-id side of the SAME
# cell-blocked pair query the driver verifies as embedding_dup_pairs
# (nested WITH inside the subquery is the full EMB_DUP_SQL verbatim)
SEMANTIC_SURVIVORS_SQL = f"""
SELECT e.vec_id, e.label
FROM embeddings e
WHERE e.vec_id NOT IN (SELECT id_b FROM ({EMB_DUP_SQL}) p)
ORDER BY e.vec_id
"""


# ---------------------------------------------------------------------------
# Events: JSON extraction + sessionization
# ---------------------------------------------------------------------------


def q_json_extract_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """get_json_object over the props column, bucketed rollup."""
    ev = read_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.withColumn("k_bucket", (k % 10).cast("long"))
        .groupBy("k_bucket")
        .agg(
            F.count("*").alias("n_events"),
            ex.money_sum(F.col("value")).alias("total_value"),
        )
    )


JSON_EXTRACT_SQL = f"""
SELECT CAST(CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS BIGINT)
           AS k_bucket,
       COUNT(*) AS n_events, {ex.money_sum_sql("value")} AS total_value
FROM events GROUP BY 1
"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30 min) — the batch shape of the streaming
    session-window operator (wsspark.streaming has the live variant)."""
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    new_session = F.when(
        gap_us.isNull() | (gap_us > SESSION_GAP_MIN * 60 * 1_000_000), 1
    ).otherwise(0)
    return (
        ev.withColumn("_new", new_session)
        .groupBy("user_id")
        .agg(
            F.sum("_new").alias("n_sessions"),
            F.round(F.count("*") / F.sum("_new"), 2).alias("events_per_session"),
        )
    )


SESSIONIZE_SQL = f"""
WITH g AS (
    SELECT user_id,
           CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     IS NULL
                  OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     > INTERVAL {SESSION_GAP_MIN} MINUTE
                THEN 1 ELSE 0 END AS new_session
    FROM events
)
SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions,
       ROUND(CAST(COUNT(*) AS DOUBLE) / SUM(new_session), 2) AS events_per_session
FROM g GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# Corpus curation: decontamination, sampling, quality gating
# ---------------------------------------------------------------------------

BENCH_MOD = 50  # doc_id % 50 == 0 -> "benchmark" doc for decontamination
SAMPLE_RATES = {"en": 0.5, "de": 0.3, "es": 0.2, "zh": 0.25}
SAMPLE_DEFAULT = 0.05
# Quality thresholds calibrated to the synthetic corpus (tokens 10-99,
# avg_token_len ~4.2-4.8, stopword_ratio 0-0.22) so every reject reason
# actually fires — a gate where everything passes verifies nothing.
QF_MIN_TOKENS, QF_MAX_TOKENS = 20, 80
QF_MAX_STOPWORD_RATIO = 0.15
QF_MIN_AVG_TOKEN_LEN = 4.4


def q_decontam_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Test-set decontamination: corpus docs sharing a 4-gram with a
    benchmark doc (benchmark = doc_id % 50 == 0). Benchmark side broadcast."""
    docs = read_table(spark, sf_dir, "documents")
    return corpus.ngram_overlap_pairs(docs, F.col("doc_id") % BENCH_MOD == 0)


_SHINGLE_SQL = f"""
    SELECT doc_id, UNNEST(list_distinct(CASE WHEN len(t) >= {corpus.DECONTAM_NGRAM}
        THEN list_transform(range(1, len(t) - {corpus.DECONTAM_NGRAM} + 2),
             i -> array_to_string(t[i:i+{corpus.DECONTAM_NGRAM}-1], ' '))
        ELSE [array_to_string(t, ' ')] END)) AS ng
    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
"""

DECONTAM_SQL = f"""
WITH sh AS ({_SHINGLE_SQL}),
bench AS (SELECT doc_id AS bench_id, ng FROM sh WHERE doc_id % {BENCH_MOD} = 0),
corp AS (SELECT doc_id, ng FROM sh WHERE doc_id % {BENCH_MOD} <> 0)
SELECT c.doc_id, b.bench_id, COUNT(*) AS n_shared_ngrams
FROM corp c JOIN bench b USING (ng)
GROUP BY 1, 2
"""


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language downsampling (domain mixing) — hash-gated,
    no RNG, stable under retries."""
    docs = read_table(spark, sf_dir, "documents")
    return corpus.stratified_sample(
        docs, SAMPLE_RATES, default_rate=SAMPLE_DEFAULT
    ).select("doc_id", "lang")


_RATE_CASE = "CASE lang " + " ".join(
    f"WHEN '{s}' THEN {r}" for s, r in sorted(SAMPLE_RATES.items())
) + f" ELSE {SAMPLE_DEFAULT} END"

STRATIFIED_SAMPLE_SQL = f"""
SELECT doc_id, lang FROM documents
WHERE CAST((doc_id * 2654435761) % 4294967296 AS DOUBLE) / 4294967296
      < {_RATE_CASE}
"""


def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-based corpus quality gate with first-failing-rule reasons."""
    docs = read_table(spark, sf_dir, "documents")
    return corpus.quality_filter(
        docs,
        min_tokens=QF_MIN_TOKENS,
        max_tokens=QF_MAX_TOKENS,
        max_stopword_ratio=QF_MAX_STOPWORD_RATIO,
        min_avg_token_len=QF_MIN_AVG_TOKEN_LEN,
    )


QUALITY_FILTER_SQL = f"""
WITH t AS (
    SELECT doc_id, string_split(text, ' ') AS toks, length(text) AS nc
    FROM documents
),
s AS (
    SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
           ROUND(CAST(len(list_filter(toks, x -> x IN ({_STOP_SQL})))
                 AS DOUBLE) / len(toks), 4) AS stopword_ratio,
           ROUND(CAST(nc - (len(toks) - 1) AS DOUBLE) / len(toks), 4)
               AS avg_token_len
    FROM t
)
SELECT doc_id, n_tokens, stopword_ratio, avg_token_len,
       CASE WHEN n_tokens < {QF_MIN_TOKENS} THEN 'TOO_SHORT'
            WHEN n_tokens > {QF_MAX_TOKENS} THEN 'TOO_LONG'
            WHEN stopword_ratio > {QF_MAX_STOPWORD_RATIO} THEN 'STOPWORD_HEAVY'
            WHEN avg_token_len < {QF_MIN_AVG_TOKEN_LEN} THEN 'SHORT_TOKENS'
            ELSE 'KEEP' END AS filter_reason
FROM s
"""


def q_quantized_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8-quantized shortlist scan + float re-rank (the 4x-cheaper ANN
    scan path; llmops.similarity.quantized_topk)."""
    emb = read_table(spark, sf_dir, "embeddings")
    vectors, qs = _split_queries(emb)
    return similarity.quantized_topk(vectors, qs, k=ANN_K)


QUANTIZED_ANN_SQL = f"""
WITH e AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
),
n AS (
    SELECT vec_id, v,
           sqrt(list_aggregate(list_transform(v, x -> x * x), 'sum')) AS nrm,
           list_aggregate(list_transform(v, x -> abs(x)), 'max') AS amax
    FROM e
),
qz AS (
    SELECT vec_id, v, nrm,
           CAST(CASE WHEN amax > 0 THEN amax / 127.0 ELSE 1.0 END AS REAL) AS scale,
           list_transform(v, x -> CAST(ROUND(
               x / CAST(CASE WHEN amax > 0 THEN amax / 127.0 ELSE 1.0 END AS REAL),
               0) AS INTEGER)) AS qv
    FROM n
),
scored AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           CAST(list_aggregate(list_transform(list_zip(q.qv, c.qv),
               x -> CAST(x[1] AS BIGINT) * CAST(x[2] AS BIGINT)), 'sum') AS DOUBLE)
               * CAST(q.scale AS DOUBLE) * CAST(c.scale AS DOUBLE)
               / (q.nrm * c.nrm) AS approx,
           q.v AS qv_f, q.nrm AS qn, c.v AS cv_f, c.nrm AS cn
    FROM qz q JOIN qz c ON c.vec_id <> q.vec_id
    WHERE q.vec_id % {QUERY_MOD} = 0
),
short AS (
    SELECT query_id, neighbor_id, qv_f, qn, cv_f, cn
    FROM scored
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY approx DESC, neighbor_id) <= {ANN_K} * 4
)
SELECT query_id, neighbor_id,
       ROUND(list_aggregate(list_transform(list_zip(qv_f, cv_f),
           x -> x[1] * x[2]), 'sum') / (qn * cn), 4) AS cos_sim
FROM short
QUALIFY ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) <= {ANN_K}
"""


# Pinned query ids for the IVF+PQ compose row: literals (not a % split) so
# the DuckDB twin selects the identical set without replicating the PQ
# training sample; all < 500, so they exist at every testdata scale.
PQ_QUERY_IDS = (3, 42, 137, 256)
PQ_TOPK = 10
# 30x over-fetch, not the production 10x: the synthetic embeddings are
# uniform random — PQ's worst case, no cluster structure to absorb
# quantization error — and at 10x the shortlist measurably drops ~1 true
# in-cell neighbor per 40 at sf0.001/sf0.1. 30x is measured recall-1.0 at
# every testdata scale while still pruning (sf0.1: ~1500 candidates -> 300).
PQ_SHORTLIST = 30 * PQ_TOPK


def q_ivf_pq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full production ANN ladder as one driver-hash-checked row set:
    IVF cells prune the corpus to the probed cells, PQ ADC (m=16, k=32
    codebooks trained on the deterministic md5 sample) scores those
    candidates from 1-byte codes into a 10x-topk shortlist, and the exact
    L2 re-rank touches only the shortlist survivors
    (llmops/pq.ivf_pq_search).

    Oracle contract: the DuckDB twin replicates the DETERMINISTIC half of
    the ladder — hash-spread IVF cells, auto_n_probe probed cells, exact
    L2^2 top-k over every probed-cell candidate — but NOT the PQ
    shortlist. The hashes therefore match iff ADC never drops a true
    in-cell top-k vector from its 10x shortlist, which makes the driver
    row a standing falsifiable check on the whole PQ path (a codebook,
    encode, or distance-table bug that costs even one true neighbor goes
    red); the in-cell shortlist recall this relies on is measured ~1.0
    and pinned in tests/test_pq.py."""
    import numpy as np

    from wsspark.llmops import pq

    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    assigned, centroids, n_cells = similarity.ivf_build_index(emb)
    # One eager materialization each: 4 query branches reuse the index and
    # codes instead of re-running the N x cells assign / encode per branch.
    # The two index checkpoints are independent of the codebook training
    # (a driver-side kmeans over a 500-row sample) — overlap them
    # (guide §2.6) so the training's collect hides the checkpoint jobs.
    def _train_encode():
        books = pq.train_codebooks(emb, m=16, k=32, sample=500)
        # encode depends only on the trained books — start it on this
        # thread while the index checkpoints drain their tails (r17)
        return books, pq.encode(emb, books).localCheckpoint()

    (books, codes), assigned, centroids = overlap(
        _train_encode, assigned.localCheckpoint, centroids.localCheckpoint
    )
    n_probe = similarity.auto_n_probe(n_cells)
    qvecs = {
        r.vec_id: np.asarray(r.embedding, dtype=np.float64)
        for r in emb.filter(F.col("vec_id").isin(*PQ_QUERY_IDS)).collect()
    }
    # All 4 queries ride ONE pass through each ladder rung (probe, ADC,
    # re-rank) — per-query results identical to the single-query loop
    # (pinned in tests/test_pq.py), with 4x fewer jobs: the online-serving
    # micro-batch shape.
    return pq.ivf_pq_search_multi(
        emb, assigned, centroids, codes, books, qvecs,
        topk=PQ_TOPK, n_probe=n_probe, shortlist=PQ_SHORTLIST,
    )


IVF_PQ_SQL = f"""
WITH {_EMB_NORMED_SQL},
corpus_assign AS (
    SELECT vec_id, centroid_id, v
    FROM en CROSS JOIN cents
    QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
        ORDER BY {_CELL_COS_SQL} DESC, centroid_id) <= 1
),
probed AS (
    SELECT vec_id AS query_id, centroid_id, v AS qv
    FROM en CROSS JOIN cents
    WHERE vec_id IN {PQ_QUERY_IDS}
    QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
        ORDER BY {_CELL_COS_SQL} DESC, centroid_id)
        <= (SELECT GREATEST(4, CAST(CEIL(3.0 * n_cells / 4) AS BIGINT))
            FROM params)
),
cand AS (
    SELECT p.query_id, ca.vec_id AS neighbor_id,
           ROUND(list_aggregate(list_transform(list_zip(p.qv, ca.v),
               x -> (x[1] - x[2]) * (x[1] - x[2])), 'sum'), 6) AS dist
    FROM probed p JOIN corpus_assign ca USING (centroid_id)
)
SELECT query_id, neighbor_id, dist
FROM cand
QUALIFY ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY dist, neighbor_id) <= {PQ_TOPK}
"""


def q_ann_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of both approximate ANN paths (IVF at its auto_n_probe
    default, int8 quantized shortlist) against brute-force ground truth — the
    accuracy/probe trade-off IS the operator's spec at 100 TB, so it ships
    as a registered, driver-hash-checked diagnostic instead of an ad-hoc
    notebook check. One row per method: truth pairs, hit pairs, recall.
    All three top-k frames are computed in one plan; the left-semi hit
    joins are on (query_id, neighbor_id) — tiny frames, broadcast by AQE.
    Measured corpus recall is recorded in PLANS.md."""
    emb = read_table(spark, sf_dir, "embeddings")
    vectors, qs = _split_queries(emb)
    truth = similarity.cosine_topk(vectors, qs, k=ANN_K).select(
        "query_id", "neighbor_id"
    )
    methods = {
        "ivf": similarity.ivf_topk(vectors, qs, k=ANN_K),
        "quantized": similarity.quantized_topk(vectors, qs, k=ANN_K),
    }
    out = None
    for method, approx in sorted(methods.items()):
        hits = truth.join(
            approx.select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"],
            "left_semi",
        )
        row = (
            truth.agg(F.count("*").alias("n_truth_pairs"))
            .crossJoin(hits.agg(F.count("*").alias("n_hit_pairs")))
            .select(
                F.lit(method).alias("method"),
                "n_truth_pairs",
                "n_hit_pairs",
                F.round(
                    F.col("n_hit_pairs") / F.col("n_truth_pairs"), 4
                ).alias("recall_at_k"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("method")


ANN_RECALL_SQL = f"""
WITH truth AS (SELECT query_id, neighbor_id FROM ({ANN_SQL})),
ivf AS (SELECT query_id, neighbor_id FROM ({IVF_SQL})),
quant AS (SELECT query_id, neighbor_id FROM ({QUANTIZED_ANN_SQL})),
m AS (
    SELECT 'ivf' AS method,
           (SELECT COUNT(*) FROM truth) AS n_truth_pairs,
           (SELECT COUNT(*) FROM truth t
             WHERE EXISTS (SELECT 1 FROM ivf a
                           WHERE a.query_id = t.query_id
                             AND a.neighbor_id = t.neighbor_id)) AS n_hit_pairs
    UNION ALL
    SELECT 'quantized',
           (SELECT COUNT(*) FROM truth),
           (SELECT COUNT(*) FROM truth t
             WHERE EXISTS (SELECT 1 FROM quant a
                           WHERE a.query_id = t.query_id
                             AND a.neighbor_id = t.neighbor_id))
)
SELECT method, n_truth_pairs, n_hit_pairs,
       ROUND(CAST(n_hit_pairs AS DOUBLE) / n_truth_pairs, 4) AS recall_at_k
FROM m ORDER BY method
"""


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing end-to-end: documents become opaque binary
    payloads with typed metadata (the shape an image/audio corpus has), then
    an Arrow-batched mapInPandas extracts features via the stubbed decoder
    (wsspark.llmops.multimodal). The sha256 stub makes the pass oracle-able
    (MULTIMODAL_SQL), so the Arrow plumbing is hash-checked end-to-end."""
    from wsspark.llmops import multimodal

    docs = read_table(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("media_type"),
        F.encode("text", "utf-8").alias("payload"),
        F.lit("application/octet-stream").alias("mime"),
        F.lit(None).cast("long").alias("width"),
        F.lit(None).cast("long").alias("height"),
        (F.col("n_chars") * 40).alias("duration_ms"),
    )
    feats = multimodal.extract_features(media)
    return feats.select(
        "media_id",
        "media_type",
        "n_bytes",
        F.size("feature").alias("feature_dim"),
        F.round(F.element_at("feature", 1), 6).alias("f0"),
    )


# DuckDB twin of the multimodal pass: the stub decoder is sha256-based, so
# the whole mapInPandas pipeline (payload encode, byte length, digest->float
# feature) is expressible in SQL — the hash match end-to-end checks the Arrow
# plumbing (ids, batching, null handling), not just the stub arithmetic.
# DuckDB's sha256 takes VARCHAR and digests its UTF-8 bytes — exactly the
# payload Spark builds with encode(text, 'utf-8').
MULTIMODAL_SQL = """
SELECT doc_id AS media_id,
       list_extract(['image','audio','video'], CAST(doc_id % 3 AS INT) + 1)
           AS media_type,
       octet_length(encode(text)) AS n_bytes,
       8 AS feature_dim,
       round(((strpos('0123456789abcdef', substr(sha256(text), 1, 1)) - 1) * 16
             + strpos('0123456789abcdef', substr(sha256(text), 2, 1)) - 1)
             / 255.0, 6) AS f0
FROM documents
"""


def _kmeans_cells_sql(k: int = 8, dim: int = 64, n_iter: int = 3) -> str:
    """DuckDB twin of q_kmeans_cells: the same hash-spread init (pure Knuth
    integer arithmetic) and ``n_iter`` unrolled Lloyd rounds. Viable as an
    exact oracle because the Spark side rounds each centroid mean to 9dp,
    absorbing partition-merge float jitter on both engines. ``dim`` is the
    testdata embedding width."""
    d2 = ("list_sum(list_transform(list_zip(v.vec, c.cvec),"
          " p -> (p[1]-p[2])*(p[1]-p[2])))")

    def assign(src: str, cents: str) -> str:
        return f"""
  SELECT vec_id, vec, cid FROM (
    SELECT v.vec_id, v.vec, c.cid,
           row_number() OVER (PARTITION BY v.vec_id ORDER BY {d2}, c.cid) AS rn
    FROM {src} v CROSS JOIN {cents} c
  ) WHERE rn = 1"""

    parts = [f"""WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
),
c0 AS (
  SELECT row_number() OVER (
           ORDER BY (vec_id * 2654435761) % 4294967296, vec_id) AS cid,
         vec AS cvec
  FROM v
  ORDER BY (vec_id * 2654435761) % 4294967296, vec_id
  LIMIT {k}
)"""]
    for i in range(1, n_iter + 1):
        parts.append(f""",
a{i} AS ({assign('v', f'c{i - 1}')}
),
m{i} AS (
  SELECT cid, list(m ORDER BY dim) AS mvec FROM (
    SELECT a.cid, t.i AS dim, round(avg(a.vec[t.i]), 9) AS m
    FROM a{i} a CROSS JOIN generate_series(1, {dim}) t(i)
    GROUP BY a.cid, t.i
  ) GROUP BY cid
),
c{i} AS (
  SELECT c.cid, COALESCE(m.mvec, c.cvec) AS cvec
  FROM c{i - 1} c LEFT JOIN m{i} m ON m.cid = c.cid
)""")
    parts.append(f""",
afinal AS ({assign('v', f'c{n_iter}')}
)
SELECT cid AS cluster_id, COUNT(*) AS n_vectors
FROM afinal GROUP BY cid ORDER BY cid""")
    return "".join(parts)


KMEANS_CELLS_SQL = _kmeans_cells_sql()


def q_embedding_norm_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding norm profile — the ingest-time sanity scan a
    vector pipeline runs before indexing (catches unnormalized/degenerate
    batches). Norms via native array aggregate expressions."""
    emb = read_table(spark, sf_dir, "embeddings")
    n = similarity.norm(similarity.as_double(F.col("embedding")))
    return (
        emb.withColumn("_n", n)
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vectors"),
            F.round(F.avg("_n"), 4).alias("avg_norm"),
            F.round(F.min("_n"), 4).alias("min_norm"),
            F.round(F.max("_n"), 4).alias("max_norm"),
        )
    )


EMB_NORM_SQL = """
SELECT label, COUNT(*) AS n_vectors,
       ROUND(AVG(sqrt(list_dot_product(embedding, embedding))), 4) AS avg_norm,
       ROUND(MIN(sqrt(list_dot_product(embedding, embedding))), 4) AS min_norm,
       ROUND(MAX(sqrt(list_dot_product(embedding, embedding))), 4) AS max_norm
FROM embeddings GROUP BY label
"""


def q_token_doc_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary profile: top-50 tokens by document frequency (explode
    distinct tokens -> map-side-combinable count -> pinned top-k). The
    corpus-scale form of a tokenizer-training frequency pass; stopword
    pruning and df/idf both hang off this frame."""
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("token")
    )
    return (
        toks.groupBy("token")
        .agg(F.count("*").alias("doc_freq"))
        .orderBy(F.desc("doc_freq"), F.asc("token"))
        .limit(50)
    )


TOKEN_DF_SQL = """
SELECT token, COUNT(*) AS doc_freq
FROM (SELECT doc_id, UNNEST(list_distinct(string_split(text, ' '))) AS token
      FROM documents)
GROUP BY token ORDER BY doc_freq DESC, token LIMIT 50
"""


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF per document: explode terms, join document frequencies, score
    tf * ln(N/df), keep each document's single top term (pinned tie-break).
    The df side is vocabulary-sized and broadcast; the only fact-grain
    shuffle is the per-doc top-1 window. N comes in as a broadcast 1-row
    aggregate cross-joined into the scored frame — no eager count() job at
    plan-build time (round-1 ran an extra full job per invocation)."""
    docs = read_table(spark, sf_dir, "documents")
    n_docs = docs.agg(F.count("*").cast("double").alias("_n_docs"))
    terms = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    )
    tf = terms.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df_ = (
        terms.select("doc_id", "token")
        .distinct()
        .groupBy("token")
        .agg(F.count("*").alias("df"))
    )
    scored = (
        tf.join(F.broadcast(df_), "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "token",
            F.round(
                F.col("tf") * F.log(F.col("_n_docs") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("token"))
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select("doc_id", F.col("token").alias("top_term"), "tfidf")
    )


TFIDF_SQL = """
WITH terms AS (
    SELECT doc_id, UNNEST(string_split(text, ' ')) AS token FROM documents
),
tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
df AS (
    SELECT token, COUNT(*) AS df
    FROM (SELECT DISTINCT doc_id, token FROM terms) GROUP BY token
),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
    SELECT doc_id, token,
           ROUND(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
    FROM tf JOIN df USING (token) CROSS JOIN n
)
SELECT doc_id, token AS top_term, tfidf
FROM scored
QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token) = 1
"""


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.repetition_stats(read_table(spark, sf_dir, "documents"))


def q_bigram_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-self-trained bigram LM perplexity filter (see
    llmops.textstats.bigram_lm_scores) — the statistical quality signal a
    training-data pipeline computes when no external LM is available."""
    return textstats.bigram_lm_scores(read_table(spark, sf_dir, "documents"))


BIGRAM_LM_SQL = """
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
pos AS (
    SELECT doc_id, unnest(
        CASE WHEN len(t) >= 2
             THEN list_transform(range(1, len(t)),
                                 i -> array_to_string(list_slice(t, i, i + 1), ' '))
             ELSE [] END) AS bigram
    FROM toks
),
c2 AS (SELECT bigram, COUNT(*) AS c2 FROM pos GROUP BY 1),
c1 AS (
    SELECT string_split(bigram, ' ')[1] AS w1, SUM(c2) AS c1
    FROM c2 GROUP BY 1
),
v AS (
    SELECT COUNT(DISTINCT w) AS vsize
    FROM (SELECT unnest(t) AS w FROM toks)
),
scored AS (
    SELECT p.doc_id,
           ln((c2.c2 + 1.0) / (c1.c1 + v.vsize)) AS lp
    FROM pos p
    JOIN c2 USING (bigram)
    JOIN c1 ON string_split(p.bigram, ' ')[1] = c1.w1
    CROSS JOIN v
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       ROUND(AVG(lp), 4) AS avg_logprob,
       ROUND(EXP(-AVG(lp)), 4) AS ppl
FROM scored
GROUP BY 1
"""


REPETITION_SQL = """
WITH w AS (
    SELECT doc_id, UNNEST(string_split(text, ' ')) AS w FROM documents
),
c AS (SELECT doc_id, w, COUNT(*) AS cnt FROM w GROUP BY 1, 2),
s AS (
    SELECT doc_id, SUM(cnt) AS n_words, COUNT(*) AS n_distinct_words,
           MAX(cnt) AS top_cnt
    FROM c GROUP BY 1
),
t AS (
    SELECT doc_id, w AS top_word FROM c
    QUALIFY row_number() OVER (
        PARTITION BY doc_id ORDER BY cnt DESC, w ASC
    ) = 1
)
SELECT s.doc_id, CAST(n_words AS BIGINT) AS n_words,
       CAST(n_distinct_words AS BIGINT) AS n_distinct_words, t.top_word,
       ROUND(CAST(top_cnt AS DOUBLE) / n_words, 4) AS top_word_share,
       ROUND(CAST(n_distinct_words AS DOUBLE) / n_words, 4) AS unique_ratio
FROM s JOIN t USING (doc_id)
"""


def q_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.bigram_topk(read_table(spark, sf_dir, "documents"), k=20)


BIGRAM_SQL = """
WITH t AS (SELECT string_split(text, ' ') AS toks FROM documents),
b AS (
    SELECT list_extract(toks, i) || ' ' || list_extract(toks, i + 1) AS bigram
    FROM (SELECT toks, UNNEST(range(1, len(toks))) AS i FROM t)
)
SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n
FROM b GROUP BY 1 ORDER BY n DESC, bigram ASC LIMIT 20
"""


CLUSTER_THRESHOLD = 0.9


def _dup_cluster_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    pairs = dedup.jaccard_pairs(
        docs, threshold=CLUSTER_THRESHOLD, block_cols=("lang",), shingle_k=1
    )
    return dedup.connected_components(pairs)


def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS (not just pairs): exact-Jaccard edges at 0.9
    within-lang, then min-label connected components — the grouping step a
    production dedup pipeline needs because duplication is transitive. See
    dedup.connected_components for the per-round cost model."""
    cc = _dup_cluster_map(spark, sf_dir)
    return cc.select(F.col("node").alias("doc_id"), "cluster_id")


DUP_CLUSTERS_EDGES_SQL = f"""
WITH words AS (
    SELECT doc_id, lang, unnest(list_distinct(string_split(text, ' '))) AS w
    FROM documents
),
sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM words GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
    FROM words a JOIN words b
      ON a.w = b.w AND a.lang = b.lang AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
j AS (
    SELECT doc_a, doc_b
    FROM inter
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE ROUND(CAST(n_common AS DOUBLE)
                / (sa.set_size + sb.set_size - n_common), 4)
          >= {CLUSTER_THRESHOLD}
),
edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM j
    UNION ALL
    SELECT doc_b, doc_a FROM j
)
"""

DUP_CLUSTERS_SQL = (
    DUP_CLUSTERS_EDGES_SQL
    + """,
reach(node, comp) AS (
    SELECT src, src FROM edges
    UNION
    SELECT e.src, r.comp FROM edges e JOIN reach r ON r.node = e.dst
)
SELECT node AS doc_id, MIN(comp) AS cluster_id FROM reach GROUP BY node
"""
).replace("WITH words", "WITH RECURSIVE words", 1)


def q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation deliverable: one representative (min doc_id) per dup
    cluster plus every unclustered doc. A broadcast anti-join of the corpus
    against the (tiny, cluster-sized) non-representative set — the corpus
    is never shuffled, so the op is a single scan at 100 TB."""
    docs = read_table(spark, sf_dir, "documents")
    cc = _dup_cluster_map(spark, sf_dir)
    drop = cc.filter(F.col("node") != F.col("cluster_id")).select(
        F.col("node").alias("doc_id")
    )
    return (
        docs.join(F.broadcast(drop), "doc_id", "left_anti")
        .select("doc_id", "lang", "source", "n_chars")
    )


DEDUP_SURVIVORS_SQL = (
    DUP_CLUSTERS_EDGES_SQL
    + """,
reach(node, comp) AS (
    SELECT src, src FROM edges
    UNION
    SELECT e.src, r.comp FROM edges e JOIN reach r ON r.node = e.dst
),
cc AS (SELECT node, MIN(comp) AS cluster_id FROM reach GROUP BY node)
SELECT doc_id, lang, source, n_chars
FROM documents
WHERE doc_id NOT IN (SELECT node FROM cc WHERE node <> cluster_id)
"""
).replace("WITH words", "WITH RECURSIVE words", 1)


def q_part_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ops.graph.triangle_stats over the co-order part graph (parts
    sharing an order are connected — the co-occurrence structure
    recommendation/affinity analyses start from). Degree orientation
    caps the wedge join's fan-out at ~sqrt(2m) per node regardless of
    hub skew; the DuckDB twin replays every step (orientation keys,
    wedge join, closing-edge semi-join) so count AND coefficient are
    exact-checked."""
    from wsspark.ops import graph

    li = read_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    a, b = items.alias("a"), items.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
        .distinct()
    )
    return graph.triangle_stats(edges)


TRIANGLE_SQL = """
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
und AS (
    SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
    FROM items a JOIN items b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
deg AS (
    SELECT node, COUNT(*) AS deg
    FROM (SELECT a AS node FROM und UNION ALL SELECT b AS node FROM und)
    GROUP BY node
),
keyed AS (SELECT node, deg * 2147483648 + node AS k FROM deg),
ek AS (
    SELECT CASE WHEN x.k < y.k THEN x.k ELSE y.k END AS u,
           CASE WHEN x.k < y.k THEN y.k ELSE x.k END AS v
    FROM und JOIN keyed x ON und.a = x.node JOIN keyed y ON und.b = y.node
),
wed AS (
    SELECT e1.v AS u, e2.v AS v
    FROM ek e1 JOIN ek e2 ON e1.u = e2.u AND e1.v < e2.v
),
tri AS (
    SELECT COUNT(*) AS t FROM wed
    WHERE EXISTS (SELECT 1 FROM ek WHERE ek.u = wed.u AND ek.v = wed.v)
),
agg AS (
    SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
           (SELECT COUNT(*) FROM und) AS n_edges,
           CAST((SELECT SUM(deg * (deg - 1) / 2) FROM deg) AS BIGINT)
               AS n_wedges,
           (SELECT t FROM tri) AS n_triangles
)
SELECT n_nodes, n_edges, n_wedges, n_triangles,
       ROUND(CASE WHEN n_wedges > 0
                  THEN 3.0 * n_triangles / n_wedges ELSE 0.0 END,
             6) AS clustering_coefficient
FROM agg
"""


def q_exact_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group order statistics WITHOUT a global sort:
    ops.exactkth.exact_group_quantiles radix-bisects the sign-flipped
    cents key 16 bits per pass (4 histogram passes + 1 count pass, all
    map-side combinable; the fact is never shuffled or sorted). The twin
    is the definitionally-sorted replay (row_number = ceil(f*n)), so the
    hash gate proves the bisection lands on the exact type-1 quantile
    VALUE for every (returnflag, fraction) cell."""
    from wsspark.ops.exactkth import exact_group_quantiles

    li = read_table(spark, sf_dir, "lineitem")
    return exact_group_quantiles(
        li,
        "l_extendedprice",
        fractions=(0.25, 0.5, 0.75, 0.99),
        group_cols=("l_returnflag",),
    )


EXACT_QUANTILES_SQL = """
WITH ranked AS (
    SELECT l_returnflag, l_extendedprice AS v,
           ROW_NUMBER() OVER (PARTITION BY l_returnflag
                              ORDER BY l_extendedprice) AS rn,
           COUNT(*) OVER (PARTITION BY l_returnflag) AS n
    FROM lineitem
),
fr AS (SELECT CAST(UNNEST([0.25, 0.5, 0.75, 0.99]) AS DOUBLE) AS fraction)
SELECT l_returnflag, fraction, v AS value
FROM ranked CROSS JOIN fr
WHERE rn = GREATEST(1, CEIL(fraction * n))
"""


def q_robust_event_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier fence per event type with EXACT median/MAD
    (ops.exactkth.robust_outlier_stats): two radix-bisection medians in
    the integer-cents domain + one count pass — 11 sort-free fact scans.
    The twin replays both medians definitionally (row_number =
    ceil(n/2)), so the hash gate proves median, MAD, and the fence
    verdict for every row, to the cent."""
    from wsspark.ops.exactkth import robust_outlier_stats

    ev = read_table(spark, sf_dir, "events")
    return robust_outlier_stats(ev, "value", ("event_type",), z=3.0)


ROBUST_OUTLIERS_SQL = """
WITH c AS (
    SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS cents
    FROM events WHERE value IS NOT NULL
),
m AS (
    SELECT event_type, cents AS med_c FROM (
        SELECT event_type, cents,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY cents) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM c) WHERE rn = CEIL(0.5 * n)
),
d AS (
    SELECT c.event_type, ABS(c.cents - m.med_c) AS dev, m.med_c
    FROM c JOIN m USING (event_type)
),
md AS (
    SELECT event_type, dev AS mad_c FROM (
        SELECT event_type, dev,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY dev) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM d) WHERE rn = CEIL(0.5 * n)
)
SELECT d.event_type,
       ROUND(MIN(d.med_c) / 100.0, 6) AS median,
       ROUND(MIN(md.mad_c) / 100.0, 6) AS mad,
       COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN d.dev > 3.0 * md.mad_c THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers,
       ROUND(CAST(SUM(CASE WHEN d.dev > 3.0 * md.mad_c THEN 1 ELSE 0 END)
                  AS DOUBLE) / COUNT(*), 6) AS outlier_pct
FROM d JOIN md USING (event_type)
GROUP BY d.event_type
"""


def q_brand_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand monthly revenue trend: closed-form grouped OLS
    (ops.regress.group_ols) over cents-exact monthly sums — every brand
    fitted in ONE map-side-combinable aggregation (no driver loop, no
    per-group UDF). The five sufficient statistics are exact longs, so
    the DuckDB twin recomputes identical integers and the slope/
    intercept doubles match bit-for-bit."""
    from wsspark.ops.regress import group_ols

    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    monthly = (
        li.join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            li["l_partkey"] == F.col("p_partkey"),
        )
        .select(
            "p_brand",
            (
                (F.year("l_shipdate") - 1992) * 12 + F.month("l_shipdate") - 1
            ).alias("month_x"),
            ex.cents(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "_rc"
            ),
        )
        .groupBy("p_brand", "month_x")
        .agg(F.sum("_rc").alias("y_cents"))
    )
    return group_ols(monthly, "month_x", "y_cents", ("p_brand",))


BRAND_TREND_SQL = """
WITH m AS (
    SELECT p_brand,
           (EXTRACT(YEAR FROM l_shipdate) - 1992) * 12
               + EXTRACT(MONTH FROM l_shipdate) - 1 AS month_x,
           CAST(SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)) * 100, 0)
                         AS BIGINT)) AS BIGINT) AS y_cents
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY 1, 2
),
s AS (
    SELECT p_brand, COUNT(*) AS n_points,
           CAST(SUM(month_x) AS BIGINT) AS sx,
           CAST(SUM(y_cents) AS BIGINT) AS sy,
           CAST(SUM(month_x * y_cents) AS BIGINT) AS sxy,
           CAST(SUM(month_x * month_x) AS BIGINT) AS sxx
    FROM m GROUP BY 1
    HAVING COUNT(*) >= 3
)
SELECT p_brand, n_points,
       ROUND(CAST(n_points * sxy - sx * sy AS DOUBLE)
             / CAST(n_points * sxx - sx * sx AS DOUBLE), 6) AS slope_cents,
       ROUND((CAST(sy AS DOUBLE)
              - (CAST(n_points * sxy - sx * sy AS DOUBLE)
                 / CAST(n_points * sxx - sx * sx AS DOUBLE))
                * CAST(sx AS DOUBLE))
             / CAST(n_points AS DOUBLE), 6) AS intercept_cents,
       ROUND(CAST(sy AS DOUBLE) / CAST(n_points AS DOUBLE), 6) AS mean_y_cents
FROM s
"""


def q_frequent_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket frequent pairs over orders (ops.basket
    .frequent_pairs, min_support=3): Apriori L1 pruning shrinks the
    pair space losslessly before the basket self-join; support and
    lift are exact integer counts + one deterministic division, so
    the DuckDB replay hash-matches bit for bit."""
    from wsspark.ops.basket import frequent_pairs

    li = read_table(spark, sf_dir, "lineitem")
    return frequent_pairs(li, "l_orderkey", "l_partkey", min_support=3)


FREQUENT_PAIRS_SQL = """
WITH items AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem),
nb AS (SELECT COUNT(DISTINCT basket) AS n FROM items),
l1 AS (
    SELECT item, COUNT(*) AS supp FROM items GROUP BY item HAVING COUNT(*) >= 3
),
freq AS (SELECT i.* FROM items i JOIN l1 ON i.item = l1.item),
pairs AS (
    SELECT a.item AS item_a, b.item AS item_b, COUNT(*) AS pair_support
    FROM freq a JOIN freq b ON a.basket = b.basket AND a.item < b.item
    GROUP BY 1, 2 HAVING COUNT(*) >= 3
)
SELECT item_a, item_b, pair_support,
       sa.supp AS support_a, sb.supp AS support_b,
       ROUND(CAST(pair_support * nb.n AS DOUBLE)
             / CAST(sa.supp * sb.supp AS DOUBLE), 6) AS lift
FROM pairs
JOIN l1 sa ON item_a = sa.item
JOIN l1 sb ON item_b = sb.item
CROSS JOIN nb
"""


def q_fk_integrity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit of the lineitem fact in ONE scan
    (quality.referential_integrity_report): all dimension key sets
    broadcast onto one plan, orphan/null counters in a single
    aggregate. Three real FKs (green) plus a deliberate domain probe
    (suppkey vs nationkey) proving the orphan counter counts."""
    from wsspark.quality import referential_integrity_report

    li = read_table(spark, sf_dir, "lineitem")
    return referential_integrity_report(
        li,
        [
            ("lineitem.orderkey->orders", "l_orderkey",
             read_table(spark, sf_dir, "orders"), "o_orderkey"),
            ("lineitem.partkey->part", "l_partkey",
             read_table(spark, sf_dir, "part"), "p_partkey"),
            ("lineitem.suppkey->supplier", "l_suppkey",
             read_table(spark, sf_dir, "supplier"), "s_suppkey"),
            ("lineitem.suppkey->nation (domain probe)", "l_suppkey",
             read_table(spark, sf_dir, "nation"), "n_nationkey"),
        ],
    )


def _fk_leg(name: str, fk: str, dim_table: str, dim_key: str) -> str:
    return f"""
    SELECT '{name}' AS fk_name, COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN l.{fk} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_null_fk,
           CAST(SUM(CASE WHEN l.{fk} IS NOT NULL AND d.{dim_key} IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
    FROM lineitem l
    LEFT JOIN (SELECT DISTINCT {dim_key} FROM {dim_table}) d
      ON l.{fk} = d.{dim_key}"""


FK_INTEGRITY_SQL = f"""
WITH fk AS (
{_fk_leg("lineitem.orderkey->orders", "l_orderkey", "orders", "o_orderkey")}
UNION ALL
{_fk_leg("lineitem.partkey->part", "l_partkey", "part", "p_partkey")}
UNION ALL
{_fk_leg("lineitem.suppkey->supplier", "l_suppkey", "supplier", "s_suppkey")}
UNION ALL
{_fk_leg("lineitem.suppkey->nation (domain probe)", "l_suppkey", "nation", "n_nationkey")}
)
SELECT fk_name, n_rows, n_null_fk, n_orphans,
       ROUND(CAST(n_orphans AS DOUBLE) / n_rows, 6) AS orphan_pct,
       n_orphans = 0 AS passed
FROM fk
"""


_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def q_price_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson matrix of the four lineitem measures per
    returnflag (ops.regress.group_corr): every pair's sums ride ONE
    map-side-combinable aggregation as exact decimal integers, so the
    DuckDB twin (HUGEINT sums, mirrored double ops) hash-matches all
    18 coefficients."""
    from wsspark.ops.regress import group_corr

    li = read_table(spark, sf_dir, "lineitem")
    return group_corr(li, {c: 100 for c in _CORR_COLS}, ("l_returnflag",))


def _corr_sql() -> str:
    names = _CORR_COLS
    sums, prods = [], []
    for i, c in enumerate(names):
        sums.append(f"SUM(CAST(ROUND({c} * 100) AS BIGINT)) AS s{i}")
        for j in range(i, len(names)):
            prods.append(
                f"SUM(CAST(ROUND({c} * 100) AS BIGINT) * "
                f"CAST(ROUND({names[j]} * 100) AS BIGINT)) AS p{i}_{j}"
            )
    legs = []
    for i in range(len(names)):
        for j in range(i + 1, len(names)):
            num = (
                f"(CAST(n AS DOUBLE) * CAST(p{i}_{j} AS DOUBLE)"
                f" - CAST(s{i} AS DOUBLE) * CAST(s{j} AS DOUBLE))"
            )
            den = (
                f"SQRT((CAST(n AS DOUBLE) * CAST(p{i}_{i} AS DOUBLE)"
                f" - CAST(s{i} AS DOUBLE) * CAST(s{i} AS DOUBLE))"
                f" * (CAST(n AS DOUBLE) * CAST(p{j}_{j} AS DOUBLE)"
                f" - CAST(s{j} AS DOUBLE) * CAST(s{j} AS DOUBLE)))"
            )
            legs.append(
                f"SELECT l_returnflag, '{names[i]}' AS col_x, "
                f"'{names[j]}' AS col_y, n AS n_rows, "
                f"ROUND(CASE WHEN {den} <> 0 THEN {num} / {den} END, 6) "
                f"AS corr FROM sums"
            )
    return (
        "WITH sums AS (SELECT l_returnflag, COUNT(*) AS n, "
        + ", ".join(sums + prods)
        + " FROM lineitem GROUP BY 1)\n"
        + "\nUNION ALL\n".join(legs)
    )


PRICE_CORR_SQL = _corr_sql()


SSSP_MAX_ITER = 8


def q_warehouse_hop_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fewest transfer legs from the lowest-id warehouse to every other
    (ops.graph.shortest_paths over the transfer route graph): the
    operational reachability question — how many hops does stock need
    to reach warehouse X. Bellman-Ford relaxation loop, converge-or-
    raise; the twin unrolls the same rounds (relaxation past
    convergence is idempotent), so the hash pins the whole loop."""
    from wsspark import adapters as ad
    from wsspark.ops.graph import shortest_paths

    li = read_table(spark, sf_dir, "lineitem")
    t = ad.transfer_movements_from_lineitem(li)
    out = t.filter(F.col("quantity") < 0).select(
        "reference_id", "pair_id", F.col("warehouse_id").alias("src")
    )
    inn = t.filter(F.col("quantity") > 0).select(
        "reference_id", "pair_id", F.col("warehouse_id").alias("dst")
    )
    edges = out.join(inn, ["reference_id", "pair_id"]).select("src", "dst").distinct()
    source = edges.select(
        F.least(F.min("src"), F.min("dst")).alias("m")
    ).collect()[0]["m"]
    d = shortest_paths(edges, source, max_iter=SSSP_MAX_ITER)
    return d.select(F.col("node").alias("warehouse_id"), F.col("dist").alias("hops"))


def _sssp_sql(n_iter: int = SSSP_MAX_ITER) -> str:
    from wsspark.adapters import TRANSFER_MOVEMENTS_SQL

    iters = []
    for k in range(1, n_iter + 1):
        prev = f"d{k - 1}"
        iters.append(f"""
d{k} AS MATERIALIZED (
    SELECT p.node,
           CASE WHEN p.dist IS NULL THEN c.best
                WHEN c.best IS NULL THEN p.dist
                WHEN c.best < p.dist THEN c.best
                ELSE p.dist END AS dist
    FROM {prev} p
    LEFT JOIN (
        SELECT e.dst AS node, MIN(r.dist + 1) AS best
        FROM edges e JOIN {prev} r ON r.node = e.src AND r.dist IS NOT NULL
        GROUP BY e.dst
    ) c ON c.node = p.node
)""")
    return f"""
WITH legs AS ({TRANSFER_MOVEMENTS_SQL}),
edges AS (
    SELECT DISTINCT o.warehouse_id AS src, i.warehouse_id AS dst
    FROM legs o
    JOIN legs i ON o.reference_id = i.reference_id AND o.pair_id = i.pair_id
    WHERE o.quantity < 0 AND i.quantity > 0
),
nodes AS (
    SELECT DISTINCT src AS node FROM edges
    UNION SELECT DISTINCT dst FROM edges
),
d0 AS (
    SELECT node,
           CASE WHEN node = (SELECT MIN(node) FROM nodes)
                THEN CAST(0 AS BIGINT) END AS dist
    FROM nodes
),{",".join(iters)}
SELECT node AS warehouse_id, dist AS hops FROM d{n_iter}
"""


SSSP_SQL = _sssp_sql()


WSAMPLE_K = 100


def q_weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k weighted sampling without replacement (A-ES) over the
    corpus, quality-weighted by a char-count bucket (1..10). Integer-
    exact: the A-ES key u^(1/w) is realized as max of w portable 60-bit
    hash draws (same distribution), so the DuckDB twin recomputes the
    identical keys and the top-k SET — membership, keys, and ranks all
    hash-gated with zero float-boundary risk."""
    docs = read_table(spark, sf_dir, "documents").withColumn(
        "weight", (F.lit(1) + F.least(F.lit(9), F.floor(F.col("n_chars") / 100))).cast("long")
    )
    sampled = corpus.weighted_sample_topk(docs, k=WSAMPLE_K, weight_col="weight")
    return sampled.select("doc_id", "lang", "weight", "sample_key", "sample_rank")


WSAMPLE_SQL = f"""
WITH w AS (
    SELECT doc_id, lang, CAST(1 + LEAST(9, n_chars // 100) AS BIGINT) AS weight
    FROM documents
),
draws AS (
    SELECT doc_id, UNNEST(range(1, weight + 1)) AS j FROM w
),
keys AS (
    SELECT doc_id,
           MAX(CAST('0x' || substr(md5(doc_id || '#' || j), 1, 15) AS BIGINT))
               AS sample_key
    FROM draws GROUP BY doc_id
),
topk AS (
    SELECT doc_id, sample_key,
           ROW_NUMBER() OVER (ORDER BY sample_key DESC, doc_id) AS sample_rank
    FROM keys ORDER BY sample_key DESC, doc_id LIMIT {WSAMPLE_K}
)
SELECT w.doc_id, w.lang, w.weight, t.sample_key, t.sample_rank
FROM topk t JOIN w ON w.doc_id = t.doc_id
"""


KMV_K = 64


def q_kmv_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """llmops.kmv.kmv_sketch: per-language distinct-token estimation via
    the k-minimum-values sketch — the DETERMINISTIC sketch-family member
    whose driver hash check is EXACT (the bottom-k of portable md5
    hashes is a pure function of the data; DuckDB recomputes the
    identical k-th hash and estimate). HLL stays the throughput path
    (approx_distinct_accuracy certifies it); KMV is the falsifiable
    one, and its merge is lossless (streaming state == batch sketch,
    pinned in tests/test_kmv.py)."""
    from wsspark.llmops import kmv

    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        "lang", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    return kmv.kmv_sketch(toks, ["lang"], "tok", k=KMV_K).orderBy("lang")


KMV_SQL = f"""
WITH toks AS (
    SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents
),
hashed AS (
    SELECT DISTINCT lang,
           ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
    FROM toks WHERE tok IS NOT NULL
),
bot AS (
    SELECT lang, h,
           ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h) AS r
    FROM hashed
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_seen,
       MAX(h) AS kth_hash,
       ROUND(CASE WHEN COUNT(*) < {KMV_K} THEN CAST(COUNT(*) AS DOUBLE)
                  ELSE {KMV_K - 1}.0 / (MAX(h) / 1152921504606846976.0)
             END, 4) AS est_distinct
FROM bot WHERE r <= {KMV_K}
GROUP BY lang
ORDER BY lang
"""


LOOKUP_ORDERKEYS = (1, 3, 100)

def q_snapstore_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The table format under the driver hash gate: commit lineitem into
    a fresh hash-clustered snapstore with manifest Blooms on l_orderkey,
    then answer an IN-list point lookup THROUGH the manifest planner
    (``snap_read_where_in`` — bloom-pruned file set + exact residual).
    Rows must hash-match the plain SQL filter over the raw parquet, so a
    bloom false NEGATIVE (a dropped file that held a row) or any
    commit/read corruption goes red — driver-grade evidence for the
    skipping soundness contract beyond the pytest invariants."""
    from wsspark import snapstore as ss

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_quantity"
    )
    with scratch_dir("snaplookup-") as root:
        ss.snap_commit(
            li.repartition(8, "l_orderkey"), root, bloom_cols=["l_orderkey"]
        )
        out = ss.snap_read_where_in(
            spark, root, "l_orderkey", list(LOOKUP_ORDERKEYS)
        )
        # materialize before the store is deleted (capped: see above)
        return _pin_result(out)


SNAPSTORE_LOOKUP_SQL = f"""
SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
FROM lineitem
WHERE l_orderkey IN {LOOKUP_ORDERKEYS}
"""


def q_snapstore_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level MERGE under the driver hash gate: commit a lineitem
    projection as the base snapshot, then ``snap_merge`` a delta that
    UPDATES every linenumber-4 row (doubled quantity) and INSERTS
    linenumbers 5-7 — copy-on-write with pruned file rewrites. The twin
    computes the same upsert relationally (source ∪ base-anti-source),
    so any merge defect — lost update, duplicated row, dropped
    untouched row, wrong clause routing — goes red on row hashes."""
    from wsspark import snapstore as ss

    cols = ["l_orderkey", "l_linenumber", "l_partkey", "l_quantity"]
    li = read_table(spark, sf_dir, "lineitem").select(*cols)
    base = li.filter(F.col("l_linenumber") <= 4)
    # the synthetic lineitem is NOT key-unique on (orderkey, linenumber),
    # and snap_merge rejects duplicate source keys — collapse the delta
    # with order-independent MINs (twin mirrors)
    delta = (
        li.filter(F.col("l_linenumber") >= 4)
        .groupBy("l_orderkey", "l_linenumber")
        .agg(
            F.min("l_partkey").alias("l_partkey"),
            (F.min("l_quantity") * 2).alias("l_quantity"),
        )
    )
    with scratch_dir("snapmerge-") as root:
        ss.snap_commit(base.repartition(8, "l_orderkey"), root)
        ss.snap_merge(
            spark, root, delta, on=["l_orderkey", "l_linenumber"]
        )
        out = ss.snap_read(spark, root)
        return _pin_result(out)


SNAPSTORE_MERGE_SQL = """
WITH base AS (
    SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
    FROM lineitem WHERE l_linenumber <= 4
),
src AS (
    SELECT l_orderkey, l_linenumber, MIN(l_partkey) AS l_partkey,
           MIN(l_quantity) * 2 AS l_quantity
    FROM lineitem WHERE l_linenumber >= 4
    GROUP BY 1, 2
)
SELECT * FROM src
UNION ALL
SELECT b.* FROM base b
WHERE NOT EXISTS (
    SELECT 1 FROM src s
    WHERE s.l_orderkey = b.l_orderkey AND s.l_linenumber = b.l_linenumber
)
"""


def q_snapstore_cdc_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC between versions under the driver hash gate: commit a lineitem
    projection as the base snapshot (v0), append two deltas (v1, v2),
    then read the change span (0, 2] with ``snap_read_changes`` — the
    manifest file-list difference, no watermark column, no resident-data
    scan. The twin is the deltas' plain relational union, so a CDC
    defect — leaked base rows, a dropped delta file, rows attributed to
    the wrong version — goes red on row hashes. Driver-grade evidence
    for the feed that ``snapstore_mv_refresh`` (ops/incremental.py)
    consumes: an unhashed CDC defect would corrupt MVs downstream.

    Reference scope: the reference reloads the full warehouse each run
    (etl/config/config.yaml --load_type full|incremental via a timestamp
    watermark); version-diff CDC is what that becomes when the store
    itself records lineage."""
    from wsspark import snapstore as ss

    cols = ["l_orderkey", "l_linenumber", "l_partkey", "l_quantity"]
    li = read_table(spark, sf_dir, "lineitem").select(*cols)
    with scratch_dir("snapcdc-") as root:
        ss.snap_commit(
            li.filter(F.col("l_linenumber") <= 2).repartition(4, "l_orderkey"),
            root,
        )
        ss.snap_commit(
            li.filter(F.col("l_linenumber").isin(3, 4)).repartition(
                4, "l_orderkey"
            ),
            root,
            mode="append",
        )
        ss.snap_commit(
            li.filter(F.col("l_linenumber") >= 5).repartition(
                4, "l_orderkey"
            ),
            root,
            mode="append",
        )
        out = ss.snap_read_changes(spark, root, since=0, until=2)
        return _pin_result(out)


SNAPSTORE_CDC_SQL = """
SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
FROM lineitem
WHERE l_linenumber >= 3
"""


def q_snapstore_optimize_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE ... ZORDER BY under the driver hash gate: commit a
    lineitem projection in hash-random layout, ``snap_optimize`` it onto
    the (l_partkey, l_quantity) Morton curve, then answer a range read
    THROUGH the manifest planner (``snap_read_between`` — stats-pruned
    file set + exact residual). Rows must hash-match the plain SQL filter
    over the raw parquet, so a clustered-rewrite corruption (lost/dup
    rows) or a stats false-drop on the rewritten files goes red. The
    pruning EFFECT (kept < total on both dimensions) is pinned in
    tests/test_snapstore.py; this query pins the SOUNDNESS."""
    from wsspark import snapstore as ss

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_quantity"
    )
    with scratch_dir("snapopt-") as root:
        ss.snap_commit(li.repartition(8), root, stats_cols=["l_partkey"])
        ss.snap_optimize(
            spark, root, zorder_by=("l_partkey", "l_quantity"), n_files=8
        )
        out = ss.snap_read_between(spark, root, "l_partkey", 100, 300)
        return _pin_result(out)


SNAPSTORE_OPTIMIZE_SQL = """
SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
FROM lineitem
WHERE l_partkey BETWEEN 100 AND 300
"""


def q_snapstore_zorder_nd_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K=3 OPTIMIZE ... ZORDER BY under the driver hash gate: commit a
    lineitem projection hash-random, ``snap_optimize`` it onto the
    (l_partkey, l_suppkey, l_quantity) Morton curve
    (``layout.zorder_key_nd`` — the general-K interleave, no magic masks
    past K=2), then answer a CONJUNCTIVE 3-dimension range read through
    the manifest planner (``snap_read_between_nd`` — per-column kept-set
    intersection + exact residual). The hash twin is the plain 3-range
    SQL filter over the raw parquet, so a K-D rewrite corruption
    (lost/dup rows) or a stats false-drop on ANY of the three dimensions
    goes red independent of pruning-fraction seed variance; the pruning
    EFFECT on all three dimensions is pinned in tests/test_snapstore.py."""
    from wsspark import snapstore as ss

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity"
    )
    with scratch_dir("snapoptnd-") as root:
        ss.snap_commit(li.repartition(8), root, stats_cols=["l_partkey"])
        ss.snap_optimize(
            spark,
            root,
            zorder_by=("l_partkey", "l_suppkey", "l_quantity"),
            n_files=16,
        )
        out = ss.snap_read_between_nd(
            spark,
            root,
            {
                "l_partkey": (100, 600),
                "l_suppkey": (5, 80),
                "l_quantity": (10, 40),
            },
        )
        return _pin_result(out)


def q_snapstore_dv_delete_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read DELETE under the driver hash gate: commit a lineitem
    projection, ``snap_delete_dv`` two overlapping predicate slices (the
    second re-matches only live rows — double-recording would corrupt
    COUNT(*)), then read CURRENT back through the DV anti-join. The twin
    is the plain complement filter over raw parquet, so a deletion-vector
    false positive (row wrongly deleted), false negative (row
    resurrected), or overlap double-count goes red. The no-rewrite
    property and footer-exact count are pinned in tests/test_snapstore.py."""
    from wsspark import snapstore as ss

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_quantity"
    )
    with scratch_dir("snapdv-") as root:
        ss.snap_commit(li.repartition(8), root)
        ss.snap_delete_dv(spark, root, "l_quantity <= 5")
        ss.snap_delete_dv(spark, root, "l_quantity <= 10 AND l_partkey < 1000")
        out = ss.snap_read(spark, root)
        return _pin_result(out)


SNAPSTORE_DV_SQL = """
SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
FROM lineitem
WHERE NOT (l_quantity <= 5)
  AND NOT (l_quantity <= 10 AND l_partkey < 1000)
"""


def q_snapstore_wap_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-Audit-Publish under the driver hash gate: commit the
    pre-1997 lineitem half, STAGE the rest, audit the staged frame (row
    count + quantity bounds — a real gate, evaluated on the staged read
    path), publish, and read CURRENT. The twin is the full projection,
    so a WAP defect on either side — staged rows leaking before publish
    (the audit would see them twice), lost/duplicated rows at publish,
    schema drift — breaks the hash. The abort path and the publish-time
    gates are pinned in tests/test_snapstore.py."""
    from wsspark import snapstore as ss

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_quantity", "l_shipdate"
    )
    split = F.lit(DRIFT_SPLIT).cast("timestamp")
    with scratch_dir("snapwap-") as root:
        ss.snap_commit(li.filter(F.col("l_shipdate") < split).repartition(4), root)
        sid = ss.snap_stage(
            li.filter(F.col("l_shipdate") >= split).repartition(4), root
        )
        staged = ss.snap_read_staged(spark, root, sid)
        audit = staged.agg(
            F.count("*").alias("n"),
            F.min("l_quantity").alias("qmin"),
        ).collect()[0]
        if audit["n"] == 0 or audit["qmin"] is None or audit["qmin"] < 0:
            ss.snap_abort_staged(root, sid)  # pragma: no cover - gate holds
        else:
            ss.snap_publish_staged(root, sid, mode="append")
        out = ss.snap_read(spark, root).drop("l_shipdate")
        return _pin_result(out)


SNAPSTORE_WAP_SQL = """
SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
FROM lineitem
"""


def q_snapstore_pruned_dml_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r14 metadata plane under a wall-clock + hash gate: a
    ~600-file range-clustered snapstore (ceil(n/600) rows per file via a
    task-side combined write, r17) — past ``ss.DETAIL_INLINE_MAX``, so
    its per-file metadata lives in the parquet detail sidecar while the
    JSON head keeps the path list — then the full lifecycle the plane
    exists for:

    - a multipart append (one O(new-files) part, the parent's parts
      shared by name);
    - a NARROW COW update whose discovery plans O(selectivity) files
      via the vectorized typed prune index;
    - a merge-on-read DV delete (zero metadata I/O — parts shared);
    - a PRUNED range read planning ~1% of the files from the sidecar.

    The DuckDB twin replays append/update/delete relationally, so a
    lossy part chain, a DV resurrection, or a false prune drop all go
    hash-red; the bench row (q33) makes a metadata-plane slowdown a
    tracked wall-clock regression instead of a tool-only number."""
    import math
    from wsspark import snapstore as ss

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag"
    )
    with scratch_dir("snapbig-") as root:
        # Task-side combined write (r17, guide §6 small-files): the
        # same ~600-file range-clustered layout, but written from
        # defaultParallelism range partitions with a per-file row
        # budget (ceil(n/600)) instead of one task+commit per file —
        # each task's locally-sorted output splits into contiguous
        # narrow-range files, so per-file min/max stats stay exactly
        # as tight for the prune index while the sink stops paying
        # 600 task launches/commits (measured 2.62 -> 1.30 s at
        # sf0.1). Scale-adaptive by construction: file count tracks
        # the designed 600-file plane at any sf, task count tracks
        # the cluster.
        n_rows = li.count()
        ss.snap_commit(
            li.repartitionByRange(
                spark.sparkContext.defaultParallelism, "l_orderkey"
            ).sortWithinPartitions("l_orderkey"),
            root,
            stats_cols=["l_orderkey"],
            write_options={
                "maxRecordsPerFile": str(max(1, math.ceil(n_rows / 600)))
            },
        )
        dup = li.filter(F.col("l_orderkey") <= 16).withColumn(
            "l_quantity", F.lit(5.0)
        )
        ss.snap_commit(
            dup.repartition(1), root, stats_cols=["l_orderkey"]
        )
        ss.snap_update_where(
            spark, root, "l_orderkey <= 32", {"l_quantity": "999.0"}
        )
        ss.snap_delete_dv(
            spark, root, "l_orderkey > 32 AND l_orderkey <= 64"
        )
        out = (
            ss.snap_read_between(spark, root, "l_orderkey", 1, 6400)
            .groupBy("l_returnflag")
            .agg(
                F.count("*").alias("n_rows"),
                F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
                F.sum(
                    F.round(F.col("l_extendedprice") * 100).cast("long")
                ).alias("revenue_cents"),
            )
        )
        return _pin_result(out)


SNAPSTORE_PRUNED_DML_SQL = """
WITH base AS (
    SELECT l_orderkey, l_quantity, l_extendedprice, l_returnflag
    FROM lineitem
    UNION ALL
    SELECT l_orderkey, 5.0 AS l_quantity, l_extendedprice, l_returnflag
    FROM lineitem WHERE l_orderkey <= 16
), post AS (
    SELECT l_returnflag, l_orderkey,
           CASE WHEN l_orderkey <= 32 THEN 999.0 ELSE l_quantity END AS q,
           l_extendedprice
    FROM base
    WHERE NOT (l_orderkey > 32 AND l_orderkey <= 64)
)
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(q AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS revenue_cents
FROM post
WHERE l_orderkey BETWEEN 1 AND 6400
GROUP BY l_returnflag
"""


def q_snapstore_restore_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE under the driver hash gate: commit the full projection,
    dv-delete a slice (so the restored state carries deletion vectors),
    OVERWRITE with garbage, restore to the dv-carrying version, read
    CURRENT. The twin is the delete-complement filter — a restore that
    loses the dv state, resurrects the overwrite, or points at the wrong
    manifest content goes red."""
    from wsspark import snapstore as ss

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_quantity"
    )
    with scratch_dir("snaprestore-") as root:
        ss.snap_commit(li.repartition(4), root)                    # v0
        ss.snap_delete_dv(spark, root, "l_partkey < 300")          # v1
        ss.snap_commit(li.limit(7), root, mode="overwrite")        # v2
        ss.snap_restore(root, 1)                                   # v3 == v1
        out = ss.snap_read(spark, root)
        return _pin_result(out)


SNAPSTORE_RESTORE_SQL = """
SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
FROM lineitem
WHERE NOT (l_partkey < 300)
"""


def q_snapstore_update_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write UPDATE ... SET under the driver hash gate, stacked
    on a deletion vector: dv-delete a slice, then update a partially
    OVERLAPPING slice with an expression over the pre-update row
    (l_quantity doubled). The twin replays delete-then-update relational
    semantics with a complement filter + CASE, so a resurrection (the
    update rewriting a dv-deleted row back to life), a missed/extra
    update, or an expression evaluated against post-update state goes
    red."""
    from wsspark import snapstore as ss

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_quantity"
    )
    with scratch_dir("snapupd-") as root:
        ss.snap_commit(li.repartition(8), root)
        ss.snap_delete_dv(spark, root, "l_partkey < 200")
        ss.snap_update_where(
            spark,
            root,
            "l_partkey < 500",
            {"l_quantity": "l_quantity * 2"},
        )
        out = ss.snap_read(spark, root)
        return _pin_result(out)


SNAPSTORE_UPDATE_SQL = """
SELECT l_orderkey, l_linenumber, l_partkey,
       CASE WHEN l_partkey < 500 THEN l_quantity * 2
            ELSE l_quantity END AS l_quantity
FROM lineitem
WHERE NOT (l_partkey < 200)
"""


def q_snapstore_cdf_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CHANGE DATA FEED under the driver hash gate: enable CDF, then
    append / COW-update / delete against a deterministic lineitem store
    and read the row-level feed across all three DML commits. The twin
    replays each commit's expected change rows relationally (insert =
    the appended slice; update pre/post = CASE over the matched slice;
    delete = the post-update rows matching the delete predicate), so a
    missing sidecar row, a pre/post image computed against the wrong
    state, a wrong _commit_version, or a feed row leaking from the
    compaction-free span goes red."""
    from wsspark import snapstore as ss

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_quantity"
    )
    with scratch_dir("snapcdf-") as root:
        ss.snap_commit(li.filter("l_partkey >= 100").repartition(8), root)
        since = ss.snap_enable_cdf(root)                         # v1
        ss.snap_commit(
            li.filter("l_partkey < 100"), root, mode="append"
        )                                                        # v2
        ss.snap_update_where(
            spark,
            root,
            "l_partkey BETWEEN 200 AND 400",
            {"l_quantity": "l_quantity + 7"},
        )                                                        # v3
        ss.snap_delete_where(spark, root, "l_quantity > 45")     # v4
        out = ss.snap_read_changes_cdf(spark, root, since)
        return _pin_result(out)


SNAPSTORE_CDF_SQL = """
WITH upd AS (
    SELECT l_orderkey, l_linenumber, l_partkey,
           CASE WHEN l_partkey BETWEEN 200 AND 400
                THEN l_quantity + 7 ELSE l_quantity END AS q_new,
           l_quantity AS q_old
    FROM lineitem
)
SELECT l_orderkey, l_linenumber, l_partkey, l_quantity,
       'insert' AS _change_type, CAST(2 AS BIGINT) AS _commit_version
FROM lineitem WHERE l_partkey < 100
UNION ALL
SELECT l_orderkey, l_linenumber, l_partkey, q_old,
       'update_preimage', 3
FROM upd WHERE l_partkey BETWEEN 200 AND 400
UNION ALL
SELECT l_orderkey, l_linenumber, l_partkey, q_new,
       'update_postimage', 3
FROM upd WHERE l_partkey BETWEEN 200 AND 400
UNION ALL
SELECT l_orderkey, l_linenumber, l_partkey, q_new, 'delete', 4
FROM upd WHERE q_new > 45
"""


SNAPSTORE_ZORDER_ND_SQL = """
SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity
FROM lineitem
WHERE l_partkey BETWEEN 100 AND 600
  AND l_suppkey BETWEEN 5 AND 80
  AND l_quantity BETWEEN 10 AND 40
"""


PR_BINS = 20


def q_quality_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """classifier.pr_curve under the driver hash gate: calibrate a
    deterministic quality score (1 - stopword_ratio — SQL-replicable,
    unlike the GD-trained logreg weights) against the rule gate's KEEP
    verdict, 20 thresholds. Every tp/fp/fn count and every ratio row
    rides the hash, so an off-by-one at a bin edge (the classic
    score >= t vs score > t slip) goes red."""
    from wsspark.llmops import classifier

    docs = read_table(spark, sf_dir, "documents")
    gated = corpus.quality_filter(
        docs,
        min_tokens=QF_MIN_TOKENS,
        max_tokens=QF_MAX_TOKENS,
        max_stopword_ratio=QF_MAX_STOPWORD_RATIO,
        min_avg_token_len=QF_MIN_AVG_TOKEN_LEN,
    )
    scored = gated.select(
        (F.lit(1.0) - F.col("stopword_ratio")).alias("score"),
        (F.col("filter_reason") == "KEEP").cast("int").alias("label"),
    )
    return classifier.pr_curve(scored, n_bins=PR_BINS)


def _pr_curve_sql() -> str:
    nb = PR_BINS
    return f"""
WITH gate AS ({QUALITY_FILTER_SQL}),
scored AS (
    SELECT 1.0 - stopword_ratio AS score,
           CASE WHEN filter_reason = 'KEEP' THEN 1 ELSE 0 END AS label
    FROM gate
),
binned AS (
    SELECT LEAST({nb - 1}, GREATEST(0,
               CAST(FLOOR(score * {nb}) AS INT))) AS bin,
           SUM(label) AS pos, SUM(1 - label) AS neg
    FROM scored WHERE score IS NOT NULL
    GROUP BY 1
),
bins AS (SELECT CAST(range AS INT) AS bin FROM range({nb})),
dense AS (
    SELECT b.bin, COALESCE(pos, 0) AS pos, COALESCE(neg, 0) AS neg
    FROM bins b LEFT JOIN binned USING (bin)
),
cum AS (
    SELECT bin,
           SUM(pos) OVER (ORDER BY bin DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
           SUM(neg) OVER (ORDER BY bin DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fp,
           SUM(pos) OVER ()
             - SUM(pos) OVER (ORDER BY bin DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fn
    FROM dense
)
SELECT ROUND(bin / {nb}.0, 6) AS threshold,
       CAST(tp + fp AS BIGINT) AS n_predicted,
       CAST(tp AS BIGINT) AS tp,
       CAST(fp AS BIGINT) AS fp,
       CAST(fn AS BIGINT) AS fn,
       ROUND(CASE WHEN tp + fp > 0 THEN CAST(tp AS DOUBLE) / (tp + fp) END, 6)
           AS precision,
       ROUND(CASE WHEN tp + fn > 0 THEN CAST(tp AS DOUBLE) / (tp + fn) END, 6)
           AS recall,
       ROUND(CASE WHEN tp + fp > 0 AND tp + fn > 0
                   AND CAST(tp AS DOUBLE) / (tp + fp)
                       + CAST(tp AS DOUBLE) / (tp + fn) > 0
             THEN 2 * (CAST(tp AS DOUBLE) / (tp + fp))
                    * (CAST(tp AS DOUBLE) / (tp + fn))
                  / (CAST(tp AS DOUBLE) / (tp + fp)
                     + CAST(tp AS DOUBLE) / (tp + fn)) END, 6) AS f1
FROM cum
ORDER BY 1
"""


def q_quality_gate_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """classifier.auc under the driver hash gate: the exact tie-aware
    Mann-Whitney AUC of the same deterministic score/label pair the PR
    sweep calibrates — the heavy-tie case (4dp stopword ratios) is
    exactly where a half-tie slip or a cumulative off-by-one shifts the
    statistic, and the integer-exact numerator makes the twin
    bit-replayable."""
    from wsspark.llmops import classifier

    docs = read_table(spark, sf_dir, "documents")
    gated = corpus.quality_filter(
        docs,
        min_tokens=QF_MIN_TOKENS,
        max_tokens=QF_MAX_TOKENS,
        max_stopword_ratio=QF_MAX_STOPWORD_RATIO,
        min_avg_token_len=QF_MIN_AVG_TOKEN_LEN,
    )
    scored = gated.select(
        (F.lit(1.0) - F.col("stopword_ratio")).alias("score"),
        (F.col("filter_reason") == "KEEP").cast("int").alias("label"),
    )
    return classifier.auc(scored)


def _auc_sql() -> str:
    return f"""
WITH gate AS ({QUALITY_FILTER_SQL}),
scored AS (
    SELECT 1.0 - stopword_ratio AS score,
           CASE WHEN filter_reason = 'KEEP' THEN 1 ELSE 0 END AS label
    FROM gate
),
per AS (
    SELECT score AS s, SUM(label) AS p, SUM(1 - label) AS n
    FROM scored WHERE score IS NOT NULL
    GROUP BY 1
),
cum AS (
    SELECT p, n,
           p * (2 * COALESCE(SUM(n) OVER (ORDER BY s
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + n)
               AS u2
    FROM per
),
agg AS (
    SELECT CAST(SUM(p) AS BIGINT) AS n_pos,
           CAST(SUM(n) AS BIGINT) AS n_neg,
           SUM(u2) AS u2
    FROM cum
)
SELECT n_pos, n_neg,
       ROUND(CASE WHEN n_pos > 0 AND n_neg > 0
             THEN u2 / (2.0 * n_pos * n_neg) END, 6) AS auc
FROM agg
"""


DRIFT_SPLIT = "1997-01-01"


def q_snapshot_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """quality.drift_report under the driver hash gate, both verdict
    polarities covered (the fk_integrity_report discipline): the
    pre/post-1997 halves of lineitem are STATIONARY on quantity, price,
    and returnflag (quiet verdicts — the synthetic generator has no
    seasonality), while a deliberate feed-swap probe — lineitem extended
    prices vs part retail prices as the "same" price column — must
    alert hard (the distributions share a floor but nothing else). The
    twin replays the exact bucket edges (base min/max, equal width),
    Laplace smoothing, and natural-log PSI."""
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    split = F.lit(DRIFT_SPLIT).cast("timestamp")
    from wsspark.quality import drift_report

    stationary = drift_report(
        li.filter(F.col("l_shipdate") < split),
        li.filter(F.col("l_shipdate") >= split),
        numeric_cols=["l_quantity", "l_extendedprice"],
        cat_cols=["l_returnflag"],
    )
    feed_swap = drift_report(
        li.select(F.col("l_extendedprice").alias("price")),
        part.select(F.col("p_retailprice").alias("price")),
        numeric_cols=["price"],
    )
    return stationary.unionByName(feed_swap)


SNAPSHOT_DRIFT_SQL = f"""
WITH b AS (SELECT * FROM lineitem WHERE l_shipdate < TIMESTAMP '{DRIFT_SPLIT}'),
c AS (SELECT * FROM lineitem WHERE l_shipdate >= TIMESTAMP '{DRIFT_SPLIT}'),
e AS (
    SELECT MIN(CAST(l_quantity AS DOUBLE)) AS qlo,
           MAX(CAST(l_quantity AS DOUBLE)) AS qhi,
           MIN(CAST(l_extendedprice AS DOUBLE)) AS plo,
           MAX(CAST(l_extendedprice AS DOUBLE)) AS phi
    FROM b
),
e2 AS (
    SELECT MIN(CAST(l_extendedprice AS DOUBLE)) AS rlo,
           MAX(CAST(l_extendedprice AS DOUBLE)) AS rhi
    FROM lineitem
),
bb AS (
    SELECT 'l_quantity' AS col, 'numeric' AS kind, 'base' AS side,
           CASE WHEN l_quantity IS NULL THEN 'NULL'
                ELSE 'b' || LEAST(9, GREATEST(0, CAST(FLOOR(
                    (CAST(l_quantity AS DOUBLE) - qlo) / (qhi - qlo) * 10
                ) AS INT))) END AS bucket
    FROM b, e
    UNION ALL
    SELECT 'l_extendedprice', 'numeric', 'base',
           CASE WHEN l_extendedprice IS NULL THEN 'NULL'
                ELSE 'b' || LEAST(9, GREATEST(0, CAST(FLOOR(
                    (CAST(l_extendedprice AS DOUBLE) - plo) / (phi - plo) * 10
                ) AS INT))) END
    FROM b, e
    UNION ALL
    SELECT 'l_returnflag', 'categorical', 'base',
           COALESCE(l_returnflag, 'NULL')
    FROM b
    UNION ALL
    SELECT 'l_quantity', 'numeric', 'cur',
           CASE WHEN l_quantity IS NULL THEN 'NULL'
                ELSE 'b' || LEAST(9, GREATEST(0, CAST(FLOOR(
                    (CAST(l_quantity AS DOUBLE) - qlo) / (qhi - qlo) * 10
                ) AS INT))) END
    FROM c, e
    UNION ALL
    SELECT 'l_extendedprice', 'numeric', 'cur',
           CASE WHEN l_extendedprice IS NULL THEN 'NULL'
                ELSE 'b' || LEAST(9, GREATEST(0, CAST(FLOOR(
                    (CAST(l_extendedprice AS DOUBLE) - plo) / (phi - plo) * 10
                ) AS INT))) END
    FROM c, e
    UNION ALL
    SELECT 'l_returnflag', 'categorical', 'cur',
           COALESCE(l_returnflag, 'NULL')
    FROM c
    UNION ALL
    SELECT 'price', 'numeric', 'base',
           CASE WHEN l_extendedprice IS NULL THEN 'NULL'
                ELSE 'b' || LEAST(9, GREATEST(0, CAST(FLOOR(
                    (CAST(l_extendedprice AS DOUBLE) - rlo) / (rhi - rlo) * 10
                ) AS INT))) END
    FROM lineitem, e2
    UNION ALL
    SELECT 'price', 'numeric', 'cur',
           CASE WHEN p_retailprice IS NULL THEN 'NULL'
                ELSE 'b' || LEAST(9, GREATEST(0, CAST(FLOOR(
                    (CAST(p_retailprice AS DOUBLE) - rlo) / (rhi - rlo) * 10
                ) AS INT))) END
    FROM part, e2
),
counts AS (
    SELECT col, kind, side, bucket, COUNT(*) AS n
    FROM bb GROUP BY 1, 2, 3, 4
),
grid AS (
    SELECT DISTINCT col, kind, bucket FROM counts
),
sides AS (
    SELECT g.col, g.kind, g.bucket,
           COALESCE(bn.n, 0) AS n_b, COALESCE(cn.n, 0) AS n_c
    FROM grid g
    LEFT JOIN counts bn
      ON bn.col = g.col AND bn.bucket = g.bucket AND bn.side = 'base'
    LEFT JOIN counts cn
      ON cn.col = g.col AND cn.bucket = g.bucket AND cn.side = 'cur'
),
tot AS (
    SELECT col, kind,
           SUM(n_b) AS tb, SUM(n_c) AS tc, COUNT(*) AS nb
    FROM sides GROUP BY 1, 2
),
psi AS (
    SELECT s.col, s.kind, t.tb, t.tc,
           SUM(((s.n_b + 0.5) / (t.tb + t.nb / 2.0)
                - (s.n_c + 0.5) / (t.tc + t.nb / 2.0))
               * LN(((s.n_b + 0.5) / (t.tb + t.nb / 2.0))
                    / ((s.n_c + 0.5) / (t.tc + t.nb / 2.0)))) AS raw
    FROM sides s JOIN tot t ON s.col = t.col
    GROUP BY 1, 2, t.tb, t.tc
)
SELECT col AS "column", kind,
       CAST(tb AS BIGINT) AS n_base, CAST(tc AS BIGINT) AS n_current,
       ROUND(raw, 6) AS psi, raw > 0.2 AS drifted
FROM psi
ORDER BY 1
"""


def q_ks_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """quality.ks_drift under the hash gate, both verdict polarities (the
    snapshot_drift_report discipline): the pre/post-1997 lineitem halves
    are stationary on quantity (quiet verdict expected from IID synthetic
    data), while the price feed-swap probe (lineitem extended prices vs
    part retail prices) must alert decisively. The twin replays the
    pooled distinct-value ECDF cumsums, the sup, and the asymptotic
    critical value sqrt(-ln(alpha/2)/2) * sqrt((n+m)/nm) exactly — every
    statistic, threshold, and verdict rides the hash."""
    from wsspark.quality import ks_drift

    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    split = F.lit(DRIFT_SPLIT).cast("timestamp")
    # The stationarity probe and the feed-swap probe are independent
    # eager job chains (different column sets; the second mixes in a
    # different table) — overlap them (guide §2.6). Output assembly
    # order is fixed, so results are bit-identical.
    feed_swap, stationary = overlap(
        lambda: ks_drift(
            li.select(F.col("l_extendedprice").alias("price")),
            part.select(F.col("p_retailprice").alias("price")),
            cols=["price"],
        ),
        lambda: ks_drift(
            li.filter(F.col("l_shipdate") < split),
            li.filter(F.col("l_shipdate") >= split),
            cols=["l_quantity"],
        ),
    )
    return stationary.unionByName(feed_swap)


KS_DRIFT_SQL = f"""
WITH b AS (SELECT * FROM lineitem WHERE l_shipdate < TIMESTAMP '{DRIFT_SPLIT}'),
c AS (SELECT * FROM lineitem WHERE l_shipdate >= TIMESTAMP '{DRIFT_SPLIT}'),
vals AS (
    SELECT 'l_quantity' AS col, 'b' AS side,
           CAST(l_quantity AS DOUBLE) AS val
    FROM b WHERE l_quantity IS NOT NULL
    UNION ALL
    SELECT 'l_quantity', 'c', CAST(l_quantity AS DOUBLE)
    FROM c WHERE l_quantity IS NOT NULL
    UNION ALL
    SELECT 'price', 'b', CAST(l_extendedprice AS DOUBLE)
    FROM lineitem WHERE l_extendedprice IS NOT NULL
    UNION ALL
    SELECT 'price', 'c', CAST(p_retailprice AS DOUBLE)
    FROM part WHERE p_retailprice IS NOT NULL
),
counts AS (
    SELECT col, val,
           SUM(CASE WHEN side = 'b' THEN 1 ELSE 0 END) AS n_b,
           SUM(CASE WHEN side = 'c' THEN 1 ELSE 0 END) AS n_c
    FROM vals GROUP BY 1, 2
),
stepped AS (
    SELECT col,
           SUM(n_b) OVER (PARTITION BY col ORDER BY val
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb,
           SUM(n_c) OVER (PARTITION BY col ORDER BY val
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc,
           SUM(n_b) OVER (PARTITION BY col) AS nb,
           SUM(n_c) OVER (PARTITION BY col) AS nc
    FROM counts
),
agg AS (
    SELECT col, MAX(nb) AS n_base, MAX(nc) AS n_current,
           MAX(ABS(cb / CAST(nb AS DOUBLE) - cc / CAST(nc AS DOUBLE))) AS ks
    FROM stepped GROUP BY 1
)
SELECT col AS "column",
       CAST(n_base AS BIGINT) AS n_base,
       CAST(n_current AS BIGINT) AS n_current,
       ROUND(ks, 6) AS ks_stat,
       ROUND(SQRT(-LN(0.025) / 2.0)
             * SQRT((n_base + n_current)
                    / CAST(n_base * n_current AS DOUBLE)), 6) AS threshold,
       ks > SQRT(-LN(0.025) / 2.0)
            * SQRT((n_base + n_current)
                   / CAST(n_base * n_current AS DOUBLE)) AS drifted
FROM agg
ORDER BY 1
"""


def q_snapstore_merge_sync_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The conditional / full-sync MERGE surface under the driver hash
    gate: a part-keyed store full-synced against a source slice with
    when_not_matched_by_source='delete' (store mirrors the source key
    set) AND matched_condition (only matched rows whose stored quantity
    exceeds a floor take the update; the rest survive verbatim). The
    twin replays the three clause routes relationally — a wrong
    condition polarity, a lost by-source delete, or a collapsed
    kept-row goes red."""
    from wsspark import snapstore as ss

    li = read_table(spark, sf_dir, "lineitem")
    # key-unique store and source frames derived deterministically
    store_df = (
        li.groupBy("l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .withColumnRenamed("l_partkey", "part")
    )
    source = (
        li.filter("l_partkey % 3 = 0")
        .groupBy("l_partkey")
        .agg((F.sum("l_quantity") * 2).alias("qty"))
        .withColumnRenamed("l_partkey", "part")
    )
    with scratch_dir("snapsync-") as root:
        ss.snap_commit(store_df.repartition(4), root)
        ss.snap_merge(
            spark,
            root,
            source,
            on=["part"],
            matched_condition="qty > 500",
            when_not_matched_by_source="delete",
        )
        out = ss.snap_read(spark, root)
        return _pin_result(out)


SNAPSTORE_MERGE_SYNC_SQL = """
WITH store AS (
    SELECT l_partkey AS part, SUM(l_quantity) AS qty
    FROM lineitem GROUP BY 1
),
src AS (
    SELECT l_partkey AS part, SUM(l_quantity) * 2 AS qty
    FROM lineitem WHERE l_partkey % 3 = 0 GROUP BY 1
)
-- matched + condition holds: source row wins
SELECT s.part, src.qty FROM store s JOIN src USING (part)
WHERE s.qty > 500
UNION ALL
-- matched + condition fails: store row survives verbatim
SELECT s.part, s.qty FROM store s JOIN src USING (part)
WHERE NOT (s.qty > 500)
UNION ALL
-- unmatched source keys insert (store is a superset here, but the
-- clause is replayed for honesty)
SELECT src.part, src.qty FROM src
WHERE part NOT IN (SELECT part FROM store)
-- unmatched store rows are DELETED by the by-source clause: absent
"""


def q_snapstore_replace_where_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Atomic selective overwrite (Delta's replaceWhere) under the
    driver-grade hash gate: a part-keyed store takes a merge-on-read DV
    delete first (part % 7 = 1), then ONE snap_overwrite_where commit
    swaps the part % 5 = 0 region for replacement rows covering only
    the part % 10 = 0 subset (so the region shrinks: deletes and
    inserts are both nontrivial). The twin replays the final state
    relationally — a resurrection of dv-deleted rows through the COW
    carryover, a kept row inside the replaced region, or a lost
    replacement row goes red."""
    from wsspark import snapstore as ss

    li = read_table(spark, sf_dir, "lineitem")
    store_df = (
        li.groupBy("l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .withColumnRenamed("l_partkey", "part")
    )
    repl = (
        li.filter("l_partkey % 10 = 0")
        .groupBy("l_partkey")
        .agg((F.sum("l_quantity") * 3).alias("qty"))
        .withColumnRenamed("l_partkey", "part")
    )
    with scratch_dir("snaprepl-") as root:
        ss.snap_commit(store_df.repartition(4), root)
        ss.snap_delete_dv(spark, root, "part % 7 = 1")
        ss.snap_overwrite_where(spark, root, "part % 5 = 0", repl)
        out = ss.snap_read(spark, root)
        return _pin_result(out)


SNAPSTORE_REPLACE_WHERE_SQL = """
WITH store AS (
    SELECT l_partkey AS part, SUM(l_quantity) AS qty
    FROM lineitem GROUP BY 1
),
repl AS (
    SELECT l_partkey AS part, SUM(l_quantity) * 3 AS qty
    FROM lineitem WHERE l_partkey % 10 = 0 GROUP BY 1
)
-- carried rows: outside the replaced region AND not dv-deleted
SELECT part, qty FROM store
WHERE NOT (part % 5 = 0) AND NOT (part % 7 = 1)
UNION ALL
-- the replacement region's new contents (dv-deleted parts re-enter
-- here if the replacement covers them: the insert is a new row)
SELECT part, qty FROM repl
"""


def q_snapstore_clone_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHALLOW CLONE write isolation under the driver-grade hash gate:
    clone a part-keyed store (zero copy — the clone's manifest
    references the source's files), run DML on the CLONE only (a COW
    delete of the part % 4 = 2 region), then read BOTH sides tagged.
    The twin replays source = untouched store, clone = store minus the
    deleted region — a clone DML that leaks into the source, or a
    clone read that misses the source snapshot, goes red."""
    from wsspark import snapstore as ss

    li = read_table(spark, sf_dir, "lineitem")
    store_df = (
        li.groupBy("l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .withColumnRenamed("l_partkey", "part")
    )
    with scratch_dir("snapclone-") as base:
        src, dst = os.path.join(base, "src"), os.path.join(base, "dst")
        ss.snap_commit(store_df.repartition(4), src)
        ss.snap_clone(src, dst)
        ss.snap_delete_where(spark, dst, "part % 4 = 2")
        out = (
            ss.snap_read(spark, dst)
            .withColumn("side", F.lit("clone"))
            .unionByName(
                ss.snap_read(spark, src).withColumn("side", F.lit("src"))
            )
        )
        return _pin_result(out)


SNAPSTORE_CLONE_SQL = """
WITH store AS (
    SELECT l_partkey AS part, SUM(l_quantity) AS qty
    FROM lineitem GROUP BY 1
)
SELECT part, qty, 'clone' AS side FROM store WHERE NOT (part % 4 = 2)
UNION ALL
SELECT part, qty, 'src' AS side FROM store
"""


def q_mv_refresh_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDF-driven MV maintenance under the driver hash gate: commit the
    movements fact to a snapstore, take the initial MV, then UPDATE and
    DELETE the fact and refresh INCREMENTALLY through the change feed
    (signed +1/-1 retraction algebra — ops/incremental.py
    snapstore_mv_refresh_cdf). The twin recomputes the view from scratch
    over the post-DML fact replayed relationally, so a wrong retraction
    weight, a lost update image, a leaked 0-count group, or a stale
    cursor goes red."""
    from wsspark import adapters as ad
    from wsspark import snapstore as ss
    from wsspark.ops import incremental as ivm

    li = read_table(spark, sf_dir, "lineitem")
    mvs = ad.movements_from_lineitem(li)
    with scratch_dir("snapmv-") as d:
        fact_root, mv_root = os.path.join(d, "fact"), os.path.join(d, "mv")
        ss.snap_commit(mvs.repartition(8), fact_root)
        ss.snap_enable_cdf(fact_root)
        ivm.snapstore_mv_refresh_cdf(spark, fact_root, mv_root)  # initial
        ss.snap_update_where(
            spark,
            fact_root,
            "quantity > 30",
            {"quantity": "quantity - 30"},
        )
        ss.snap_delete_where(spark, fact_root, "reference_id % 7 = 3")
        ivm.snapstore_mv_refresh_cdf(spark, fact_root, mv_root)
        out = ss.snap_read(spark, mv_root)
        # an MV with no 0-count groups has at most one row per live fact
        # row, so the fact's metadata-only count bounds it at any scale
        return _pin_result(
            out, cap=max(SNAPSTORE_RESULT_CAP, ss.snap_count(fact_root))
        )


from wsspark.adapters import MOVEMENTS_SQL as _MOVEMENTS_SQL  # noqa: E402

MV_REFRESH_CDF_SQL = f"""
WITH mv AS ({_MOVEMENTS_SQL}),
post AS (
    SELECT product_id, warehouse_id,
           CASE WHEN quantity > 30 THEN quantity - 30 ELSE quantity END
               AS quantity
    FROM mv WHERE NOT (reference_id % 7 = 3)
)
SELECT warehouse_id, product_id,
       CAST(COUNT(*) AS BIGINT) AS n_movements,
       CAST(SUM(CAST(quantity AS BIGINT)) AS BIGINT) AS net_qty,
       ROUND(SUM(CAST(quantity AS BIGINT)) / CAST(COUNT(*) AS DOUBLE), 4)
           AS avg_qty
FROM post GROUP BY 1, 2
"""


def q_drift_ivm_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental drift through the change feed (r16): commit the
    movements fact to a snapstore, freeze the PSI baseline (counts +
    bucket edges) from that snapshot, then UPDATE and DELETE the fact
    and maintain the (column, bucket) counts through the CDF's signed
    retraction algebra (quality.snapstore_drift_ivm_refresh — insert/
    update_postimage +1, delete/update_preimage -1) — the report comes
    from the maintained state with ZERO fact rescans, the O(changed
    rows) monitoring cadence a 100 TB fact needs. The twin recomputes
    PSI from the pre-DML snapshot vs the post-DML state replayed
    relationally, so a wrong retraction weight, a moved edge, a stale
    cursor, or a leaked zero-count bucket goes red."""
    from wsspark import adapters as ad
    from wsspark import snapstore as ss
    from wsspark.quality import (
        snapstore_drift_ivm_refresh,
        snapstore_drift_ivm_report,
    )

    li = read_table(spark, sf_dir, "lineitem")
    mvs = ad.movements_from_lineitem(li)
    cols = dict(numeric_cols=["quantity"], cat_cols=["movement_type"])
    with scratch_dir("snapdrift-") as d:
        fact_root, state_root = os.path.join(d, "fact"), os.path.join(d, "state")
        ss.snap_commit(mvs.repartition(8), fact_root)
        ss.snap_enable_cdf(fact_root)
        snapstore_drift_ivm_refresh(spark, fact_root, state_root, **cols)
        ss.snap_update_where(
            spark, fact_root, "quantity > 30", {"quantity": "quantity - 30"}
        )
        ss.snap_delete_where(spark, fact_root, "reference_id % 7 = 3")
        snapstore_drift_ivm_refresh(spark, fact_root, state_root, **cols)
        out = snapstore_drift_ivm_report(spark, state_root)
        return _pin_result(out)  # O(columns) rows


DRIFT_IVM_SQL = f"""
WITH mv AS ({_MOVEMENTS_SQL}),
post AS (
    SELECT CASE WHEN quantity > 30 THEN quantity - 30 ELSE quantity END
               AS quantity,
           movement_type
    FROM mv WHERE NOT (reference_id % 7 = 3)
),
e AS (
    SELECT MIN(CAST(quantity AS DOUBLE)) AS qlo,
           MAX(CAST(quantity AS DOUBLE)) AS qhi
    FROM mv
),
bb AS (
    SELECT 'quantity' AS col, 'numeric' AS kind, 'base' AS side,
           CASE WHEN quantity IS NULL THEN 'NULL'
                ELSE 'b' || LEAST(9, GREATEST(0, CAST(FLOOR(
                    (CAST(quantity AS DOUBLE) - qlo) / (qhi - qlo) * 10
                ) AS INT))) END AS bucket
    FROM mv, e
    UNION ALL
    SELECT 'movement_type', 'categorical', 'base',
           COALESCE(movement_type, 'NULL')
    FROM mv
    UNION ALL
    SELECT 'quantity', 'numeric', 'cur',
           CASE WHEN quantity IS NULL THEN 'NULL'
                ELSE 'b' || LEAST(9, GREATEST(0, CAST(FLOOR(
                    (CAST(quantity AS DOUBLE) - qlo) / (qhi - qlo) * 10
                ) AS INT))) END
    FROM post, e
    UNION ALL
    SELECT 'movement_type', 'categorical', 'cur',
           COALESCE(movement_type, 'NULL')
    FROM post
),
counts AS (
    SELECT col, kind, side, bucket, COUNT(*) AS n FROM bb GROUP BY 1, 2, 3, 4
),
grid AS (SELECT DISTINCT col, kind, bucket FROM counts),
sides AS (
    SELECT g.col, g.kind, g.bucket,
           COALESCE(bn.n, 0) AS n_b, COALESCE(cn.n, 0) AS n_c
    FROM grid g
    LEFT JOIN counts bn
      ON bn.col = g.col AND bn.bucket = g.bucket AND bn.side = 'base'
    LEFT JOIN counts cn
      ON cn.col = g.col AND cn.bucket = g.bucket AND cn.side = 'cur'
),
tot AS (
    SELECT col, kind, SUM(n_b) AS tb, SUM(n_c) AS tc, COUNT(*) AS nb
    FROM sides GROUP BY 1, 2
),
psi AS (
    SELECT s.col, s.kind, t.tb, t.tc,
           SUM(((s.n_b + 0.5) / (t.tb + t.nb / 2.0)
                - (s.n_c + 0.5) / (t.tc + t.nb / 2.0))
               * LN(((s.n_b + 0.5) / (t.tb + t.nb / 2.0))
                    / ((s.n_c + 0.5) / (t.tc + t.nb / 2.0)))) AS raw
    FROM sides s JOIN tot t ON s.col = t.col
    GROUP BY 1, 2, t.tb, t.tc
)
SELECT col AS "column", kind,
       CAST(tb AS BIGINT) AS n_base, CAST(tc AS BIGINT) AS n_current,
       ROUND(raw, 6) AS psi, raw > 0.2 AS drifted
FROM psi ORDER BY 1
"""


def q_drift_suite_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """quality.drift_suite under the hash gate — the FUSED drift family
    (PSI + exact KS + base-pinned top-k PSI + embedding Welch-z) paying
    one cached fact read per snapshot instead of four. Statistic parity
    with the standalone functions is pytest-pinned; this row pins the
    COMPOSITION (shared pooled frame, NULL-bucket restoration from row
    totals, unified family schema) against a DuckDB twin that replays
    all four statistics independently."""
    from wsspark.quality import drift_suite

    li = read_table(spark, sf_dir, "lineitem")
    split = F.lit(DRIFT_SPLIT).cast("timestamp")
    # The tabular (lineitem) and embedding (embeddings) suites read
    # different tables and share nothing — overlap their driver-composed
    # job chains (guide §2.6); each call is eager, so the sequential
    # form drained one suite's tail before starting the other.
    emb = read_table(spark, sf_dir, "embeddings")
    embedded, tabular = overlap(
        lambda: drift_suite(
            emb.filter(F.col("vec_id") % 4 < 2),
            emb.filter(F.col("vec_id") % 4 >= 2),
            embedding_col="embedding",
        ),
        lambda: drift_suite(
            li.filter(F.col("l_shipdate") < split),
            li.filter(F.col("l_shipdate") >= split),
            numeric_cols=["l_quantity", "l_extendedprice"],
            cat_cols=["l_returnflag"],
            k=100,
        ),
    )
    return tabular.unionByName(embedded)


def _drift_suite_sql() -> str:
    z_crit = _emb_drift_z_crit()
    return f"""
WITH b AS (SELECT * FROM lineitem WHERE l_shipdate < TIMESTAMP '{DRIFT_SPLIT}'),
c AS (SELECT * FROM lineitem WHERE l_shipdate >= TIMESTAMP '{DRIFT_SPLIT}'),
e AS (
    SELECT MIN(CAST(l_quantity AS DOUBLE)) AS qlo,
           MAX(CAST(l_quantity AS DOUBLE)) AS qhi,
           MIN(CAST(l_extendedprice AS DOUBLE)) AS plo,
           MAX(CAST(l_extendedprice AS DOUBLE)) AS phi
    FROM b
),
bb AS (
    SELECT 'l_quantity' AS col, 'base' AS side,
           CASE WHEN l_quantity IS NULL THEN 'NULL'
                ELSE 'b' || LEAST(9, GREATEST(0, CAST(FLOOR(
                    (CAST(l_quantity AS DOUBLE) - qlo) / (qhi - qlo) * 10
                ) AS INT))) END AS bucket
    FROM b, e
    UNION ALL
    SELECT 'l_extendedprice', 'base',
           CASE WHEN l_extendedprice IS NULL THEN 'NULL'
                ELSE 'b' || LEAST(9, GREATEST(0, CAST(FLOOR(
                    (CAST(l_extendedprice AS DOUBLE) - plo) / (phi - plo) * 10
                ) AS INT))) END
    FROM b, e
    UNION ALL
    SELECT 'l_quantity', 'cur',
           CASE WHEN l_quantity IS NULL THEN 'NULL'
                ELSE 'b' || LEAST(9, GREATEST(0, CAST(FLOOR(
                    (CAST(l_quantity AS DOUBLE) - qlo) / (qhi - qlo) * 10
                ) AS INT))) END
    FROM c, e
    UNION ALL
    SELECT 'l_extendedprice', 'cur',
           CASE WHEN l_extendedprice IS NULL THEN 'NULL'
                ELSE 'b' || LEAST(9, GREATEST(0, CAST(FLOOR(
                    (CAST(l_extendedprice AS DOUBLE) - plo) / (phi - plo) * 10
                ) AS INT))) END
    FROM c, e
),
pcounts AS (
    SELECT col, side, bucket, COUNT(*) AS n FROM bb GROUP BY 1, 2, 3
),
pgrid AS (SELECT DISTINCT col, bucket FROM pcounts),
psides AS (
    SELECT g.col, g.bucket,
           COALESCE(bn.n, 0) AS n_b, COALESCE(cn.n, 0) AS n_c
    FROM pgrid g
    LEFT JOIN pcounts bn
      ON bn.col = g.col AND bn.bucket = g.bucket AND bn.side = 'base'
    LEFT JOIN pcounts cn
      ON cn.col = g.col AND cn.bucket = g.bucket AND cn.side = 'cur'
),
ptot AS (
    SELECT col, SUM(n_b) AS tb, SUM(n_c) AS tc, COUNT(*) AS nb
    FROM psides GROUP BY 1
),
psi AS (
    SELECT s.col, t.tb, t.tc,
           SUM(((s.n_b + 0.5) / (t.tb + t.nb / 2.0)
                - (s.n_c + 0.5) / (t.tc + t.nb / 2.0))
               * LN(((s.n_b + 0.5) / (t.tb + t.nb / 2.0))
                    / ((s.n_c + 0.5) / (t.tc + t.nb / 2.0)))) AS raw
    FROM psides s JOIN ptot t ON s.col = t.col
    GROUP BY 1, t.tb, t.tc
),
kvals AS (
    SELECT 'l_quantity' AS col, 'b' AS side,
           CAST(l_quantity AS DOUBLE) AS val
    FROM b WHERE l_quantity IS NOT NULL
    UNION ALL
    SELECT 'l_quantity', 'c', CAST(l_quantity AS DOUBLE)
    FROM c WHERE l_quantity IS NOT NULL
    UNION ALL
    SELECT 'l_extendedprice', 'b', CAST(l_extendedprice AS DOUBLE)
    FROM b WHERE l_extendedprice IS NOT NULL
    UNION ALL
    SELECT 'l_extendedprice', 'c', CAST(l_extendedprice AS DOUBLE)
    FROM c WHERE l_extendedprice IS NOT NULL
),
kcounts AS (
    SELECT col, val,
           SUM(CASE WHEN side = 'b' THEN 1 ELSE 0 END) AS n_b,
           SUM(CASE WHEN side = 'c' THEN 1 ELSE 0 END) AS n_c
    FROM kvals GROUP BY 1, 2
),
kstepped AS (
    SELECT col,
           SUM(n_b) OVER (PARTITION BY col ORDER BY val
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb,
           SUM(n_c) OVER (PARTITION BY col ORDER BY val
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc,
           SUM(n_b) OVER (PARTITION BY col) AS nb,
           SUM(n_c) OVER (PARTITION BY col) AS nc
    FROM kcounts
),
ks AS (
    SELECT col, MAX(nb) AS n_base, MAX(nc) AS n_current,
           MAX(ABS(cb / CAST(nb AS DOUBLE) - cc / CAST(nc AS DOUBLE))) AS d
    FROM kstepped GROUP BY 1
),
tvals AS (
    SELECT 'base' AS side, COALESCE(l_returnflag, 'NULL') AS val FROM b
    UNION ALL
    SELECT 'cur', COALESCE(l_returnflag, 'NULL') FROM c
),
tvcounts AS (
    SELECT side, val, COUNT(*) AS n FROM tvals GROUP BY 1, 2
),
ttopk AS (
    SELECT val FROM (
        SELECT val, ROW_NUMBER() OVER (ORDER BY n DESC, val ASC) AS rk
        FROM tvcounts WHERE side = 'base'
    ) WHERE rk <= 100
),
tcounts AS (
    SELECT v.side,
           CASE WHEN t.val IS NOT NULL THEN v.val ELSE 'OTHER' END AS bucket,
           SUM(v.n) AS n
    FROM tvcounts v LEFT JOIN ttopk t ON t.val = v.val
    GROUP BY 1, 2
),
tgrid AS (SELECT DISTINCT bucket FROM tcounts),
tsides AS (
    SELECT g.bucket,
           COALESCE(bn.n, 0) AS n_b, COALESCE(cn.n, 0) AS n_c
    FROM tgrid g
    LEFT JOIN tcounts bn ON bn.bucket = g.bucket AND bn.side = 'base'
    LEFT JOIN tcounts cn ON cn.bucket = g.bucket AND cn.side = 'cur'
),
ttot AS (SELECT SUM(n_b) AS tb, SUM(n_c) AS tc, COUNT(*) AS nb FROM tsides),
tpsi AS (
    SELECT t.tb, t.tc,
           SUM(((s.n_b + 0.5) / (t.tb + t.nb / 2.0)
                - (s.n_c + 0.5) / (t.tc + t.nb / 2.0))
               * LN(((s.n_b + 0.5) / (t.tb + t.nb / 2.0))
                    / ((s.n_c + 0.5) / (t.tc + t.nb / 2.0)))) AS raw
    FROM tsides s, ttot t
    GROUP BY t.tb, t.tc
),
emoments_b AS (
    SELECT pos, COUNT(*) AS n, SUM(v) AS s, SUM(v * v) AS ss
    FROM (SELECT CAST(unnest(embedding) AS DOUBLE) AS v,
                 generate_subscripts(embedding, 1) AS pos
          FROM embeddings WHERE vec_id % 4 < 2) GROUP BY 1
),
emoments_c AS (
    SELECT pos, COUNT(*) AS n, SUM(v) AS s, SUM(v * v) AS ss
    FROM (SELECT CAST(unnest(embedding) AS DOUBLE) AS v,
                 generate_subscripts(embedding, 1) AS pos
          FROM embeddings WHERE vec_id % 4 >= 2) GROUP BY 1
),
edrift AS (
    SELECT CAST(MAX(ba.n) AS BIGINT) AS n_base,
           CAST(MAX(cu.n) AS BIGINT) AS n_current,
           MAX(ABS(ba.s / ba.n - cu.s / cu.n)
               / SQRT(((ba.ss - ba.s * ba.s / ba.n) / (ba.n - 1)) / ba.n
                      + ((cu.ss - cu.s * cu.s / cu.n) / (cu.n - 1)) / cu.n))
               AS max_z
    FROM emoments_b ba JOIN emoments_c cu USING (pos)
)
SELECT 'psi' AS family, col AS "column", 'numeric' AS kind,
       CAST(tb AS BIGINT) AS n_base, CAST(tc AS BIGINT) AS n_current,
       ROUND(raw, 6) AS statistic, 0.2 AS threshold, raw > 0.2 AS drifted
FROM psi
UNION ALL
SELECT 'ks', col, 'numeric',
       CAST(n_base AS BIGINT), CAST(n_current AS BIGINT),
       ROUND(d, 6),
       ROUND(SQRT(-LN(0.025) / 2.0)
             * SQRT((n_base + n_current)
                    / CAST(n_base * n_current AS DOUBLE)), 6),
       d > SQRT(-LN(0.025) / 2.0)
           * SQRT((n_base + n_current)
                  / CAST(n_base * n_current AS DOUBLE))
FROM ks
UNION ALL
SELECT 'topk_psi', 'l_returnflag', 'categorical',
       CAST(tb AS BIGINT), CAST(tc AS BIGINT),
       ROUND(raw, 6), 0.2, raw > 0.2
FROM tpsi
UNION ALL
SELECT 'embedding', 'embedding', 'embedding', n_base, n_current,
       ROUND(max_z, 6), {round(z_crit, 6)}, max_z > {z_crit!r}
FROM edrift
ORDER BY 1, 2
"""


def q_phash_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The modality dedup ladder's PAIRING stage under a driver-identical
    hash gate: llmops.imagehash.phash_dup_pairs (Hamming banding ->
    native bit_count(XOR) verify) run over DETERMINISTIC fixture hashes —
    the pHash/DCT decode itself is not SQL-expressible (it stays pinned
    against the brute-force oracle in tests/test_imagehash.py), but the
    banding/verify logic, the part most likely to regress, is.

    Fixture: each doc gets a portable 63-bit hash (the repo's md5-prefix
    convention: 60 low bits from hex chars 1-15, 3 more from char 16 so
    band 15 isn't constant; bit 63 stays 0 for cross-engine BIGINT
    safety), and every 7th doc plants a twin with <= 3 deterministic bit
    flips (positions (doc_id*{31,17,11}) % 63) — inside max_distance=10
    with bands=16, so pigeonhole recall is exactly 100% and the twin
    set IS the expected answer. The DuckDB twin is the quadratic
    all-pairs bit_count(xor) filter."""
    from wsspark.llmops import dedup as _dedup
    from wsspark.llmops.imagehash import phash_dup_pairs

    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    k = F.col("doc_id").cast("string")
    h60 = _dedup.portable_hash64(k)
    n3 = (
        F.conv(F.substring(F.md5(k.cast("binary")), 16, 1), 16, 10)
        .cast("long")
        .bitwiseAND(F.lit(7))
    )
    phash = h60.bitwiseOR(F.shiftleft(n3, 60))
    base = docs.select(
        (F.col("doc_id") * 2).alias("media_id"), phash.alias("phash")
    )
    # shiftleft's bit count must be a column here -> SQL expr form
    mask = F.expr(
        "shiftleft(1L, cast((doc_id * 31) % 63 as int)) | "
        "shiftleft(1L, cast((doc_id * 17) % 63 as int)) | "
        "shiftleft(1L, cast((doc_id * 11) % 63 as int))"
    )
    twins = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") * 2 + 1).alias("media_id"),
        phash.bitwiseXOR(mask).alias("phash"),
    )
    return phash_dup_pairs(
        base.unionByName(twins), max_distance=10, bands=16
    ).orderBy("id_a", "id_b")


PHASH_PAIRS_SQL = """
WITH h AS (
    SELECT doc_id,
           ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
           | ((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 16, 1))::BIGINT
               & 7) << 60) AS phash,
           (1::BIGINT << CAST((doc_id * 31) % 63 AS INTEGER))
         | (1::BIGINT << CAST((doc_id * 17) % 63 AS INTEGER))
         | (1::BIGINT << CAST((doc_id * 11) % 63 AS INTEGER)) AS mask
    FROM documents
),
all_h AS (
    SELECT doc_id * 2 AS media_id, phash FROM h
    UNION ALL
    SELECT doc_id * 2 + 1, xor(phash, mask) FROM h WHERE doc_id % 7 = 0
)
SELECT a.media_id AS id_a, b.media_id AS id_b,
       CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
FROM all_h a JOIN all_h b ON a.media_id < b.media_id
WHERE bit_count(xor(a.phash, b.phash)) <= 10
ORDER BY id_a, id_b
"""


def q_gate_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """classifier.label_agreement under the hash gate: Cohen's kappa
    between the FULL rule gate's KEEP verdict and its single stopword
    rule alone — "how much do the other rules matter" as one
    chance-corrected number. Every confusion count, both marginal-product
    terms, and the final kappa ride the hash (the classic silent defects
    are a po/pe swap or a chance floor computed on one marginal)."""
    from wsspark.llmops.classifier import label_agreement

    docs = read_table(spark, sf_dir, "documents")
    gated = corpus.quality_filter(
        docs,
        min_tokens=QF_MIN_TOKENS,
        max_tokens=QF_MAX_TOKENS,
        max_stopword_ratio=QF_MAX_STOPWORD_RATIO,
        min_avg_token_len=QF_MIN_AVG_TOKEN_LEN,
    )
    labeled = gated.select(
        F.when(F.col("filter_reason") == "KEEP", "KEEP")
        .otherwise("DROP")
        .alias("gate"),
        F.when(
            F.col("stopword_ratio") <= QF_MAX_STOPWORD_RATIO, "KEEP"
        )
        .otherwise("DROP")
        .alias("stopword_rule"),
    )
    return label_agreement(labeled, "gate", "stopword_rule")


def _gate_kappa_sql() -> str:
    return f"""
WITH gate AS ({QUALITY_FILTER_SQL}),
lab AS (
    SELECT CASE WHEN filter_reason = 'KEEP' THEN 'KEEP' ELSE 'DROP' END AS a,
           CASE WHEN stopword_ratio <= {QF_MAX_STOPWORD_RATIO}
                THEN 'KEEP' ELSE 'DROP' END AS b
    FROM gate
),
cells AS (SELECT a, b, COUNT(*) AS n FROM lab GROUP BY 1, 2),
tot AS (
    SELECT SUM(n) AS n,
           SUM(CASE WHEN a = b THEN n ELSE 0 END) AS agree
    FROM cells
),
ma AS (SELECT a AS c, SUM(n) AS m FROM cells GROUP BY 1),
mb AS (SELECT b AS c, SUM(n) AS m FROM cells GROUP BY 1),
pen AS (SELECT SUM(ma.m * mb.m) AS pe_num FROM ma JOIN mb USING (c))
SELECT CAST(tot.n AS BIGINT) AS n,
       CAST(tot.agree AS BIGINT) AS agree,
       ROUND(tot.agree / CAST(tot.n AS DOUBLE), 6) AS po,
       ROUND(pen.pe_num / CAST(tot.n * tot.n AS DOUBLE), 6) AS pe,
       CASE WHEN pen.pe_num = tot.n * tot.n THEN NULL
            ELSE ROUND((tot.agree / CAST(tot.n AS DOUBLE)
                        - pen.pe_num / CAST(tot.n * tot.n AS DOUBLE))
                       / (1.0 - pen.pe_num
                              / CAST(tot.n * tot.n AS DOUBLE)), 6)
       END AS kappa
FROM tot, pen
"""


EMB_DRIFT_SHIFT = 0.25  # planted alert probe: +shift on dimension 1


def _emb_drift_z_crit() -> float:
    from statistics import NormalDist

    return NormalDist().inv_cdf(1.0 - 0.05 / (2.0 * 64))


def q_embedding_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """quality.embedding_drift under the hash gate, both polarities:
    a vec_id mod-4 split of the SAME population must stay quiet (measured
    max Welch z 1.9-2.9 across SFs vs z_crit 3.359 — the parity and
    label splits were rejected as probes for sitting 0.01 from the
    threshold), while a planted +0.25 shift on dimension 1 (~2 sigma of
    that dim) must alert decisively (z ~ 22 at sf0.01). Every moment,
    the Bonferroni critical value, and both verdicts ride the hash; the
    twin recomputes the per-dimension Welch z from unnest + subscripts."""
    from wsspark.quality import embedding_drift

    emb = read_table(spark, sf_dir, "embeddings")
    a = emb.filter(F.col("vec_id") % 4 < 2).select("embedding")
    b = emb.filter(F.col("vec_id") % 4 >= 2).select("embedding")
    quiet = embedding_drift(a, b).withColumn("probe", F.lit("mod4_split"))
    shifted = b.select(
        F.transform(
            "embedding",
            lambda v, i: F.when(
                i == 1, v + F.lit(EMB_DRIFT_SHIFT)
            ).otherwise(v),
        ).alias("embedding")
    )
    loud = embedding_drift(a, shifted).withColumn(
        "probe", F.lit("planted_dim1_shift")
    )
    return quiet.unionByName(loud)


def _emb_drift_sql() -> str:
    z_crit = _emb_drift_z_crit()
    moments = """
    SELECT pos, COUNT(*) AS n, SUM(v) AS s, SUM(v * v) AS ss
    FROM ({side}) GROUP BY 1
"""
    side_a = (
        "SELECT CAST(unnest(embedding) AS DOUBLE) AS v, "
        "generate_subscripts(embedding, 1) AS pos "
        "FROM embeddings WHERE vec_id % 4 < 2"
    )
    side_b = (
        "SELECT CAST(unnest(embedding) AS DOUBLE) AS v, "
        "generate_subscripts(embedding, 1) AS pos "
        "FROM embeddings WHERE vec_id % 4 >= 2"
    )
    # planted probe: DuckDB generate_subscripts is 1-based while Spark's
    # transform index is 0-based, so Spark's i == 1 is DuckDB's pos = 2
    side_b_shift = (
        f"SELECT CASE WHEN pos = 2 THEN v + {EMB_DRIFT_SHIFT} ELSE v END"
        f" AS v, pos FROM ({side_b})"
    )

    def probe(name: str, cur: str) -> str:
        return f"""
SELECT CAST(MAX(ba.n) AS BIGINT) AS n_base,
       CAST(MAX(cu.n) AS BIGINT) AS n_current,
       CAST(COUNT(*) AS INT) AS dim,
       ROUND(SUM((ba.s / ba.n) * (cu.s / cu.n))
             / (SQRT(SUM((ba.s / ba.n) * (ba.s / ba.n)))
                * SQRT(SUM((cu.s / cu.n) * (cu.s / cu.n)))), 6)
           AS centroid_cosine,
       ROUND(MAX(ABS(ba.s / ba.n - cu.s / cu.n)
             / SQRT(((ba.ss - ba.s * ba.s / ba.n) / (ba.n - 1)) / ba.n
                    + ((cu.ss - cu.s * cu.s / cu.n) / (cu.n - 1)) / cu.n)),
             6) AS max_dim_z,
       ROUND(AVG(ABS(ba.s / ba.n - cu.s / cu.n)
             / SQRT(((ba.ss - ba.s * ba.s / ba.n) / (ba.n - 1)) / ba.n
                    + ((cu.ss - cu.s * cu.s / cu.n) / (cu.n - 1)) / cu.n)),
             6) AS mean_dim_z,
       {round(z_crit, 6)} AS z_crit,
       MAX(ABS(ba.s / ba.n - cu.s / cu.n)
           / SQRT(((ba.ss - ba.s * ba.s / ba.n) / (ba.n - 1)) / ba.n
                  + ((cu.ss - cu.s * cu.s / cu.n) / (cu.n - 1)) / cu.n))
           > {z_crit!r} AS drifted,
       '{name}' AS probe
FROM ({moments.format(side=side_a)}) ba
JOIN ({moments.format(side=cur)}) cu USING (pos)
"""

    return (
        probe("mod4_split", side_b)
        + " UNION ALL "
        + probe("planted_dim1_shift", side_b_shift)
    )


DRIFT_TOPK_SPLIT = "2024-01-16 00:00:00"
DRIFT_TOPK_K = 20


def q_drift_topk_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """quality.drift_topk under the hash gate — the bounded scale path
    for UNBOUNDED-cardinality categoricals (the exact case drift_report's
    MAX_CAT_BUCKETS guard refuses to fold silently): buckets are the base
    snapshot's top-k values by count (deterministic value-asc tie-break)
    plus OTHER for the tail. Audited on events split mid-month:
    user_id is the high-cardinality column (150 users at sf0.01, only
    k=20 bucketed — the tail folds), event_type the bounded control.
    The twin replays the rank, the OTHER fold, and the Laplace PSI."""
    from wsspark.quality import drift_topk

    ev = read_table(spark, sf_dir, "events")
    split = F.lit(DRIFT_TOPK_SPLIT).cast("timestamp")
    return drift_topk(
        ev.filter(F.col("ts") < split),
        ev.filter(F.col("ts") >= split),
        cat_cols=["user_id", "event_type"],
        k=DRIFT_TOPK_K,
    )


DRIFT_TOPK_SQL = f"""
WITH b AS (SELECT * FROM events WHERE ts < TIMESTAMP '{DRIFT_TOPK_SPLIT}'),
c AS (SELECT * FROM events WHERE ts >= TIMESTAMP '{DRIFT_TOPK_SPLIT}'),
vals AS (
    SELECT 'user_id' AS col, 'base' AS side,
           COALESCE(CAST(user_id AS VARCHAR), 'NULL') AS val FROM b
    UNION ALL
    SELECT 'event_type', 'base', COALESCE(event_type, 'NULL') FROM b
    UNION ALL
    SELECT 'user_id', 'cur',
           COALESCE(CAST(user_id AS VARCHAR), 'NULL') FROM c
    UNION ALL
    SELECT 'event_type', 'cur', COALESCE(event_type, 'NULL') FROM c
),
vcounts AS (
    SELECT col, side, val, COUNT(*) AS n FROM vals GROUP BY 1, 2, 3
),
topk AS (
    SELECT col, val FROM (
        SELECT col, val,
               ROW_NUMBER() OVER (PARTITION BY col
                                  ORDER BY n DESC, val ASC) AS rk
        FROM vcounts WHERE side = 'base'
    ) WHERE rk <= {DRIFT_TOPK_K}
),
counts AS (
    SELECT v.col, v.side,
           CASE WHEN t.val IS NOT NULL THEN v.val ELSE 'OTHER' END AS bucket,
           SUM(v.n) AS n
    FROM vcounts v LEFT JOIN topk t ON t.col = v.col AND t.val = v.val
    GROUP BY 1, 2, 3
),
grid AS (SELECT DISTINCT col, bucket FROM counts),
sides AS (
    SELECT g.col, g.bucket,
           COALESCE(bn.n, 0) AS n_b, COALESCE(cn.n, 0) AS n_c
    FROM grid g
    LEFT JOIN counts bn
      ON bn.col = g.col AND bn.bucket = g.bucket AND bn.side = 'base'
    LEFT JOIN counts cn
      ON cn.col = g.col AND cn.bucket = g.bucket AND cn.side = 'cur'
),
tot AS (
    SELECT col, SUM(n_b) AS tb, SUM(n_c) AS tc, COUNT(*) AS nb
    FROM sides GROUP BY 1
),
psi AS (
    SELECT s.col, t.tb, t.tc,
           SUM(((s.n_b + 0.5) / (t.tb + t.nb / 2.0)
                - (s.n_c + 0.5) / (t.tc + t.nb / 2.0))
               * LN(((s.n_b + 0.5) / (t.tb + t.nb / 2.0))
                    / ((s.n_c + 0.5) / (t.tc + t.nb / 2.0)))) AS raw
    FROM sides s JOIN tot t ON s.col = t.col
    GROUP BY 1, t.tb, t.tc
)
SELECT col AS "column", 'categorical' AS kind,
       CAST(tb AS BIGINT) AS n_base, CAST(tc AS BIGINT) AS n_current,
       ROUND(raw, 6) AS psi, raw > 0.2 AS drifted
FROM psi
ORDER BY 1
"""


SHUFFLE_EPOCH = 3
SHUFFLE_SHARDS = 8


def q_epoch_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """corpus.epoch_shard_assignment: deterministic per-epoch corpus
    shuffle into balanced training shards — shard AND in-shard order are
    portable-md5-derived, so the DuckDB twin replicates the full address
    (shard, shard_pos) of every sample bit-for-bit."""
    docs = read_table(spark, sf_dir, "documents")
    return corpus.epoch_shard_assignment(
        docs, epoch=SHUFFLE_EPOCH, n_shards=SHUFFLE_SHARDS
    ).select("doc_id", "shuffle_key", "shard", "shard_pos")


EPOCH_SHARD_SQL = f"""
WITH keyed AS (
    SELECT doc_id,
           md5('{SHUFFLE_EPOCH}:' || CAST(doc_id AS VARCHAR)) AS shuffle_key
    FROM documents
)
SELECT doc_id,
       shuffle_key,
       CAST(('0x' || substr(shuffle_key, 1, 15))::BIGINT % {SHUFFLE_SHARDS}
            AS INTEGER) AS shard,
       CAST(ROW_NUMBER() OVER (
           PARTITION BY ('0x' || substr(shuffle_key, 1, 15))::BIGINT
                        % {SHUFFLE_SHARDS}
           ORDER BY shuffle_key, doc_id
       ) AS INTEGER) AS shard_pos
FROM keyed
"""


SPLIT_TEST_FRAC = 0.2


def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """corpus.leakage_safe_split: cluster-aware train/test split — every
    member of a near-dup cluster (exact-Jaccard edges + connected
    components, the dup_clusters frame) lands on the same side, so eval
    never scores a near-copy of a training doc. Unclustered docs split on
    their own id; the gate is the portable Knuth multiplicative hash, so
    the DuckDB twin replicates the assignment bit-for-bit."""
    docs = read_table(spark, sf_dir, "documents")
    cc = _dup_cluster_map(spark, sf_dir)
    return corpus.leakage_safe_split(
        docs, cc, test_frac=SPLIT_TEST_FRAC
    ).select("doc_id", "split_key", "split")


LEAKAGE_SAFE_SPLIT_SQL = (
    DUP_CLUSTERS_EDGES_SQL
    + f""",
reach(node, comp) AS (
    SELECT src, src FROM edges
    UNION
    SELECT e.src, r.comp FROM edges e JOIN reach r ON r.node = e.dst
),
cc AS (SELECT node, MIN(comp) AS cluster_id FROM reach GROUP BY node)
SELECT d.doc_id,
       COALESCE(cc.cluster_id, d.doc_id) AS split_key,
       CASE WHEN CAST((COALESCE(cc.cluster_id, d.doc_id) * 2654435761)
                      % 4294967296 AS DOUBLE) / 4294967296
                 < {SPLIT_TEST_FRAC}
            THEN 'test' ELSE 'train' END AS split
FROM documents d LEFT JOIN cc ON d.doc_id = cc.node
"""
).replace("WITH words", "WITH RECURSIVE words", 1)


def q_dup_clusters_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE path of dup_clusters: MinHash-LSH candidate pairs (exact
    Jaccard verified on candidates only — never all pairs) feeding the same
    connected-components step. Oracle: recursive-CTE closure over the
    quadratic 3-shingle jaccard edges — identical clusters whenever LSH
    pair recall is 100% (see q_minhash_dedup_pairs; also asserted in
    tests/test_dedup.py::test_lsh_clusters_match_exact_clusters)."""
    docs = read_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    pairs = dedup.minhash_dedup_pairs(docs, threshold=JACCARD_THRESHOLD)
    cc = dedup.connected_components(pairs)
    return cc.select(F.col("node").alias("doc_id"), "cluster_id")


DUP_CLUSTERS_LSH_SQL = (
    SHINGLE3_EDGES_SQL
    + """,
edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM jpairs
    UNION ALL
    SELECT doc_b, doc_a FROM jpairs
),
reach(node, comp) AS (
    SELECT src, src FROM edges
    UNION
    SELECT e.src, r.comp FROM edges e JOIN reach r ON r.node = e.dst
)
SELECT node AS doc_id, MIN(comp) AS cluster_id FROM reach GROUP BY node
"""
).replace("WITH toks", "WITH RECURSIVE toks", 1)


def q_normalized_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dup groups on normalized text (case/punct/whitespace-folded) —
    catches trivial variants byte-exact dedup misses."""
    return textstats.normalized_dedup_groups(read_table(spark, sf_dir, "documents"))


NORMALIZED_DEDUP_SQL = """
WITH keyed AS (
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
               AS norm_hash
    FROM documents
)
SELECT norm_hash, COUNT(*) AS n_docs, MIN(doc_id) AS keep_doc_id
FROM keyed GROUP BY norm_hash
"""


def q_pii_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII prevalence per source. NOTE: the synthetic corpus contains no
    PII, so every count is legitimately 0 here — the hash match still
    verifies the full scan/regex/agg pipeline; positive-path detection and
    redaction are covered in tests/test_llmops.py with planted PII."""
    return pii.pii_summary(read_table(spark, sf_dir, "documents"))


_PII_DUCK = {
    "email": "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "ssn": "\\b\\d{3}-\\d{2}-\\d{4}\\b",
    "phone": "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b",
    "ipv4": "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b",
}

PII_SUMMARY_SQL = f"""
WITH flags AS (
    SELECT source,
           {', '.join(
               f"len(regexp_extract_all(text, '{pat}')) AS n_{name}"
               for name, pat in _PII_DUCK.items()
           )}
    FROM documents
)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN n_email + n_ssn + n_phone + n_ipv4 > 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_with_pii,
       {', '.join(
           f"CAST(SUM(n_{name}) AS BIGINT) AS total_{name}" for name in _PII_DUCK
       )}
FROM flags GROUP BY source
"""


def q_kmeans_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's k-means cluster sizes over the embeddings table
    (similarity.kmeans_embeddings: broadcast assign + one k x dim shuffle
    per round). Deterministic hash-spread init + 9dp-rounded means make the
    iteration exactly reproducible, so the oracle unrolls the same rounds in
    SQL (_kmeans_cells_sql); numpy equivalence is also asserted in
    tests/test_llmops.py."""
    emb = read_table(spark, sf_dir, "embeddings")
    assigned = similarity.kmeans_embeddings(emb, k=8, n_iter=3)
    return (
        assigned.groupBy("cluster_id")
        .agg(F.count("*").cast("long").alias("n_vectors"))
        .orderBy("cluster_id")
    )


def q_corpus_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus dedup scorecard: exact-dup copies, normalized-dup
    copies, near-dup cluster membership, survivor count. Composes the three
    dedup layers into the summary a curation run reports; each input is a
    key-cardinality aggregate, so the crossJoin of 1-row frames moves no
    data."""
    docs = read_table(spark, sf_dir, "documents")
    n_docs = docs.agg(F.count("*").cast("long").alias("n_docs"))
    exact = dedup.exact_dedup_groups(docs).agg(
        F.sum(F.col("n_copies") - 1).cast("long").alias("n_exact_dup_copies")
    )
    norm = textstats.normalized_dedup_groups(docs).agg(
        F.sum(F.col("n_docs") - 1).cast("long").alias("n_normalized_dup_copies")
    )
    clustered = _dup_cluster_map(spark, sf_dir).agg(
        F.count("*").cast("long").alias("n_clustered_docs"),
        F.sum(F.when(F.col("node") != F.col("cluster_id"), 1).otherwise(0))
        .cast("long")
        .alias("n_near_dup_dropped"),
    )
    return (
        n_docs.crossJoin(exact)
        .crossJoin(norm)
        .crossJoin(clustered)
        .select(
            "n_docs",
            "n_exact_dup_copies",
            "n_normalized_dup_copies",
            "n_clustered_docs",
            "n_near_dup_dropped",
            F.round(
                (F.col("n_docs") - F.col("n_near_dup_dropped"))
                / F.col("n_docs").cast("double"),
                6,
            ).alias("survivor_rate"),
        )
    )


CORPUS_DEDUP_STATS_SQL = (
    DUP_CLUSTERS_EDGES_SQL
    + """,
reach(node, comp) AS (
    SELECT src, src FROM edges
    UNION
    SELECT e.src, r.comp FROM edges e JOIN reach r ON r.node = e.dst
),
cc AS (SELECT node, MIN(comp) AS cluster_id FROM reach GROUP BY node),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
ex AS (
    SELECT SUM(c - 1) AS n_exact_dup_copies FROM (
        SELECT COUNT(*) AS c FROM documents GROUP BY md5(text))
),
nrm AS (
    SELECT SUM(c - 1) AS n_normalized_dup_copies FROM (
        SELECT COUNT(*) AS c FROM documents
        GROUP BY md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))))
),
cl AS (
    SELECT COUNT(*) AS n_clustered_docs,
           SUM(CASE WHEN node <> cluster_id THEN 1 ELSE 0 END)
               AS n_near_dup_dropped
    FROM cc
)
SELECT CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_exact_dup_copies AS BIGINT) AS n_exact_dup_copies,
       CAST(n_normalized_dup_copies AS BIGINT) AS n_normalized_dup_copies,
       CAST(n_clustered_docs AS BIGINT) AS n_clustered_docs,
       CAST(n_near_dup_dropped AS BIGINT) AS n_near_dup_dropped,
       ROUND((n_docs - n_near_dup_dropped) / CAST(n_docs AS DOUBLE), 6)
           AS survivor_rate
FROM n, ex, nrm, cl
"""
).replace("WITH words", "WITH RECURSIVE words", 1)


LENGTH_OUTLIER_LO = 0.1
LENGTH_OUTLIER_HI = 0.99


def q_length_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-distribution outlier gate per language: percent_rank of
    n_chars within each lang; docs under p10 (truncation suspects) or over
    p99 (boilerplate/concatenation suspects) are flagged. One shuffle on
    lang for the rank window — per-lang partitions are corpus-shard sized,
    the same bounded-partition argument as every other lang-blocked op."""
    docs = read_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(F.asc("n_chars"), F.asc("doc_id"))
    pr = F.percent_rank().over(w)
    return (
        docs.select("doc_id", "lang", "n_chars", F.round(pr, 6).alias("length_pctile"))
        .withColumn(
            "length_flag",
            F.when(F.col("length_pctile") < LENGTH_OUTLIER_LO, "too_short")
            .when(F.col("length_pctile") > LENGTH_OUTLIER_HI, "too_long")
            .otherwise("ok"),
        )
    )


LENGTH_OUTLIERS_SQL = f"""
SELECT doc_id, lang, n_chars,
       ROUND(percent_rank() OVER (
           PARTITION BY lang ORDER BY n_chars ASC, doc_id ASC), 6)
           AS length_pctile,
       CASE
           WHEN percent_rank() OVER (
               PARTITION BY lang ORDER BY n_chars ASC, doc_id ASC)
               < {LENGTH_OUTLIER_LO} THEN 'too_short'
           WHEN percent_rank() OVER (
               PARTITION BY lang ORDER BY n_chars ASC, doc_id ASC)
               > {LENGTH_OUTLIER_HI} THEN 'too_long'
           ELSE 'ok'
       END AS length_flag
FROM documents
"""


def q_cross_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Texts appearing under multiple sources — the scraped-twice signal that
    inflates dedup rates between crawls. Keyed on a 200-char prefix hash
    rather than the full text: re-scrapes of the same page differ in trailing
    boilerplate far more often than in the lede, and the prefix key catches
    those while full-text md5 finds nothing at small corpus scale. One
    groupBy with a distinct-source count; output is duplicate-key
    cardinality, so it stays tiny no matter the corpus size."""
    docs = read_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5(F.substring("text", 1, 200)).alias("prefix_hash"))
        .agg(
            F.countDistinct("source").cast("long").alias("n_sources"),
            F.count("*").cast("long").alias("n_docs"),
            F.min("doc_id").alias("first_doc_id"),
        )
        .filter(F.col("n_sources") > 1)
    )


CROSS_SOURCE_SQL = """
SELECT md5(substr(text, 1, 200)) AS prefix_hash,
       COUNT(DISTINCT source) AS n_sources,
       COUNT(*) AS n_docs,
       MIN(doc_id) AS first_doc_id
FROM documents
GROUP BY md5(substr(text, 1, 200))
HAVING COUNT(DISTINCT source) > 1
"""


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """llmops.textstats.doc_chunks over the documents table. The full
    chunk text rides in the output so the driver hash covers the substring
    arithmetic, not just the offsets."""
    return textstats.doc_chunks(
        read_table(spark, sf_dir, "documents"),
        chunk_size=CHUNK_SIZE,
        overlap=CHUNK_OVERLAP,
    ).orderBy("doc_id", "chunk_id")


# identical start-offset rule: multiples of stride while
# start <= len - overlap - 1 (generate_series upper bound is inclusive,
# matching Spark's F.sequence)
DOC_CHUNKS_SQL = f"""
WITH starts AS (
    SELECT doc_id, text,
           UNNEST(generate_series(
               0, GREATEST(LENGTH(text) - {CHUNK_OVERLAP} - 1, 0),
               {CHUNK_SIZE - CHUNK_OVERLAP})) AS chunk_start
    FROM documents
),
numbered AS (
    SELECT doc_id, chunk_start,
           CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY chunk_start)
                - 1 AS INTEGER) AS chunk_id,
           SUBSTRING(text, chunk_start + 1, {CHUNK_SIZE}) AS chunk_text
    FROM starts
)
SELECT doc_id, chunk_id, CAST(chunk_start AS INTEGER) AS chunk_start,
       chunk_text, CAST(LENGTH(chunk_text) AS INTEGER) AS chunk_len
FROM numbered
ORDER BY doc_id, chunk_id
"""


TOK_CHUNK = 40
TOK_OVERLAP = 5


def q_doc_chunks_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """llmops.textstats.doc_chunks_tokens over the documents table: the
    token-budget chunking grain (windows of whole whitespace tokens, no
    word split). Full chunk text in the output, so the driver hash covers
    the slice + re-join, not just the offsets."""
    return textstats.doc_chunks_tokens(
        read_table(spark, sf_dir, "documents"),
        chunk_tokens=TOK_CHUNK,
        overlap_tokens=TOK_OVERLAP,
    ).orderBy("doc_id", "chunk_id")


# identical start rule over TOKEN indexes; list_slice is 1-based inclusive
# and clamps at the list end, matching Spark's F.slice
DOC_CHUNKS_TOKENS_SQL = f"""
WITH t AS (
    SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
starts AS (
    SELECT doc_id, toks,
           UNNEST(generate_series(
               0, GREATEST(len(toks) - {TOK_OVERLAP} - 1, 0),
               {TOK_CHUNK - TOK_OVERLAP})) AS tok_start
    FROM t
),
windows AS (
    SELECT doc_id, tok_start,
           list_slice(toks, tok_start + 1, tok_start + {TOK_CHUNK}) AS w
    FROM starts
)
SELECT doc_id,
       CAST(tok_start / {TOK_CHUNK - TOK_OVERLAP} AS BIGINT) AS chunk_id,
       CAST(tok_start AS BIGINT) AS tok_start,
       CAST(len(w) AS BIGINT) AS n_chunk_tokens,
       array_to_string(w, ' ') AS chunk_text
FROM windows
ORDER BY doc_id, chunk_id
"""


PACK_BUDGET = 1000
PACK_GROUPS = 8


def q_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """llmops.corpus.pack_chunks over doc_chunks(documents): the chunk ->
    pack stage of a pretraining corpus build. The chunk_uids string rides
    in the output so the driver hash pins the exact pack membership, not
    just the rollup stats."""
    chunks = textstats.doc_chunks(
        read_table(spark, sf_dir, "documents"),
        chunk_size=CHUNK_SIZE,
        overlap=CHUNK_OVERLAP,
    )
    return corpus.pack_chunks(
        chunks, budget=PACK_BUDGET, n_groups=PACK_GROUPS
    ).orderBy("pack_group", "pack_seq")


# identical layout rule: chunks ordered by md5(doc_id:chunk_id) inside a
# 60-bit-hash group, packs cut where the EXCLUSIVE running length crosses a
# budget multiple (the straddling chunk joins the pack where it starts)
PACK_CHUNKS_SQL = f"""
WITH starts AS (
    SELECT doc_id, text,
           UNNEST(generate_series(
               0, GREATEST(LENGTH(text) - {CHUNK_OVERLAP} - 1, 0),
               {CHUNK_SIZE - CHUNK_OVERLAP})) AS chunk_start
    FROM documents
),
chunks AS (
    SELECT doc_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY chunk_start)
                - 1 AS INTEGER) AS chunk_id,
           LENGTH(SUBSTRING(text, chunk_start + 1, {CHUNK_SIZE})) AS chunk_len
    FROM starts
),
keyed AS (
    SELECT doc_id || ':' || chunk_id AS chunk_uid,
           md5(doc_id || ':' || chunk_id) AS pack_key,
           chunk_len,
           CAST(('0x' || substr(md5(doc_id || ':' || chunk_id), 1, 15))::BIGINT
                % {PACK_GROUPS} AS INTEGER) AS pack_group
    FROM chunks
),
assigned AS (
    SELECT *,
           CAST(FLOOR(COALESCE(SUM(chunk_len) OVER (
               PARTITION BY pack_group ORDER BY pack_key, chunk_uid
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               / {PACK_BUDGET}) AS INTEGER) AS pack_seq
    FROM keyed
)
SELECT pack_group, pack_seq,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(chunk_len) AS BIGINT) AS total_chars,
       ROUND(SUM(chunk_len) / {PACK_BUDGET}.0, 4) AS fill_ratio,
       string_agg(chunk_uid, ',' ORDER BY chunk_uid) AS chunk_uids
FROM assigned
GROUP BY pack_group, pack_seq
ORDER BY pack_group, pack_seq
"""


def q_dup_ngram_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """llmops.textstats.cross_doc_ngram_dup over the documents table: the
    fraction of each document's token 5-gram windows whose 5-gram occurs
    in at least one OTHER document (Lee et al. 2022 substring-granularity
    duplication signal — the cross-doc complement of repetition_stats'
    within-doc measures)."""
    return textstats.cross_doc_ngram_dup(
        read_table(spark, sf_dir, "documents"), n=NGRAM_DUP_N
    ).orderBy("doc_id")


# identical gram keying: 16-hex md5 prefix of the space-joined token
# window (portable across engines); a window is "dup" iff its gram occurs
# in >= 2 DISTINCT documents. generate_series(1, len-4) is empty when
# len(toks) < 5, matching the Spark branch that emits array().
DUP_NGRAM_SQL = f"""
WITH t AS (
    SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
grams AS (
    SELECT doc_id,
           substring(md5(array_to_string(
               list_slice(toks, i, i + {NGRAM_DUP_N - 1}), ' ')), 1, 16)
               AS gram_key
    FROM t, LATERAL (SELECT UNNEST(generate_series(
        1, len(toks) - {NGRAM_DUP_N - 1})) AS i) s
),
gram_docs AS (
    SELECT gram_key, COUNT(DISTINCT doc_id) AS nd FROM grams GROUP BY gram_key
),
per_doc AS (
    SELECT g.doc_id,
           COUNT(*) AS nw,
           SUM(CASE WHEN d.nd >= 2 THEN 1 ELSE 0 END) AS ndup
    FROM grams g JOIN gram_docs d USING (gram_key)
    GROUP BY g.doc_id
)
SELECT t.doc_id,
       CAST(COALESCE(p.nw, 0) AS BIGINT) AS n_windows,
       CAST(COALESCE(p.ndup, 0) AS BIGINT) AS n_dup_windows,
       ROUND(CASE WHEN COALESCE(p.nw, 0) = 0 THEN 0.0
             ELSE CAST(p.ndup AS DOUBLE) / p.nw END, 4) AS dup_ratio
FROM t LEFT JOIN per_doc p USING (doc_id)
ORDER BY doc_id
"""


def q_corpus_build_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """llmops.corpus.corpus_build_summary: the END-TO-END corpus build
    (quality gate -> MinHash-LSH dedup survivors -> chunk -> pack) as one
    driver-hashed scorecard row — the llmops flagship the way
    q0_full_etl is the warehouse flagship. Every constant is shared with
    the already-registered constituent queries (quality_filter thresholds,
    minhash JACCARD_THRESHOLD, doc_chunks CHUNK_SIZE/OVERLAP, pack_chunks
    PACK_BUDGET/PACK_GROUPS), so this row pins the COMPOSITION: stage
    wiring, filter-before-dedup ordering, survivor anti-join, and the
    chunk->pack totals."""
    docs = read_table(spark, sf_dir, "documents")
    return corpus.corpus_build_summary(
        docs,
        min_tokens=QF_MIN_TOKENS,
        max_tokens=QF_MAX_TOKENS,
        max_stopword_ratio=QF_MAX_STOPWORD_RATIO,
        min_avg_token_len=QF_MIN_AVG_TOKEN_LEN,
        dedup_threshold=JACCARD_THRESHOLD,
        chunk_size=CHUNK_SIZE,
        overlap=CHUNK_OVERLAP,
        pack_budget=PACK_BUDGET,
        pack_groups=PACK_GROUPS,
    )


# The composed twin: quality stats (QUALITY_FILTER_SQL machinery) ->
# quadratic 3-shingle jaccard edges over the KEPT subset (valid while LSH
# recall is 100% — same equivalence the dup_clusters_lsh oracle relies on)
# -> recursive-CTE components -> survivor anti-filter -> the doc_chunks /
# pack_chunks machinery verbatim -> one scorecard row.
CORPUS_BUILD_SQL = f"""
WITH RECURSIVE t AS (
    SELECT doc_id, text, string_split(text, ' ') AS toks,
           length(text) AS nc
    FROM documents
),
s AS (
    SELECT doc_id, text,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           ROUND(CAST(len(list_filter(toks, x -> x IN ({_STOP_SQL})))
                 AS DOUBLE) / len(toks), 4) AS stopword_ratio,
           ROUND(CAST(nc - (len(toks) - 1) AS DOUBLE) / len(toks), 4)
               AS avg_token_len
    FROM t
),
kept AS (
    SELECT doc_id, text FROM s
    WHERE n_tokens >= {QF_MIN_TOKENS} AND n_tokens <= {QF_MAX_TOKENS}
      AND stopword_ratio <= {QF_MAX_STOPWORD_RATIO}
      AND avg_token_len >= {QF_MIN_AVG_TOKEN_LEN}
),
ktoks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM kept),
sh AS (
    SELECT doc_id, unnest(list_distinct(
        CASE WHEN len(tk) >= 3
             THEN list_transform(range(1, len(tk) - 1),
                                 i -> array_to_string(list_slice(tk, i, i + 2), ' '))
             ELSE [array_to_string(tk, ' ')] END)) AS w
    FROM ktoks
),
sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM sh GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
    FROM sh a JOIN sh b ON a.w = b.w AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
j AS (
    SELECT doc_a, doc_b
    FROM inter
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE ROUND(CAST(n_common AS DOUBLE)
                / (sa.set_size + sb.set_size - n_common), 4)
          >= {JACCARD_THRESHOLD}
),
edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM j
    UNION ALL
    SELECT doc_b, doc_a FROM j
),
reach(node, comp) AS (
    SELECT src, src FROM edges
    UNION
    SELECT e.src, r.comp FROM edges e JOIN reach r ON r.node = e.dst
),
cc AS (SELECT node, MIN(comp) AS cluster_id FROM reach GROUP BY node),
survivors AS (
    SELECT doc_id, text FROM kept
    WHERE doc_id NOT IN (SELECT node FROM cc WHERE node <> cluster_id)
),
starts AS (
    SELECT doc_id, text,
           UNNEST(generate_series(
               0, GREATEST(LENGTH(text) - {CHUNK_OVERLAP} - 1, 0),
               {CHUNK_SIZE - CHUNK_OVERLAP})) AS chunk_start
    FROM survivors
),
chunks AS (
    SELECT doc_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY chunk_start)
                - 1 AS INTEGER) AS chunk_id,
           LENGTH(SUBSTRING(text, chunk_start + 1, {CHUNK_SIZE})) AS chunk_len
    FROM starts
),
keyed AS (
    SELECT md5(doc_id || ':' || chunk_id) AS pack_key,
           doc_id || ':' || chunk_id AS chunk_uid,
           chunk_len,
           CAST(('0x' || substr(md5(doc_id || ':' || chunk_id), 1, 15))::BIGINT
                % {PACK_GROUPS} AS INTEGER) AS pack_group
    FROM chunks
),
assigned AS (
    SELECT *,
           CAST(FLOOR(COALESCE(SUM(chunk_len) OVER (
               PARTITION BY pack_group ORDER BY pack_key, chunk_uid
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               / {PACK_BUDGET}) AS INTEGER) AS pack_seq
    FROM keyed
),
packs AS (
    SELECT pack_group, pack_seq, COUNT(*) AS n
    FROM assigned GROUP BY 1, 2
)
SELECT CAST((SELECT COUNT(*) FROM documents) AS BIGINT) AS n_docs,
       CAST((SELECT COUNT(*) FROM kept) AS BIGINT) AS n_quality_kept,
       CAST((SELECT COUNT(*) FROM kept)
            - (SELECT COUNT(*) FROM survivors) AS BIGINT) AS n_dup_dropped,
       CAST((SELECT COUNT(*) FROM survivors) AS BIGINT) AS n_survivors,
       CAST((SELECT COUNT(*) FROM chunks) AS BIGINT) AS n_chunks,
       CAST((SELECT COALESCE(SUM(chunk_len), 0) FROM chunks) AS BIGINT)
           AS total_chunk_chars,
       CAST((SELECT COUNT(*) FROM packs) AS BIGINT) AS n_packs,
       ROUND(CAST((SELECT SUM(chunk_len) FROM chunks) AS DOUBLE)
             / ((SELECT COUNT(*) FROM packs) * {PACK_BUDGET}), 4)
           AS overall_fill_ratio
"""


def q_dup_ngram_bloom_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE path of dup_ngram_profile: same per-doc duplicated
    n-gram profile with the corpus-scale count join-back replaced by a
    broadcast Bloom membership test (llmops.bloom — native bit_or bitmap,
    Kirsch-Mitzenmacher double hashing over the portable md5 key). The
    filter is deterministic md5 arithmetic, so even though the operator
    is approximate-by-contract (no false negatives, bounded false
    positives), its OUTPUT is exactly reproducible — and the oracle
    recomputes the identical bitmap and probes, so the driver hash pins
    the whole approximate path bit-for-bit."""
    return textstats.cross_doc_ngram_dup_bloom(
        read_table(spark, sf_dir, "documents"),
        n=NGRAM_DUP_N,
        n_bits=BLOOM_BITS,
        k=BLOOM_K,
    ).orderBy("doc_id")


def _dup_ngram_bloom_sql(n_bits: int = BLOOM_BITS, k: int = BLOOM_K) -> str:
    """The bloom twin: identical gram keys, dup set via min<>max, the
    same 63-bit-word bit_or bitmap, and k left joins replicating the k
    probes (1::BIGINT << 63 would overflow where Spark wraps — the shared
    63-bit word convention keeps both engines in range)."""
    probe = "((h1 + {i}*h2) % {m})"
    joins = "\n".join(
        f"    LEFT JOIN bitmap b{i} ON b{i}.word_idx = "
        f"CAST(FLOOR({probe.format(i=i, m=n_bits)} / 63) AS BIGINT)"
        for i in range(1, k + 1)
    )
    cond = "\n           AND ".join(
        f"(COALESCE(b{i}.bits, 0) & (1::BIGINT << "
        f"CAST({probe.format(i=i, m=n_bits)} % 63 AS INTEGER))) <> 0"
        for i in range(1, k + 1)
    )
    return f"""
WITH t AS (
    SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
grams AS (
    SELECT doc_id,
           substring(md5(array_to_string(
               list_slice(toks, i, i + {NGRAM_DUP_N - 1}), ' ')), 1, 16)
               AS gram_key
    FROM t, LATERAL (SELECT UNNEST(generate_series(
        1, len(toks) - {NGRAM_DUP_N - 1})) AS i) s
),
dup_keys AS (
    SELECT gram_key FROM grams
    GROUP BY gram_key HAVING MIN(doc_id) <> MAX(doc_id)
),
pos AS (
    SELECT ((h1 + i.i * h2) % {n_bits}) AS p
    FROM (SELECT ('0x' || substr(gram_key, 1, 8))::BIGINT AS h1,
                 ('0x' || substr(gram_key, 9, 8))::BIGINT AS h2
          FROM dup_keys),
         (SELECT UNNEST(generate_series(1, {k})) AS i) i
),
bitmap AS (
    SELECT CAST(FLOOR(p / 63) AS BIGINT) AS word_idx,
           bit_or(1::BIGINT << CAST(p % 63 AS INTEGER)) AS bits
    FROM pos GROUP BY 1
),
probes AS (
    SELECT doc_id,
           ('0x' || substr(gram_key, 1, 8))::BIGINT AS h1,
           ('0x' || substr(gram_key, 9, 8))::BIGINT AS h2
    FROM grams
),
tested AS (
    SELECT doc_id,
           ({cond}) AS hit
    FROM probes
{joins}
),
per_doc AS (
    SELECT doc_id, COUNT(*) AS nw,
           SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS ndup
    FROM tested GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(COALESCE(p.nw, 0) AS BIGINT) AS n_windows,
       CAST(COALESCE(p.ndup, 0) AS BIGINT) AS n_dup_windows,
       ROUND(CASE WHEN COALESCE(p.nw, 0) = 0 THEN 0.0
             ELSE CAST(p.ndup AS DOUBLE) / p.nw END, 4) AS dup_ratio
FROM t LEFT JOIN per_doc p USING (doc_id)
ORDER BY doc_id
"""


DUP_NGRAM_BLOOM_SQL = _dup_ngram_bloom_sql()


def q_embedding_covariance_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed second-moment statistics (llmops.pca): one mapInPandas
    pass accumulates per-partition Gram partials (numpy matmul over Arrow
    batches), combined into the population covariance matrix. The driver
    row verifies the upper-triangle 8x8 block against DuckDB's covar_pop —
    hash-proving the distributed accumulation exactly; the eigen layer on
    top (pca/project) is pytest-verified vs numpy on the same matrix."""
    from wsspark.llmops import pca

    embs = read_table(spark, sf_dir, "embeddings")
    cov = pca.covariance(embs)
    rows = [
        (i + 1, j + 1, round(float(cov[i, j]), 6))
        for i in range(8)
        for j in range(i, 8)
    ]
    return local_frame(spark, rows, "i int, j int, cov double")


def _covariance_block_sql(block: int = 8) -> str:
    parts = [
        f"SELECT {i} AS i, {j} AS j, "
        f"ROUND(covar_pop(embedding[{i}], embedding[{j}]), 6) AS cov "
        f"FROM embeddings"
        for i in range(1, block + 1)
        for j in range(i, block + 1)
    ]
    return "\nUNION ALL\n".join(parts)


EMB_COV_SQL = _covariance_block_sql()


QUERIES = [
    # r16 slot swap: six strongest never-driver-verified folded queries
    # promoted (LAST_GREEN=0 sorts them into the next window head) —
    # the RRF fusion stage, the only market-basket shape, the only
    # triangle/clustering-coefficient shape, exact median/MAD, the
    # cluster-aware split, and Cohen's kappa.
    Query("hybrid_related_docs", q_hybrid_related_docs, HYBRID_SQL,
          "BM25 + cosine reciprocal-rank-fusion hybrid retrieval"),
    Query("frequent_part_pairs", q_frequent_part_pairs, FREQUENT_PAIRS_SQL,
          "frequent co-ordered part pairs with support + lift"),
    Query("part_triangle_stats", q_part_triangle_stats, TRIANGLE_SQL,
          "co-order part-graph triangles + clustering coefficient"),
    Query("robust_event_outliers", q_robust_event_outliers,
          ROBUST_OUTLIERS_SQL,
          "exact median/MAD outlier fence per event type"),
    Query("leakage_safe_split", q_leakage_safe_split, LEAKAGE_SAFE_SPLIT_SQL,
          "near-dup-cluster-aware train/test split (no split-boundary "
          "leakage)"),
    Query("gate_agreement_kappa", q_gate_agreement_kappa,
          _gate_kappa_sql(),
          "Cohen's kappa: full quality gate vs its stopword rule alone"),
    # PROMOTED r14 (slot swap): four folded queries that had never seen
    # the driver gate take the slots of four retired redundant siblings
    # (doc_fingerprint_candidates, embedding_norm_profile,
    # moving_avg_trends, streaming_daily_counts — all folded below).
    Query("exact_price_quantiles", q_exact_price_quantiles,
          EXACT_QUANTILES_SQL,
          "exact per-group quantiles via radix bisection (no sort)"),
    Query("snapstore_optimize_read", q_snapstore_optimize_read,
          SNAPSTORE_OPTIMIZE_SQL,
          "OPTIMIZE ZORDER roundtrip through the pruned range read"),
    Query("snapstore_restore_read", q_snapstore_restore_read,
          SNAPSTORE_RESTORE_SQL,
          "restore to a dv-carrying version after an overwrite"),
    Query("prefix_jaccard_pairs", q_prefix_jaccard_pairs, PREFIX_JACCARD_SQL,
          "AllPairs prefix-filtered exact Jaccard join (subquadratic)"),
    # doc_stats retired to the folded tier in r13 (slot swap — see
    # FOLDED_QUERIES); implementation + SQL stay here.
    Query("minhash_dedup_pairs", q_minhash_dedup_pairs, MINHASH_PAIRS_SQL,
          "MinHash+LSH near-dup (scale path, exact-verified candidates)"),
    Query("lang_id", q_lang_id, LANG_ID_SQL,
          "stopword-profile language identification"),
    # doc_fingerprint_candidates retired to the folded tier in r14 (slot
    # swap — see FOLDED_QUERIES); implementation + SQL stay here.
    Query("ann_cosine_topk", q_ann_cosine_topk, ANN_SQL,
          "brute-force cosine top-k over embeddings"),
    Query("embedding_dup_pairs", q_embedding_dup_pairs, EMB_DUP_SQL,
          "embedding-cosine near-dup pairs, cell-blocked"),
    Query("ivf_pq_search", q_ivf_pq_search, IVF_PQ_SQL,
          "full ANN ladder: IVF cells -> PQ ADC shortlist -> exact re-rank"),
    Query("json_extract_agg", q_json_extract_agg, JSON_EXTRACT_SQL,
          "JSON props extraction + bucketed rollup (F7 analog)"),
    Query("sessionize", q_sessionize, SESSIONIZE_SQL,
          "gap-based sessionization (batch form of session windows)"),
    Query("multimodal_features", q_multimodal_features, MULTIMODAL_SQL,
          "binary-column feature extraction via Arrow mapInPandas (stub decode)"),
    # embedding_norm_profile retired to the folded tier in r14 (slot
    # swap — see FOLDED_QUERIES); implementation + SQL stay here.
    Query("embedding_covariance_block", q_embedding_covariance_block,
          EMB_COV_SQL,
          "distributed Gram-partial covariance vs covar_pop (PCA base)"),
    Query("tfidf_top_terms", q_tfidf_top_terms, TFIDF_SQL,
          "per-document top TF-IDF term (broadcast df join + top-1 window)"),
    Query("decontam_overlap", q_decontam_overlap, DECONTAM_SQL,
          "test-set decontamination: corpus x benchmark n-gram overlap"),
    Query("stratified_sample", q_stratified_sample, STRATIFIED_SAMPLE_SQL,
          "deterministic hash-gated per-language sampling (domain mixing)"),
    Query("quality_filter", q_quality_filter, QUALITY_FILTER_SQL,
          "rule-based corpus quality gate with reject reasons"),
    Query("repetition_stats", q_repetition_stats, REPETITION_SQL,
          "Gopher-style repetition signals: top-word share + unique ratio"),
    Query("bigram_lm_scores", q_bigram_lm_scores, BIGRAM_LM_SQL,
          "corpus-self-trained bigram LM perplexity quality filter"),
    Query("normalized_dedup_groups", q_normalized_dedup_groups, NORMALIZED_DEDUP_SQL,
          "exact-dup groups on case/punct/whitespace-normalized text"),
    Query("pii_summary", q_pii_summary, PII_SUMMARY_SQL,
          "per-source PII match prevalence (email/ssn/phone/ipv4 regexes)"),
    Query("kmeans_cells", q_kmeans_cells, KMEANS_CELLS_SQL,
          "distributed Lloyd's k-means cluster sizes (unrolled-Lloyd oracle)"),
    Query("dup_clusters_lsh", q_dup_clusters_lsh, DUP_CLUSTERS_LSH_SQL,
          "scale path: MinHash-LSH pairs -> connected-component clusters"),
    Query("corpus_dedup_stats", q_corpus_dedup_stats, CORPUS_DEDUP_STATS_SQL,
          "one-row dedup scorecard across exact/normalized/near layers"),
    Query("length_outliers", q_length_outliers, LENGTH_OUTLIERS_SQL,
          "percent_rank length-outlier gate per language"),
    Query("cross_source_overlap", q_cross_source_overlap, CROSS_SOURCE_SQL,
          "verbatim texts appearing under multiple sources"),
    Query("doc_chunks_tokens", q_doc_chunks_tokens, DOC_CHUNKS_TOKENS_SQL,
          "token-aligned chunking grain (whole-token windows, no split "
          "words; shuffle-free explode)"),
    Query("pack_chunks", q_pack_chunks, PACK_CHUNKS_SQL,
          "deterministic fixed-budget sequence packing of doc_chunks "
          "(chunk -> pack stage of a pretraining corpus build)"),
    Query("semantic_dedup_survivors", q_semantic_dedup_survivors,
          SEMANTIC_SURVIVORS_SQL,
          "SemDeDup keep-set: anti-join of the cell-blocked embedding "
          "dup pairs (greedy keep-first-by-id)"),
    Query("corpus_build_summary", q_corpus_build_summary, CORPUS_BUILD_SQL,
          "end-to-end corpus build scorecard: quality gate -> LSH dedup "
          "survivors -> chunk -> pack (llmops flagship)"),
    Query("dup_ngram_bloom_profile", q_dup_ngram_bloom_profile,
          DUP_NGRAM_BLOOM_SQL,
          "scale path of dup_ngram_profile: broadcast Bloom membership "
          "(native bit_or bitmap, deterministic md5 probes)"),
    # Promoted folded -> registry (r11 slot swap; see FOLDED_QUERIES doc):
    # the drift gate, the exact AUC, and the K-D zorder roundtrip now run
    # under the DRIVER's DuckDB gate; the slots came from three retired
    # redundant family members (movement_quantity_quantiles,
    # ann_recall_at_k, dup_ngram_profile — all folded below, still
    # oracle-hash-gated every session by tests/test_folded_oracles.py).
    Query("snapshot_drift_report", q_snapshot_drift_report,
          SNAPSHOT_DRIFT_SQL,
          "PSI drift report between two snapshots (numeric + categorical)"),
    Query("quality_gate_auc", q_quality_gate_auc, _auc_sql(),
          "exact tie-aware ROC-AUC of the quality gate score"),
    # snapstore_zorder_nd_read retired to the folded tier in r15 (slot
    # swap — see FOLDED_QUERIES); implementation + SQL stay here.
    # PROMOTED r15 (slot swap): six folded queries that had never seen
    # the driver gate take the slots of six retired redundant siblings
    # (snapstore_zorder_nd_read, large_orders, small_quantity_revenue,
    # order_priority_counts, returned_top_customers, nation_market_share
    # — all folded below with rationale).
    Query("snapstore_pruned_dml_read", q_snapstore_pruned_dml_read,
          SNAPSTORE_PRUNED_DML_SQL,
          "O(1)-head multipart store: append + pruned DML + pruned read"),
    Query("bm25_search", q_bm25_search, BM25_SQL,
          "Okapi BM25 top-k more-like-this ranking"),
    Query("token_heavy_hitters", q_token_heavy_hitters,
          TOKEN_HEAVY_HITTERS_SQL,
          "exact frequent tokens via sketch-candidates + exact verify"),
    # (movement_cube is appended after the late `core` import below —
    # same r15 promotion batch; registry order is cosmetic, the driver
    # window orders by LAST_GREEN.)
    Query("warehouse_hop_distances", q_warehouse_hop_distances, SSSP_SQL,
          "multi-source BFS hop distances over transfer routes"),
    Query("price_corr_matrix", q_price_corr_matrix, PRICE_CORR_SQL,
          "per-group correlation matrix in one aggregation"),
    # Promoted folded -> registry (r12 slot swap; see FOLDED_QUERIES doc):
    # the r11 table-format DML wave (dv-delete, COW update, WAP) and the
    # KS drift statistic now run under the DRIVER's DuckDB gate; the
    # slots came from four retired redundant family members
    # (token_doc_frequency, bigram_topk, dup_clusters, dedup_survivors —
    # all folded below, still oracle-hash-gated every session by
    # tests/test_folded_oracles.py).
    # ks_drift_report retired to the folded tier in r16 (slot swap —
    # see FOLDED_QUERIES); implementation + SQL stay here.
    Query("snapstore_dv_delete_read", q_snapstore_dv_delete_read,
          SNAPSTORE_DV_SQL,
          "deletion-vector DELETE read back through the DV anti-join"),
    Query("snapstore_update_read", q_snapstore_update_read,
          SNAPSTORE_UPDATE_SQL,
          "copy-on-write UPDATE over a dv-deleted snapshot"),
    Query("snapstore_wap_read", q_snapstore_wap_read, SNAPSTORE_WAP_SQL,
          "write-audit-publish staged append read back"),
    # Promoted folded -> registry (r13 slot swap; see FOLDED_QUERIES doc):
    # the r12 table-format CDC/DML wave (change data feed, CDF-driven
    # IVM, shallow clone, replaceWhere, conditional/sync merge) and the
    # fused drift suite now run under the DRIVER's DuckDB gate; the
    # slots came from six retired redundant family members
    # (daily_trend_windows, transfer_receipts, movement_rollup,
    # nation_trade_volume, streaming_event_dedup, doc_stats — all folded
    # below, still oracle-hash-gated every session by
    # tests/test_folded_oracles.py).
    Query("drift_suite_report", q_drift_suite_report, _drift_suite_sql(),
          "fused PSI/KS/top-k/embedding drift suite over one scan"),
    Query("snapstore_cdf_read", q_snapstore_cdf_read, SNAPSTORE_CDF_SQL,
          "change-data-feed read across append/update/delete commits"),
    Query("mv_refresh_cdf", q_mv_refresh_cdf, MV_REFRESH_CDF_SQL,
          "change-feed-driven incremental MV maintenance under DML"),
    Query("snapstore_clone_read", q_snapstore_clone_read,
          SNAPSTORE_CLONE_SQL,
          "shallow clone write isolation: DML'd clone + intact source"),
    Query("snapstore_replace_where_read", q_snapstore_replace_where_read,
          SNAPSTORE_REPLACE_WHERE_SQL,
          "replaceWhere: atomic region swap over a dv-carrying store"),
    Query("snapstore_merge_sync_read", q_snapstore_merge_sync_read,
          SNAPSTORE_MERGE_SYNC_SQL,
          "conditional WHEN MATCHED + not-matched-by-source sync merge"),
]

# Registry-slot policy (round 6): the driver window holds 50 of a 100-query
# ceiling (2x window = the every-other-round verification guarantee pinned
# by tests/test_registry.py). When the registry nears the ceiling, CONSOLIDATE
# before relaxing the bound: near-duplicate diagnostics whose outputs are
# constituents of a stronger registered check get folded here. These keep
# their full DuckDB-oracle hash check in pytest (tests/test_folded_oracles.py,
# which reuses tools/driver_sim's canonical/hash compare at sf0.001) — they
# just no longer consume driver slots. ivf_ann_topk and quantized_ann_topk
# are the constituents of ann_recall_at_k (which hash-checks recall of BOTH
# against brute-force truth every rotation). dead_stock is the raw
# per-position frame whose identical upstream (inv.dead_stock_report — same
# call, same args) is re-verified through dead_stock_aging's bucketed rollup;
# daily_trends is consumed verbatim by moving_avg_trends (its first two
# columns ARE the daily_trends frame) with day-name labeling hash-checked by
# peak_day_of_week.
def _folded_core():
    from wsspark.queries import core

    return [
        Query("dead_stock", core.q_dead_stock, core.DEAD_STOCK_SQL,
              "dead stock report (A1 J1 P5 P6)"),
        Query("daily_trends", core.q_daily_trends, core.DAILY_TRENDS_SQL,
              "gap-filled daily counts + day names (W1 W3)"),
        # Folded r7 (pack_chunks took its slot): LIFO shares the layered
        # receipt machinery with the registered fifo_valuation — identical
        # window/lineage, only the consumption sort direction differs
        # (ops/functions.py layered_valuation) — so FIFO's driver hash
        # re-verifies the shared path every rotation while LIFO's own
        # direction flip stays hash-checked here.
        Query("lifo_valuation", core.q_lifo_valuation, core.LIFO_VALUATION_SQL,
              "LIFO valuation: newest-first consumption over dated receipt "
              "layers (M4 LIFO)"),
        # (r7 note: CUBE and ROLLUP share the single-shuffle grouping-sets
        # expansion — same adapter frame, same measures, Catalyst's Expand
        # in both plans. r13: movement_rollup retired to this tier; r15:
        # movement_cube PROMOTED to the registry, so the grouping-sets
        # shape runs under the driver's gate while ROLLUP keeps its hash
        # check here via movement_rollup.)
        # Folded r7 (pagerank_transfer_routes took its slot): peak_month is
        # the calendar twin of the registered peak_day_of_week — same
        # trends->label->group->avg pipeline (ops/movements.py A11/W3),
        # only the label expression differs — so the registered query
        # re-verifies the shared path every rotation while the month-label
        # variant keeps its hash check here.
        Query("peak_month", core.q_peak_month, core.PEAK_MONTH_SQL,
              "avg movements per month name (A11)"),
        # Folded r7 (embedding_covariance_block took its slot): the J7
        # COMPLETED-only valuation shares every op with the registered
        # stock_valuation_all (same weighted-avg join chain,
        # queries/core.py — only the status filter differs), so the
        # registered query re-verifies the shared path every rotation
        # while the filtered variant keeps its hash check here.
        Query("stock_valuation_completed", core.q_stock_valuation_completed,
              core.VALUATION_COMPLETED_SQL,
              "weighted-avg valuation, COMPLETED-only variant (M4 J7)"),
        # Folded r7 (dq_expectations took its slot): weekly_trends shares
        # the W1 calendar gap-fill machinery with the registered
        # moving_avg_trends (ops/movements.py resample helper; only the
        # W-SUN label grain differs), so the registered query re-verifies
        # the shared path every rotation while the weekly grain keeps its
        # hash check here.
        Query("weekly_trends", core.q_weekly_trends, core.WEEKLY_TRENDS_SQL,
              "gap-filled W-SUN-labeled weekly counts (W1)"),
        # Folded r7 (doc_chunks_tokens took its slot): abc_class_counts is
        # the A7 per-class tally DERIVED from the registered abc_analysis
        # frame (same Pareto pipeline, one extra groupBy), so abc_analysis
        # re-verifies the shared path every rotation while the class-count
        # rollup keeps its hash check here.
        Query("abc_class_counts", core.q_abc_class_counts,
              core.ABC_COUNTS_SQL, "ABC class counts (A7)"),
        # Folded r7 (streaming_mv_refresh took its slot): top10_products is
        # the W4 pinned-order top-k shape the registered
        # top_unshipped_orders re-verifies every rotation (same
        # orderBy+limit machinery, different fact); the product-revenue
        # variant keeps its hash check here.
        Query("top10_products", core.q_top10_products, core.TOP10_SQL,
              "top-k with pinned tie-break (W4)"),
        # Folded r7 (dup_ngram_profile took its slot): monthly_trends is
        # the ME-label grain of the same W1 calendar gap-fill machinery
        # the registered moving_avg_trends re-verifies every rotation
        # (ops/movements.py resample helper; daily/weekly grains already
        # folded), so the month-end labeling keeps its hash check here.
        Query("monthly_trends", core.q_monthly_trends,
              core.MONTHLY_TRENDS_SQL,
              "gap-filled month-end-labeled counts (W1 W3)"),
        # Folded r7 (corpus_build_summary took its slot): peak_day_of_week
        # is the last of the A11/W3 trends->label->group->avg family still
        # holding a driver slot (peak_month and the daily/weekly/monthly
        # grains are already folded); the registered moving_avg_trends
        # re-verifies the shared W1 calendar machinery every rotation while
        # the day-name labeling keeps its hash check here.
        Query("peak_day_of_week", core.q_peak_day_of_week, core.PEAK_DOW_SQL,
              "avg movements per day-of-week (A11)"),
        # Folded r7 (late_sole_supplier took its slot): the registered
        # abc_analysis re-verifies the same product-revenue aggregation
        # (identical so_details adapter + cents-exact revenue grain) and
        # its Pareto ranking every rotation; the top-1/5/20-percent
        # concentration cut keeps its hash check here.
        Query("revenue_concentration", core.q_revenue_concentration,
              core.CONCENTRATION_SQL,
              "top 1/5/20 percent revenue shares (hot-key skew "
              "diagnostic)"),
        # Folded r7 (streaming_bloom_ngram_index took its slot):
        # stock_as_of is snapshot_recompute's signed-sum machinery (M1,
        # ops/functions.snapshot_from_movements — same call) with a
        # pushdown cutoff filter; the registered snapshot_recompute
        # re-verifies the shared path every rotation while the
        # point-in-time cut keeps its hash check here.
        Query("stock_as_of", core.q_stock_as_of, core.STOCK_AS_OF_SQL,
              "point-in-time snapshot via event-sourcing invariant"),
        # Added r9 (registry at the 100-slot ceiling, so the profiler's
        # driver-grade evidence lives here): the one-pass column profiler
        # was previously the only first-class operator whose sole oracle
        # was a hand-built fixture pytest; this folds it into the
        # driver-identical hash harness over real testdata. The registered
        # dq_expectations re-verifies the shared one-scan stack-unpivot
        # machinery (quality.py) every rotation.
        Query("profile_table", core.q_profile_table, core.PROFILE_TABLE_SQL,
              "one-pass deequ-style column profiler (counts, exact "
              "distincts, min/max per column)"),
    ]


def q_hashed_vector_entries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing vectorizer (llmops/hashvec.py): train-free signed
    bag-of-words vectors, sparse form. Bucket = portable md5-prefix %
    dim, sign = the 16th hex char's parity of the SAME digest (outside
    the bucket prefix, so the bits are independent), weights =
    l2-normalized signed counts. Every value is integer arithmetic plus
    one sqrt, so the DuckDB twin is bit-exact — no rounding tolerance."""
    return hashvec.hashed_vector_entries(
        read_table(spark, sf_dir, "documents"), dim=64
    )


HASHED_VECTOR_SQL = """
WITH toks AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
), hashed AS (
    SELECT doc_id,
           ('0x' || substr(md5(tok), 1, 15))::BIGINT % 64 AS bucket,
           CASE WHEN ('0x' || substr(md5(tok), 16, 1))::BIGINT % 2 = 1
                THEN 1 ELSE -1 END AS sgn
    FROM toks
), acc AS (
    SELECT doc_id, bucket, SUM(sgn) AS v
    FROM hashed GROUP BY doc_id, bucket
    HAVING SUM(sgn) <> 0
), nrm AS (
    SELECT doc_id, sqrt(SUM(v * v)) AS n FROM acc GROUP BY doc_id
)
SELECT acc.doc_id, bucket, v / n AS weight
FROM acc JOIN nrm USING (doc_id)
"""


# The retired core-module query rides FOLDED_QUERIES from here (llm.py
# owns the folded tier); core.py keeps the implementation + SQL twin.
from wsspark.queries.core import QUANTILES_SQL as _CORE_QUANTILES_SQL  # noqa: E402
from wsspark.queries.core import (  # noqa: E402
    q_movement_quantity_quantiles as _core_quantiles_query,
)

# r11 born-folded TPC-H decorrelation shapes (tpch.py owns the code)
from wsspark.queries.tpch import (  # noqa: E402
    BULK_SUPPLIERS_SQL,
    IMPORTANT_PARTS_SQL,
    MIN_COST_SQL,
    q_bulk_part_suppliers,
    q_important_parts,
    q_min_cost_supplier,
)

# r13 retirees ride FOLDED_QUERIES from here; their modules keep the
# implementations + SQL twins.
from wsspark.queries import core, streamq, tpch  # noqa: E402

# PROMOTED r15 (slot swap, with the five llm-local promotions above):
# the only grouping-sets shape in the registry, under the driver's gate.
QUERIES.append(
    Query("movement_cube", core.q_movement_cube, core.CUBE_SQL,
          "CUBE grouping-set marginals in one shuffle")
)

FOLDED_QUERIES = [
    # Retired registry -> folded (r11 slot swap): three redundant family
    # members gave their driver slots to snapshot_drift_report /
    # quality_gate_auc / snapstore_zorder_nd_read. Folding loses nothing
    # but WHO runs the check: tests/test_folded_oracles.py replays the
    # identical DuckDB hash gate every session. Retirement rationale —
    # each one's semantics stay driver-verified through a superseding
    # registered sibling:
    #  * movement_quantity_quantiles: third quantile slot — the GK family
    #    keeps brand_price_quantiles registered and exactkth keeps folded
    #    exact_price_quantiles.
    #  * ann_recall_at_k: the ANN ladder keeps ann_cosine_topk +
    #    ivf_pq_search registered; recall floors are pinned in
    #    tests/test_pq.py.
    #  * dup_ngram_profile: its scale path dup_ngram_bloom_profile stays
    #    registered and shares the gram pipeline.
    Query("movement_quantity_quantiles", _core_quantiles_query,
          _CORE_QUANTILES_SQL,
          "exact quantiles per movement type (approx at scale)"),
    Query("ann_recall_at_k", q_ann_recall_at_k, ANN_RECALL_SQL,
          "recall@k of IVF + quantized ANN vs brute-force ground truth"),
    Query("dup_ngram_profile", q_dup_ngram_profile, DUP_NGRAM_SQL,
          "cross-doc duplicated n-gram fraction per doc (substring-grain "
          "dup signal, portable md5-keyed grams)"),
    Query("ivf_ann_topk", q_ivf_ann_topk, IVF_SQL,
          "IVF-bucketed approximate cosine top-k"),
    Query("quantized_ann_topk", q_quantized_ann_topk, QUANTIZED_ANN_SQL,
          "int8-quantized shortlist + float re-rank cosine top-k"),
    # Folded r7 (streaming_chunk_dedup took its slot): n_ws_tokens is the
    # SAME F.size(tokens(text)) expression doc_stats registers as n_tokens
    # — the whitespace tokenizer stays driver-verified every rotation
    # through doc_stats; the BPE-ish regex count keeps its hash check here.
    Query("token_counts", q_token_counts, TOKEN_COUNTS_SQL,
          "whitespace + BPE-ish token counting"),
    # Born folded (r9, registry at ceiling): the hashing-trick vectorizer.
    # Bit-exact twin: integer signed counts, same sqrt, same IEEE divide.
    Query("hashed_vector_entries", q_hashed_vector_entries, HASHED_VECTOR_SQL,
          "feature-hashing doc vectors (signed bag-of-words, sparse form)"),
    # Born folded (r9, registry at ceiling): cluster-aware train/test
    # split. Bit-exact twin: same recursive-CTE closure as dup_clusters,
    # same integer Knuth gate as stratified_sample.
    # (leakage_safe_split PROMOTED to the registry in r16.)
    # Born folded (r9): the per-epoch training-shard shuffle. Bit-exact
    # twin: portable md5 permutation key, 60-bit-prefix shard, windowed
    # in-shard rank.
    Query("epoch_shard_assignment", q_epoch_shard_assignment,
          EPOCH_SHARD_SQL,
          "deterministic per-epoch corpus shuffle into balanced shards"),
    # Born folded (r9): the table format under the hash gate — a bloom-
    # pruned IN-list lookup through a freshly committed snapstore must
    # row-match the plain SQL filter (skipping soundness, driver-grade).
    Query("snapstore_point_lookup", q_snapstore_point_lookup,
          SNAPSTORE_LOOKUP_SQL,
          "manifest-bloom point lookup through the snapshot store"),
    # Born folded (r9): the deterministic sketch — KMV bottom-k hashes
    # are a pure function of the data, so the twin recomputes the exact
    # k-th hash and estimate (contrast HLL, whose state no oracle can
    # replay; it keeps the measured-accuracy certification instead).
    Query("kmv_distinct_sketch", q_kmv_distinct_sketch, KMV_SQL,
          "k-minimum-values distinct sketch (exact-verifiable)"),
    # Born folded (r9): exact triangle count via degree orientation —
    # the hub-skew-proof wedge join; twin replays orientation + joins.
    # (part_triangle_stats PROMOTED to the registry in r16.)
    # Born folded (r9): exactly-k weighted sampling without replacement,
    # integer-exact A-ES (max-of-w-uniforms identity, portable hashes).
    Query("weighted_sample_docs", q_weighted_sample_docs, WSAMPLE_SQL,
          "A-ES exactly-k quality-weighted corpus sample"),
    # Born folded (r9): exact-MAD robust outlier fence, radix-bisection
    # medians composed; twin replays both medians definitionally.
    # (robust_event_outliers PROMOTED to the registry in r16.)
    # Born folded (r9): grouped closed-form OLS — five exact-long
    # sufficient statistics, one aggregation, bit-identical twin.
    Query("brand_revenue_trend", q_brand_revenue_trend, BRAND_TREND_SQL,
          "per-brand monthly revenue OLS trend (one aggregation)"),
    # Born folded (r9): Apriori-pruned market-basket pairs; the prune is
    # lossless by anti-monotone support (re-proved by pytest equality).
    # (frequent_part_pairs PROMOTED to the registry in r16.)
    # (r9-born warehouse_hop_distances — Bellman-Ford SSSP, twin unrolls
    # the relaxation rounds — PROMOTED to the registry in r15.)
    # Born folded (r9): one-scan multi-FK orphan audit, the cross-table
    # member of the expectation family.
    Query("fk_integrity_report", q_fk_integrity_report, FK_INTEGRITY_SQL,
          "referential-integrity orphan audit in one fact scan"),
    # Born folded (r9): MERGE INTO under the hash gate — the relational
    # twin re-derives the upsert, so clause routing is row-hash-checked.
    Query("snapstore_merge_upsert", q_snapstore_merge_upsert,
          SNAPSTORE_MERGE_SQL,
          "copy-on-write MERGE (update+insert) through the table format"),
    # Born folded (r10): version-span CDC through the table format — the
    # manifest file-diff read must row-hash-match the deltas' union (the
    # feed snapstore_mv_refresh consumes; an unhashed CDC defect would
    # corrupt MVs downstream).
    Query("snapstore_cdc_span", q_snapstore_cdc_span, SNAPSTORE_CDC_SQL,
          "version-diff CDC read through the snapshot store"),
    # Born folded (r10): exact binned PR threshold sweep — classifier
    # calibration with every count and ratio row on the hash (bin-edge
    # off-by-ones are the classic silent defect).
    Query("quality_pr_curve", q_quality_pr_curve, _pr_curve_sql(),
          "precision/recall threshold sweep for the quality gate score"),
    # Born folded (r11): the bounded scale path for unbounded-cardinality
    # categorical drift — base-pinned top-k buckets + OTHER fold, the
    # explicit alternative drift_report's MAX_CAT_BUCKETS guard refuses
    # to apply silently. Rank tie-break, OTHER fold, and Laplace PSI all
    # ride the hash.
    Query("drift_topk_report", q_drift_topk_report, DRIFT_TOPK_SQL,
          "top-k + OTHER PSI drift for high-cardinality categoricals"),
    # Born folded (r11): embedding-space drift — per-dimension Welch z
    # with a Bonferroni critical value (the centroid cosine is reported
    # but never drives the verdict: zero-mean populations make it
    # noise-dominated, measured on this testdata). Quiet + planted-shift
    # polarities both on the hash.
    Query("embedding_drift_report", q_embedding_drift_report,
          _emb_drift_sql(),
          "embedding drift: max per-dim Welch z vs Bonferroni critical"),
    # Born folded (r11): exact Cohen's kappa — chance-corrected agreement
    # between the full rule gate and its stopword rule alone; integer
    # confusion counts until the final divisions.
    # (gate_agreement_kappa PROMOTED to the registry in r16.)
    # Retired registry -> folded (r12 slot swap): four redundant family
    # members gave their driver slots to ks_drift_report /
    # snapstore_dv_delete_read / snapstore_update_read /
    # snapstore_wap_read. Retirement rationale — each one's semantics
    # stay driver-verified through a superseding registered sibling:
    #  * token_doc_frequency: its document-frequency aggregation is the
    #    first stage of the registered tfidf_top_terms (same tokenizer,
    #    same DF groupBy — tfidf's hash re-verifies it every rotation).
    #  * bigram_topk: the registered bigram_lm_scores trains on the SAME
    #    bigram count frame (shared extraction); the top-k cut keeps its
    #    hash check here.
    #  * dup_clusters: superseded by the registered dup_clusters_lsh —
    #    identical min-label convergence loop over banded candidates
    #    (the scale path); the quadratic-pair variant keeps its hash here.
    #  * dedup_survivors: the survivors anti-join stays driver-verified
    #    through semantic_dedup_survivors (r11-green) and inside
    #    corpus_build_summary's fused gate->LSH->survivors pipeline.
    Query("token_doc_frequency", q_token_doc_frequency, TOKEN_DF_SQL,
          "top-50 tokens by document frequency (vocabulary profile)"),
    Query("bigram_topk", q_bigram_topk, BIGRAM_SQL,
          "corpus-wide top-k bigram frequencies (deterministic cut)"),
    Query("dup_clusters", q_dup_clusters, DUP_CLUSTERS_SQL,
          "connected-component near-dup clusters (iterative min-label)"),
    Query("dedup_survivors", q_dedup_survivors, DEDUP_SURVIVORS_SQL,
          "one representative per dup cluster + unclustered docs"),
    # Born folded (r12): the modality near-dup ladder's PAIRING stage —
    # Hamming banding + bit_count(XOR) verify over deterministic fixture
    # hashes with planted <=3-bit twins; twin = quadratic all-pairs scan.
    # The decode half stays pinned in tests/test_imagehash.py.
    Query("phash_dup_pairs_fixture", q_phash_dup_pairs, PHASH_PAIRS_SQL,
          "Hamming-banded pHash pairing stage vs the all-pairs oracle"),
    # The six entries that held these slots (drift_suite_report,
    # snapstore_cdf_read, mv_refresh_cdf, snapstore_clone_read,
    # snapstore_replace_where_read, snapstore_merge_sync_read) were
    # PROMOTED to the registry in the r13 slot swap; the six retirees
    # below took their folded places.
    # Folded r13: the rolling-window layer over the gap-filled daily
    # series — the dailies themselves are folded (daily_trends) and the
    # registered moving_avg_trends re-verifies the frame-spec
    # window machinery (same avg-over-rowsBetween) every rotation; the
    # 7-day/lag variant keeps its hash check here.
    Query("daily_trend_windows", core.q_daily_trend_windows,
          core.DAILY_WINDOWS_SQL,
          "rolling 7-day average + day-over-day lag over gap-filled dailies"),
    # Folded r13: a thin to_json projection over the registered
    # transfer_validation (same frame, envelope rendering only); the F7
    # JSON surface also stays registered through json_extract_agg.
    Query("transfer_receipts", core.q_transfer_receipts, core.RECEIPTS_SQL,
          "JSON result envelopes for transfer requests (F7)"),
    # Folded r13: ROLLUP is a subset of the grouping sets the folded
    # movement_cube hash-checks every session (same adapter frame, same
    # measures, same single-shuffle Expand).
    Query("movement_rollup", core.q_movement_rollup, core.ROLLUP_SQL,
          "ROLLUP hierarchy totals in one shuffle (grouping sets)"),
    # Folded r13: the Q7 six-table broadcast chain is strictly contained
    # in the registered nation_market_share's plan (same chain + share
    # window) and nation_year_margin (same chain + part join).
    Query("nation_trade_volume", tpch.q_nation_trade_volume,
          tpch.NATION_TRADE_SQL,
          "TPC-H Q7-shape 6-way chain with a dimension broadcast twice"),
    # Folded r13: watermark-evicted dropDuplicates — the batch twin
    # (event_dedup_first_daily) stays registered, the streaming dedup
    # family stays registered through streaming_dedup_index and
    # streaming_chunk_dedup, and cross-batch arrival/replay semantics
    # stay pinned in tests/test_streaming_dedup.py.
    Query("streaming_event_dedup", streamq.q_streaming_event_dedup,
          streamq.STREAMING_DEDUP_SQL,
          "stateful dedup: watermark-evicted dropDuplicates == DISTINCT"),
    # Folded r13: per-doc token/char/stopword stats are the CONSTITUENTS
    # of the registered quality_filter / length_outliers /
    # repetition_stats gates, which re-verify the same textstats columns
    # every rotation; the raw per-doc frame keeps its hash check here.
    Query("doc_stats", q_doc_stats, DOC_STATS_SQL,
          "text quality scoring: tokens/chars/stopword ratio"),
    # Born folded (r11): the three classic decorrelation shapes the
    # TPC-H set lacked (no partsupp table in the testdata, so each shape
    # rides lineitem's part/supplier relationships).
    Query("min_cost_supplier", q_min_cost_supplier, MIN_COST_SQL,
          "TPC-H Q2 shape: correlated MIN as one window, total tie-break"),
    Query("important_parts", q_important_parts, IMPORTANT_PARTS_SQL,
          "TPC-H Q11 shape: HAVING vs a global scalar, cents-exact"),
    Query("bulk_part_suppliers", q_bulk_part_suppliers, BULK_SUPPLIERS_SQL,
          "TPC-H Q20 shape: nested semi-joins, no correlated re-scan"),
    # (r9-born price_corr_matrix — pairwise Pearson from one aggregation
    # of exact decimal sums — PROMOTED to the registry in r15.)
    # Folded r7 (semantic_dedup_survivors took its slot): the registered
    # corpus_dedup_stats scorecard consumes exact_dedup_groups verbatim
    # (its exact-dup layer IS this query's frame) and the registered
    # normalized_dedup_groups re-verifies the md5-groupBy machinery every
    # rotation; the raw per-group frame keeps its hash check here.
    Query("dedup_exact", q_dedup_exact, DEDUP_EXACT_SQL,
          "exact dedup groups by content hash"),
    # Folded r7 (dup_ngram_bloom_profile took its slot): the char-grain
    # chunk machinery is recomputed VERBATIM inside two registered
    # oracles every rotation — pack_chunks' twin re-derives the chunks
    # (PACK_CHUNKS_SQL starts/chunks CTEs) and corpus_build_summary's
    # twin does the same over survivors — while doc_chunks_tokens keeps
    # the explode shape registered; the raw char-grain frame keeps its
    # hash check here.
    Query("doc_chunks", q_doc_chunks, DOC_CHUNKS_SQL,
          "overlapping fixed-size chunking (training-window prep, "
          "shuffle-free explode)"),
    # Folded r7 (window-balance fold; dedup family consolidation): the
    # registered dup_clusters invokes dedup.jaccard_pairs VERBATIM (same
    # lang blocking, same 1-shingle grain, higher threshold) every
    # rotation, and minhash_dedup_pairs' exact-verified output is
    # hypothesis-tested to bracket the brute-force pairs
    # (tests/test_dedup.py); the 0.6-threshold quadratic pair listing
    # keeps its hash check here.
    Query("near_dup_jaccard", q_near_dup_jaccard, NEAR_DUP_SQL,
          "exact word-set Jaccard near-dup pairs (lang-blocked)"),
    # Folded r8 (ivf_pq_search took its slot; fingerprint-family
    # consolidation): the registered doc_fingerprint_candidates
    # re-verifies the portable 60-bit md5-prefix hash + shingle machinery
    # every rotation (fingerprint.py shares the hash helper), and the
    # banded-LSH bucketing shape stays registered through
    # minhash_dedup_pairs / dup_clusters_lsh; the SimHash bit-vote
    # fingerprint + hamming band keys keep their hash check here.
    Query("simhash_fingerprints", q_simhash_fingerprints, SIMHASH_SQL,
          "SimHash fingerprints + hamming band keys (portable hash)"),
    # Added r9: the pruned join's no-false-negative contract, checked with
    # the driver's own hash machinery against the plain-join oracle.
    Query("bloom_pruned_join", q_bloom_pruned_join, BLOOM_PRUNED_JOIN_SQL,
          "bloom probe-side pruned inner join == plain join"),
    # (r9-added token_heavy_hitters — freqItems candidates + exact
    # verify — PROMOTED to the registry in r15.)
    # Added r9: the train-free embedding LSH family (llmops/srp). The
    # signature projection is the family's entire numeric surface (band
    # keys are bit slices of it; candidates are an equi-join on them), so
    # the bit-exact DuckDB twin here covers the whole chain's arithmetic;
    # banding recall semantics are pinned on a constructed near-dup
    # corpus in tests/test_llmops.py.
    Query("srp_signatures", q_srp_signatures, SRP_SIGNATURES_SQL,
          "packed random-hyperplane LSH signatures (bit-exact twin)"),
    # Added r9: the sketch family's frequency member (llmops/cms). The
    # counter matrix is the operator's entire state — estimates are min
    # probes over it — so the bit-exact twin here pins the whole
    # approximate structure; the estimate-side guarantees (no
    # underestimate, bounded overcount, merge linearity) are pinned in
    # tests/test_llmops.py.
    Query("cms_token_sketch", q_cms_token_sketch, CMS_TOKEN_SKETCH_SQL,
          "count-min sketch counters (bit-exact twin)"),
    # Added r9: lexical retrieval + hybrid fusion (llmops/retrieval) —
    # the text side of the retrieval pair whose vector side is the ANN
    # ladder. Ranks order by 6dp-rounded scores so the full pipelines
    # (postings -> idf -> tf-norm -> top-k; + cosine leg + RRF) are
    # exactly SQL-expressible and hash-checked end to end. (r15:
    # bm25_search PROMOTED to the registry; the RRF fusion stage keeps
    # its hash check here.)
    # (hybrid_related_docs PROMOTED to the registry in r16.)
    # Retired registry -> folded (r14 slot swap): four redundant family
    # members gave their driver slots to exact_price_quantiles /
    # snapstore_optimize_read / snapstore_restore_read /
    # prefix_jaccard_pairs (none of which had ever held a driver row).
    # Each retiree's machinery stays driver-verified through registered
    # siblings; the folded oracle hash replays every session:
    #  * doc_fingerprint_candidates: near-dup candidate generation keeps
    #    minhash_dedup_pairs + dup_clusters_lsh registered (winnowing
    #    fingerprints share the shingle+portable-hash pipeline).
    #  * embedding_norm_profile: a diagnostics profile; the embedding
    #    family keeps ann_cosine_topk, embedding_dup_pairs,
    #    ivf_pq_search, and embedding_covariance_block registered.
    #  * moving_avg_trends: the rolling-frame shape over the gap-filled
    #    daily trend; the trends family is folded-hash-gated
    #    (daily/weekly/monthly) and rolling window frames stay
    #    registered via movement_anomalies' stddev windows.
    #  * streaming_daily_counts: tumbling-window counts; the identical
    #    watermark+window machinery is registered via
    #    streaming_segment_counts and streaming_sessionize.
    # (r14-born snapstore_pruned_dml_read — the metadata-plane lifecycle
    # row, benched as q33 — PROMOTED to the registry in r15.)
    # Retired registry -> folded (r15 slot swap): six redundant family
    # members gave their driver slots to snapstore_pruned_dml_read /
    # bm25_search / token_heavy_hitters / movement_cube /
    # warehouse_hop_distances / price_corr_matrix (none of which had
    # ever held a driver row). Each retiree's machinery stays
    # driver-verified through registered siblings; the folded oracle
    # hash replays every session:
    #  * snapstore_zorder_nd_read: the K-D interleave variant; the
    #    registered snapstore_optimize_read re-verifies the OPTIMIZE
    #    ZORDER -> pruned-read roundtrip every rotation.
    #  * large_orders (Q18): HAVING-collapsed fact + join-back; the
    #    registered top_unshipped_orders keeps the selective
    #    join+agg+top-k fact shape, parts_never_sold the anti-join leg.
    #  * small_quantity_revenue (Q17): correlated-avg-as-window; the
    #    registered exact_price_quantiles and brand_price_quantiles keep
    #    the per-group threshold-window machinery.
    #  * order_priority_counts (Q4): EXISTS/left_semi; late_sole_supplier
    #    stays registered (Q21, the family's hardest EXISTS/NOT-EXISTS
    #    pair) and parts_never_sold keeps the anti side.
    #  * returned_top_customers (Q10): returned-revenue top-k over
    #    broadcast dims == top_unshipped_orders' registered shape with a
    #    flag filter.
    #  * nation_market_share (Q8): conditional-share aggregation;
    #    promo_revenue_share (the same conditional-share shape) and
    #    nation_year_margin (Q9 margin rollup) stay registered.
    Query("snapstore_zorder_nd_read", q_snapstore_zorder_nd_read,
          SNAPSTORE_ZORDER_ND_SQL,
          "K-D ZORDER roundtrip through the 3-range intersected read"),
    Query("large_orders", tpch.q_large_orders, tpch.LARGE_ORDERS_SQL,
          "TPC-H Q18-shape HAVING-collapsed fact + broadcast join-back"),
    Query("small_quantity_revenue", tpch.q_small_quantity_revenue,
          tpch.SMALL_QTY_SQL,
          "TPC-H Q17-shape correlated subquery rewritten as one window pass"),
    Query("order_priority_counts", tpch.q_order_priority_counts,
          tpch.ORDER_PRIORITY_SQL,
          "TPC-H Q4-shape EXISTS/left_semi join"),
    Query("returned_top_customers", tpch.q_returned_top_customers,
          tpch.RETURNED_SQL,
          "TPC-H Q10-shape returned-revenue top-k over broadcast dims"),
    Query("nation_market_share", tpch.q_nation_market_share,
          tpch.MKT_SHARE_SQL,
          "TPC-H Q8-shape conditional-share per year, single pass"),
    Query("doc_fingerprint_candidates", q_doc_fingerprint_candidates,
          FINGERPRINT_CAND_SQL,
          "winnowing fingerprint candidate pairs (portable hash)"),
    Query("embedding_norm_profile", q_embedding_norm_profile, EMB_NORM_SQL,
          "per-label embedding norm sanity profile"),
    Query("moving_avg_trends", core.q_moving_avg_trends,
          core.MOVING_AVG_SQL,
          "rolling 7-day mean + cumulative total over gap-filled daily trend"),
    Query("streaming_daily_counts", streamq.q_streaming_daily_counts,
          streamq.STREAMING_DAILY_SQL,
          "availableNow stream -> window agg == batch SQL"),
    # Born folded (r16): incremental drift — the PSI counts maintained
    # O(changed rows) through the snapstore change feed (drift_report
    # meets the IVM retraction algebra); the twin replays the post-DML
    # state and the pinned-edge PSI relationally.
    Query("drift_ivm_report", q_drift_ivm_report, DRIFT_IVM_SQL,
          "CDF-maintained PSI drift counts == full-recompute drift_report"),
    # Born folded (r16): the STREAMING twin of the same operator — the
    # readChangeFeed stream maintains the counts; one oracle pins both.
    Query("streaming_drift_ivm", streamq.q_streaming_drift_ivm,
          DRIFT_IVM_SQL,
          "CDF-stream-maintained PSI drift counts == the same DuckDB twin"),
    # Retired registry -> folded (r16 slot swap): six redundant rows gave
    # their driver slots to hybrid_related_docs / frequent_part_pairs /
    # part_triangle_stats / robust_event_outliers / leakage_safe_split /
    # gate_agreement_kappa (none had ever held a driver row). Each
    # retiree's machinery stays driver-verified through registered
    # siblings; the folded oracle hash replays every session:
    #  * ks_drift_report: the registered drift_suite_report is the fused
    #    SUPERSET — its KS leg re-verifies the exact two-sample cumsum
    #    machinery every rotation (and q30/q31 stay benched).
    #  * pricing_summary (Q1): grouped pricing rollup; movement_cube
    #    (grouping sets) and nation_year_margin (Q9, cents-exact margin
    #    rollup) keep the grouped exact-decimal aggregation registered.
    #  * top_unshipped_orders (Q3): selective join + pinned top-k;
    #    top_supplier_revenue keeps the windowed top-over-aggregate,
    #    token_heavy_hitters the exact top-k verify pass.
    #  * local_supplier_volume (Q5): 5-way broadcast join chain;
    #    nation_year_margin keeps the multi-dim broadcast chain shape.
    #  * streaming_dedup_index: streaming_chunk_dedup +
    #    streaming_bloom_ngram_index keep streaming ingest-dedup
    #    registered; the batch LSH (minhash_dedup_pairs) shares the
    #    same quadratic-jaccard oracle definition.
    #  * streaming_snapshot_upsert: streaming_mv_refresh keeps the
    #    foreachBatch stateful-sink shape registered; the batch signed
    #    sum (snapshot_recompute) stays registered. (The
    #    applyInPandasWithState row, streaming_low_stock_alerts, is
    #    deliberately NOT retired — it is the only driver row covering
    #    the custom stateful operator API.)
    Query("ks_drift_report", q_ks_drift_report, KS_DRIFT_SQL,
          "exact two-sample Kolmogorov-Smirnov drift with significance"),
    Query("pricing_summary", tpch.q_pricing_summary, tpch.PRICING_SQL,
          "TPC-H Q1-shape grouped pricing rollup"),
    Query("top_unshipped_orders", tpch.q_top_unshipped_orders,
          tpch.UNSHIPPED_SQL,
          "TPC-H Q3-shape selective join + pinned top-k"),
    Query("local_supplier_volume", tpch.q_local_supplier_volume,
          tpch.VOLUME_SQL,
          "TPC-H Q5-shape 5-way broadcast join chain"),
    Query("streaming_dedup_index", streamq.q_streaming_dedup_index,
          MINHASH_PAIRS_SQL,
          "streaming MinHash+LSH index: arrival-time pairs == quadratic "
          "jaccard"),
    Query("streaming_snapshot_upsert", streamq.q_streaming_snapshot_upsert,
          streamq.STREAMING_SNAPSHOT_SQL,
          "§2.10 foreachBatch upsert store: final snapshot == batch "
          "signed sum"),
    *_folded_core(),
]
