"""LLM-op scale paths verified against their exact counterparts: IVF ANN vs
brute force, language-ID on planted text, winnowing fingerprint candidates."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from wsspark.io import read_table
from wsspark.llmops import fingerprint, similarity, textstats


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return read_table(spark, sf_dir, "embeddings")


def test_ivf_scores_match_bruteforce(spark, emb):
    """Every (query, neighbor) the IVF path returns must carry the same
    cosine the exact path computes; recall@5 must be usable (>0.4 with
    4/16 probes on random synthetic vectors)."""
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    exact = {
        (r["query_id"], r["neighbor_id"]): r["cos_sim"]
        for r in similarity.cosine_topk(emb, queries, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"]): r["cos_sim"]
        for r in similarity.ivf_topk(emb, queries, k=5).collect()
    }
    all_scores = {
        (r["query_id"], r["neighbor_id"]): r["cos_sim"]
        for r in similarity.cosine_topk(emb, queries, k=10**9).collect()
    }
    for pair, score in approx.items():
        assert all_scores[pair] == score  # approx never mis-scores a pair
    recall = len(set(exact) & set(approx)) / len(exact)
    assert recall > 0.4, f"IVF recall@5 too low: {recall:.2f}"


def test_ivf_prebuilt_index_matches_one_shot(spark, emb):
    """ivf_build_index + ivf_search (the amortized production shape) must
    return exactly what the one-shot ivf_topk plan returns — a cached index
    may never change results."""
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    one_shot = sorted(map(tuple, similarity.ivf_topk(emb, queries, k=5).collect()))
    assigned, cents, n_cells = similarity.ivf_build_index(emb)
    assigned = assigned.cache()
    cents = cents.cache()
    try:
        split = sorted(
            map(
                tuple,
                similarity.ivf_search(
                    assigned, cents, queries, k=5, n_cells=n_cells
                ).collect(),
            )
        )
        assert split == one_shot
    finally:
        assigned.unpersist()
        cents.unpersist()


def test_ivf_recall_on_clustered_corpus(spark):
    """At real scale IVF lives or dies on centroid spread: on a corpus WITH
    cluster structure (the case IVF exists for), hash-spread centroids +
    n_cells >> 16 must hold recall@5 >= 0.9 vs brute force. Round-1's
    smallest-16-ids centroids would collapse here if ids correlate with
    geometry; the Knuth-hash pick is ingest-order-free."""
    import numpy as np

    rng = np.random.default_rng(7)
    dim, n_clusters, per_cluster = 32, 16, 100
    centers = rng.normal(size=(n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    vid = 0
    for c in range(n_clusters):
        member = centers[c] + 0.05 * rng.normal(size=(per_cluster, dim))
        member /= np.linalg.norm(member, axis=1, keepdims=True)
        for m in member:
            rows.append((vid, [float(x) for x in m]))
            vid += 1
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = emb.filter(F.col("vec_id") % 100 == 0)  # one per cluster
    exact = similarity.cosine_topk(emb, queries, k=5).collect()
    approx = similarity.ivf_topk(emb, queries, k=5, n_cells=40, n_probe=4).collect()
    exact_pairs = {(r["query_id"], r["neighbor_id"]) for r in exact}
    approx_pairs = {(r["query_id"], r["neighbor_id"]) for r in approx}
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    assert recall >= 0.9, f"IVF recall@5 on clustered corpus: {recall:.2f}"


def test_ivf_default_probe_holds_recall_on_structureless_corpus(spark, emb):
    """The shipped DEFAULT may not silently trade recall away: on the
    synthetic (effectively unclustered — IVF's worst case) testdata
    corpus, auto_n_probe must hold recall@5 >= 0.9 vs brute force. The
    r05 sweep measured fixed n_probe=4 at 0.38-0.56 recall here, which is
    why the default is corpus-proportional (see PLANS.md ANN recall)."""
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.cosine_topk(emb, queries, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.ivf_topk(emb, queries, k=5).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"default-probe IVF recall@5: {recall:.2f}"


def test_ivf_probe_for_recall_tunes_down_on_clustered_corpus(spark):
    """The per-corpus tuner must exploit real cluster structure: on a
    16-cluster corpus it should certify a probe count far below the
    recall-first default while meeting the target."""
    import numpy as np

    rng = np.random.default_rng(23)
    dim, n_clusters, per_cluster = 32, 16, 64
    centers = rng.normal(size=(n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    vid = 0
    for c in range(n_clusters):
        member = centers[c] + 0.05 * rng.normal(size=(per_cluster, dim))
        member /= np.linalg.norm(member, axis=1, keepdims=True)
        for m in member:
            rows.append((vid, [float(x) for x in m]))
            vid += 1
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = emb.filter(F.col("vec_id") % 128 == 0)
    n_probe, recall = similarity.ivf_probe_for_recall(
        emb, queries, k=5, target_recall=0.9
    )
    n_cells = similarity.auto_n_cells(emb.select("vec_id"))
    assert recall >= 0.9
    assert n_probe < similarity.auto_n_probe(n_cells), (
        f"tuner found no structure: n_probe={n_probe} vs default "
        f"{similarity.auto_n_probe(n_cells)} of {n_cells} cells"
    )


def test_embedding_dup_pairs_finds_planted_dups(spark):
    """Positive path for the cell-blocked near-dup operator: planted
    near-identical vectors must surface above a high threshold."""
    import numpy as np

    rng = np.random.default_rng(11)
    base = rng.normal(size=(60, 16))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(base)]
    # plant 3 near-dups of vectors 0, 1, 2
    for j, src in enumerate(base[:3]):
        dup = src + 0.01 * rng.normal(size=16)
        dup /= np.linalg.norm(dup)
        rows.append((100 + j, [float(x) for x in dup]))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    pairs = {
        (r["id_a"], r["id_b"])
        for r in similarity.embedding_cosine_dup_pairs(emb, threshold=0.95).collect()
    }
    assert {(0, 100), (1, 101), (2, 102)} <= pairs


def test_lang_id_planted(spark):
    docs = spark.createDataFrame(
        [
            (1, "the cat is on the mat and the dog is in the house"),
            (2, "el gato y el perro en la casa de los amigos"),
            (3, "le chat et le chien dans la maison des amis"),
        ],
        ["doc_id", "text"],
    )
    langs = {r["doc_id"]: r["lang_pred"] for r in textstats.lang_id(docs).collect()}
    assert langs[1] == "en"
    assert langs[2] == "es"
    assert langs[3] == "fr"


def test_winnowing_shared_fingerprints(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    docs = spark.createDataFrame(
        [(1, base), (2, base + " extra tail words here"), (3, "zzz " * 30)],
        ["doc_id", "text"],
    )
    fps = fingerprint.winnow_fingerprints(docs)
    cands = {
        (r["doc_a"], r["doc_b"]): r["n_shared_fingerprints"]
        for r in fingerprint.fingerprint_candidates(fps).collect()
    }
    assert (1, 2) in cands and cands[(1, 2)] > 0
    assert not any(3 in pair for pair in cands)


def test_normalize_produces_unit_vectors(spark, emb):
    out = similarity.normalize(emb).limit(20).collect()
    for r in out:
        n = sum(x * x for x in r["unit_vec"]) ** 0.5
        assert abs(n - 1.0) < 1e-9


def test_normalize_zero_vector_is_null(spark):
    df = spark.createDataFrame([(1, [0.0, 0.0])], ["vec_id", "embedding"])
    assert similarity.normalize(df).collect()[0]["unit_vec"] is None


def test_int8_quantization_roundtrip_and_cosine_fidelity(spark, emb):
    from pyspark.sql import functions as F

    q = similarity.quantize_int8(emb).limit(100)
    rows = q.select(
        "embedding",
        similarity.dequantize(F.col("q_vec"), F.col("q_scale")).alias("deq"),
    ).collect()
    for r in rows:
        orig, deq = r["embedding"], r["deq"]
        amax = max(abs(x) for x in orig)
        # symmetric int8: per-component error <= scale/2
        tol = (amax / 127.0) / 2 + 1e-9
        assert all(abs(a - b) <= tol for a, b in zip(orig, deq))

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = sum(x * x for x in a) ** 0.5
        nb = sum(x * x for x in b) ** 0.5
        return d / (na * nb)

    # cosine between original and its dequantized self stays ~1
    for r in rows:
        assert cos(r["embedding"], r["deq"]) > 0.999


def test_quantized_vectors_are_bytes(spark, emb):
    q = similarity.quantize_int8(emb)
    dtype = dict(q.dtypes)
    assert dtype["q_vec"] == "array<tinyint>"
    assert dtype["q_scale"] == "float"


def test_approx_count_distinct_within_tolerance(spark, sf_dir):
    """The sketch path for cardinality at scale: approx_count_distinct
    (HLL++, mergeable, bounded memory) must land within its configured
    relative error of the exact count on real data."""
    from pyspark.sql import functions as F

    from wsspark.io import read_table

    ev = read_table(spark, sf_dir, "events")
    exact = ev.select(F.countDistinct("user_id")).collect()[0][0]
    approx = ev.select(F.approx_count_distinct("user_id", rsd=0.02)).collect()[0][0]
    assert abs(approx - exact) / exact < 0.05


def test_pii_detection_and_redaction(spark):
    from wsspark.llmops import pii

    docs = spark.createDataFrame(
        [
            (1, "contact bob@example.com or 555-867-5309 today", "s1"),
            (2, "ssn 123-45-6789 leaked from 10.0.0.1", "s1"),
            (3, "totally clean text about nothing", "s2"),
        ],
        ["doc_id", "text", "source"],
    )
    flags = {r["doc_id"]: r for r in pii.pii_flags(docs).collect()}
    assert flags[1]["n_email"] == 1 and flags[1]["n_phone"] == 1
    assert flags[2]["n_ssn"] == 1 and flags[2]["n_ipv4"] == 1
    assert flags[3]["has_pii"] is False and flags[1]["has_pii"] is True
    # SSN must be redacted as [SSN], not mistaken for a phone number
    red = {r["doc_id"]: r["redacted_text"] for r in pii.redact_pii(docs).collect()}
    assert "[EMAIL]" in red[1] and "[PHONE]" in red[1]
    assert "[SSN]" in red[2] and "[IP]" in red[2]
    assert "123-45-6789" not in red[2]
    summary = {r["source"]: r for r in pii.pii_summary(docs).collect()}
    assert summary["s1"]["n_docs_with_pii"] == 2
    assert summary["s2"]["n_docs_with_pii"] == 0


def test_normalized_dedup_catches_case_and_punct_variants(spark):
    from wsspark.llmops import textstats

    docs = spark.createDataFrame(
        [
            (1, "Hello, World!"),
            (2, "hello world"),
            (3, "HELLO   world."),
            (4, "goodbye world"),
        ],
        ["doc_id", "text"],
    )
    groups = textstats.normalized_dedup_groups(docs).collect()
    dup = [g for g in groups if g["n_docs"] > 1]
    assert len(dup) == 1 and dup[0]["n_docs"] == 3 and dup[0]["keep_doc_id"] == 1


def test_kmeans_matches_numpy_lloyd(spark):
    """The distributed k-means must reproduce the same deterministic recipe
    run single-node: hash-spread init, 2 Lloyd rounds, euclidean argmin
    with lowest-centroid tie-break."""
    import numpy as np

    rng = np.random.default_rng(7)
    X = rng.normal(size=(60, 8)).astype("float32")
    rows = [(i, [float(x) for x in X[i]]) for i in range(60)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = {
        r["vec_id"]: r["cluster_id"]
        for r in similarity.kmeans_embeddings(emb, k=4, n_iter=2).collect()
    }

    # numpy twin of the same recipe
    KNUTH, MOD = 2654435761, 4294967296
    h = [(i * KNUTH) % MOD for i in range(60)]
    picked = sorted(range(60), key=lambda i: (h[i], i))[:4]
    cents = np.array([X[i] for i in picked], dtype="float64")
    Xd = X.astype("float64")
    for _ in range(2):
        d2 = ((Xd[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        cents = np.array(
            [
                np.round(Xd[assign == c].mean(axis=0), 9)
                if (assign == c).any()
                else cents[c]
                for c in range(4)
            ]
        )
    d2 = ((Xd[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
    want = d2.argmin(axis=1)
    got_arr = np.array([got[i] for i in range(60)])
    # cluster_id is 1-based (row_number); mapping must be identical
    assert (got_arr - 1 == want).all()


def test_kmeans_survives_emptied_clusters(spark):
    """Identical vectors collapse every point into cluster 1 after round
    one; the emptied clusters must keep their centroids (not crash or
    shrink k) and the assignment must stay deterministic."""
    emb = spark.createDataFrame(
        [(i, [1.0, 2.0, 3.0]) for i in range(12)], ["vec_id", "embedding"]
    )
    got = similarity.kmeans_embeddings(emb, k=4, n_iter=2).collect()
    assert len(got) == 12
    assert {r["cluster_id"] for r in got} == {1}


def test_cross_source_overlap_positive_path(spark, tmp_path):
    """Plant known cross-source dups (same 200-char prefix, here identical
    short texts) and run the real query fn over a temp sf-dir."""
    from wsspark.queries.llm import q_cross_source_overlap

    docs = spark.createDataFrame(
        [
            (1, "same text", "en", "srcA", 9),
            (2, "same text", "en", "srcB", 9),
            (3, "same text", "en", "srcA", 9),
            (4, "unique text", "en", "srcA", 11),
        ],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    rows = q_cross_source_overlap(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    assert rows[0]["n_sources"] == 2 and rows[0]["n_docs"] == 3
    assert rows[0]["first_doc_id"] == 1


def test_ivf_with_kmeans_centroids_improves_recall(spark, emb):
    """Trained (Lloyd-refined) centroids plugged into ivf_build_index must
    not hurt — and at a small fixed probe on this corpus they measurably
    beat hash-spread centroids (r05 sweep: ~+0.1 recall at equal probe)."""
    from pyspark.sql import functions as F

    queries = emb.filter(F.col("vec_id") % 100 == 0)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.cosine_topk(emb, queries, k=5).collect()
    }
    n_cells = similarity.auto_n_cells(emb.select("vec_id"))
    probe = max(4, n_cells // 4)

    def recall(centroids):
        assigned, cents, _ = similarity.ivf_build_index(emb, centroids=centroids)
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in similarity.ivf_search(
                assigned, cents, queries, k=5, n_probe=probe
            ).collect()
        }
        return len(exact & got) / len(exact)

    spread = recall(None)  # default hash-spread path (centroids built inside)
    trained = recall(similarity.kmeans_centroids(emb, k=n_cells, n_iter=2))
    # Strict bar (was `spread - 0.05` pre-round-6, which let a regression
    # from trained centroids pass silently): spherical refinement must not
    # lose to its own unrefined starting points.
    assert trained >= spread, (trained, spread)


def test_bigram_lm_scores_order_fluency(spark):
    """The corpus-LM score must rank repeated fluent text above gibberish
    whose bigrams never repeat — the signal a perplexity filter sells."""
    from wsspark.llmops import textstats

    common = ("the cat sat on the mat " * 5).strip()
    docs = spark.createDataFrame(
        [(1, common), (2, common), (3, "zq xv qk jw vz kx wj")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in textstats.bigram_lm_scores(docs).collect()}
    assert set(out) == {1, 2, 3}
    assert out[1]["avg_logprob"] > out[3]["avg_logprob"]
    assert out[1]["ppl"] < out[3]["ppl"]
    assert out[1]["n_bigrams"] == 29


def test_bigram_lm_scores_exact_hand_computed(spark):
    """Pin the exact smoothing arithmetic on a corpus small enough to do by
    hand: docs 'a b a' and 'a b'. Bigrams: d1 -> [a b, b a], d2 -> [a b].
    c2(a b)=2, c2(b a)=1; prefix counts c1(a)=2, c1(b)=1; V=2.
    P(a b)=(2+1)/(2+2)=0.75, P(b a)=(1+1)/(1+2)=2/3."""
    import math

    from wsspark.llmops import textstats

    docs = spark.createDataFrame([(1, "a b a"), (2, "a b")], ["doc_id", "text"])
    out = {r["doc_id"]: r for r in textstats.bigram_lm_scores(docs).collect()}
    d1 = (math.log(0.75) + math.log(2 / 3)) / 2
    d2 = math.log(0.75)
    assert out[1]["n_bigrams"] == 2 and out[2]["n_bigrams"] == 1
    assert out[1]["avg_logprob"] == round(d1, 4)
    assert out[2]["avg_logprob"] == round(d2, 4)
    assert out[1]["ppl"] == round(math.exp(-d1), 4)
    assert out[2]["ppl"] == round(math.exp(-d2), 4)


def test_semantic_dedup_survivors_greedy_policy(spark):
    """SemDeDup keep-set on a hand-checkable corpus (threshold 0.99):
    vec 2 is a near-dup of vec 1, vec 4 of vec 2, vec 3 is orthogonal.
    Greedy keep-first-by-id: 2 is dominated by 1; 4 is dominated by 2
    EVEN THOUGH 2 itself is dropped (the policy is pairwise, not
    survivor-relative — matching the oracle SQL exactly). Survivors are
    {1, 3}."""
    from wsspark.llmops import similarity

    rows = [
        (1, [1.0, 0.0]),
        (2, [1.0, 0.01]),
        (3, [0.0, 1.0]),
        (4, [1.0, 0.02]),
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = similarity.semantic_dedup_survivors(emb, threshold=0.99)
    assert sorted(r["vec_id"] for r in out.collect()) == [1, 3]


def test_cross_doc_ngram_dup_semantics(spark):
    """Hand-checkable corpus for the cross-doc duplicated n-gram profile
    (n=3): doc 1 and doc 2 share the window 'a b c'; doc 3 repeats its own
    trigram twice but shares nothing cross-doc; doc 4 is shorter than n.

    doc 1 'a b c d'   -> windows [a b c, b c d]; 'a b c' is cross-doc dup.
    doc 2 'x a b c'   -> windows [x a b, a b c]; 'a b c' dup.
    doc 3 'p q r p q r p q' -> 6 windows, 'p q r' twice WITHIN the doc only
                               (1 distinct doc) -> 0 dup windows.
    doc 4 'u v'       -> no windows -> 0/0/0.0.
    """
    from wsspark.llmops import textstats

    docs = spark.createDataFrame(
        [
            (1, "a b c d"),
            (2, "x a b c"),
            (3, "p q r p q r p q"),
            (4, "u v"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in textstats.cross_doc_ngram_dup(docs, n=3).collect()
    }
    assert len(out) == 4
    assert (out[1]["n_windows"], out[1]["n_dup_windows"]) == (2, 1)
    assert out[1]["dup_ratio"] == 0.5
    assert (out[2]["n_windows"], out[2]["n_dup_windows"]) == (2, 1)
    assert (out[3]["n_windows"], out[3]["n_dup_windows"]) == (6, 0)
    assert out[3]["dup_ratio"] == 0.0
    assert (out[4]["n_windows"], out[4]["n_dup_windows"]) == (0, 0)
    assert out[4]["dup_ratio"] == 0.0


def test_cross_doc_ngram_dup_partition_invariance(spark, sf_dir):
    """The profile is a pure corpus function: repartitioning the input must
    not change a single row (the md5 gram keying and both aggs are
    partitioning-independent)."""
    from wsspark.llmops import textstats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = textstats.cross_doc_ngram_dup(docs).orderBy("doc_id").collect()
    b = (
        textstats.cross_doc_ngram_dup(docs.repartition(13, "source"))
        .orderBy("doc_id")
        .collect()
    )
    assert a == b


from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_NG_VOCAB = [f"w{i}" for i in range(12)]


@st.composite
def _ngram_corpus(draw):
    """Small-vocab corpora (12 words) so cross-doc n-gram collisions are
    common, plus an occasional doc shorter than n to hit the 0-window
    branch."""
    n_docs = draw(st.integers(2, 5))
    docs = []
    for _ in range(n_docs):
        toks = draw(st.lists(st.sampled_from(_NG_VOCAB), min_size=1, max_size=14))
        docs.append(" ".join(toks))
    return docs


@given(_ngram_corpus(), st.integers(2, 4))
@settings(
    max_examples=12,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.too_slow],
)
def test_cross_doc_ngram_dup_matches_brute_force(spark, texts, n):
    """cross_doc_ngram_dup == the obvious quadratic Python computation on
    randomized small-vocab corpora: per-position window counting, dup iff
    the window's n-gram occurs in >= 2 distinct docs."""
    from wsspark.llmops import textstats

    rows = [(i, t) for i, t in enumerate(texts)]
    grams = {
        i: [
            " ".join(t.split(" ")[p : p + n])
            for p in range(len(t.split(" ")) - n + 1)
        ]
        for i, t in rows
    }
    owners: dict[str, set] = {}
    for i, gs in grams.items():
        for gram in gs:
            owners.setdefault(gram, set()).add(i)
    want = {}
    for i, gs in grams.items():
        ndup = sum(1 for gram in gs if len(owners[gram]) >= 2)
        ratio = round(ndup / len(gs), 4) if gs else 0.0
        want[i] = (len(gs), ndup, ratio)
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["n_windows"], r["n_dup_windows"], r["dup_ratio"])
        for r in textstats.cross_doc_ngram_dup(docs, n=n).collect()
    }
    assert got == want


def test_doc_chunks_is_shuffle_free(spark, sf_dir):
    """Chunking must stay a narrow transformation: no Exchange anywhere in
    the operator's plan (the registered query adds a presentation orderBy;
    the OPERATOR pipelines with the scan)."""
    from tests.test_plans import plan_of

    docs = read_table(spark, sf_dir, "documents")
    plan = plan_of(textstats.doc_chunks(docs))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan


def test_doc_chunks_rejects_degenerate_overlap():
    import pyspark.sql  # noqa: F401  (spark not needed; validation is eager)

    with pytest.raises(ValueError):
        textstats.doc_chunks(None, chunk_size=50, overlap=50)


@pytest.mark.parametrize("chunk_size,overlap", [(200, 50), (64, 0), (10, 9)])
def test_doc_chunks_cover_and_reconstruct(spark, chunk_size, overlap):
    """Property over varied lengths incl. boundary cases: chunks cover every
    character, consecutive chunks overlap by exactly `overlap`, and the
    document reconstructs from chunk 0 + the post-overlap suffix of each
    later chunk."""
    stride = chunk_size - overlap
    lengths = [1, overlap + 1 if overlap else 1, chunk_size - 1, chunk_size,
               chunk_size + 1, 2 * chunk_size, 553, 5 * stride + 3]
    rows = [(i, "".join(chr(97 + (i + j) % 26) for j in range(n)))
            for i, n in enumerate(lengths)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = textstats.doc_chunks(
        docs, chunk_size=chunk_size, overlap=overlap
    ).collect()
    by_doc: dict[int, list] = {}
    for r in sorted(out, key=lambda r: (r.doc_id, r.chunk_id)):
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == set(range(len(lengths)))
    for doc_id, text in rows:
        chunks = by_doc[doc_id]
        assert [c.chunk_id for c in chunks] == list(range(len(chunks)))
        for c in chunks:
            assert c.chunk_text == text[c.chunk_start:c.chunk_start + chunk_size]
            assert c.chunk_len == len(c.chunk_text)
        # exact overlap between consecutive chunks
        for a, b in zip(chunks, chunks[1:]):
            assert b.chunk_start - a.chunk_start == stride
        # full reconstruction
        rebuilt = chunks[0].chunk_text + "".join(
            c.chunk_text[overlap:] for c in chunks[1:]
        )
        assert rebuilt == text
        # no degenerate tail: every later chunk adds > overlap... i.e. its
        # post-overlap suffix is non-empty
        assert all(len(c.chunk_text) > overlap for c in chunks[1:])


def test_pack_chunks_partition_and_budget_properties(spark):
    """Packing invariants over a randomized-length corpus: (a) every chunk
    lands in exactly one pack; (b) no pack overflows budget by a full
    chunk (total < budget + max_chunk_len); (c) every NON-final pack in a
    group fills past budget - max_chunk_len (the straddle bounds both
    ways); (d) the result is identical under a different input
    partitioning (pure hash ordering, no rand())."""
    from wsspark.llmops import corpus, textstats

    budget, chunk_size = 500, 120
    rows = [(i, "x" * (17 * i % 947 + 1)) for i in range(60)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    chunks = textstats.doc_chunks(docs, chunk_size=chunk_size, overlap=30)
    n_chunks_in = chunks.count()
    packs = corpus.pack_chunks(
        chunks, budget=budget, n_groups=4
    ).collect()

    # (a) exactly-once: counts add up AND the uid multiset is the input's
    assert sum(p.n_chunks for p in packs) == n_chunks_in
    uids = [u for p in packs for u in p.chunk_uids.split(",")]
    assert len(uids) == len(set(uids)) == n_chunks_in
    for p in packs:
        assert p.n_chunks == len(p.chunk_uids.split(","))
        assert p.fill_ratio == round(p.total_chars / budget, 4)

    # (b)+(c) straddle bounds
    last_seq = {}
    for p in packs:
        last_seq[p.pack_group] = max(last_seq.get(p.pack_group, -1), p.pack_seq)
    for p in packs:
        assert p.total_chars < budget + chunk_size, p
        if p.pack_seq != last_seq[p.pack_group]:
            assert p.total_chars > budget - chunk_size, p

    # (d) partition invariance
    repacked = corpus.pack_chunks(
        chunks.repartition(7), budget=budget, n_groups=4
    ).collect()
    key = lambda p: (p.pack_group, p.pack_seq)  # noqa: E731
    assert sorted(map(tuple, repacked)) == sorted(map(tuple, packs)), (
        "pack assignment depends on input partitioning"
    )


def test_pack_chunks_plan_reuses_group_partitioning(spark, sf_dir):
    """The pack rollup must NOT re-shuffle: window partitions by
    pack_group, and the (pack_group, pack_seq) aggregate's clustering
    requirement is satisfied by that same partitioning (subset-key rule),
    so the OPERATOR costs exactly one Exchange."""
    import re

    from tests.test_plans import plan_of
    from wsspark.llmops import corpus, textstats

    docs = read_table(spark, sf_dir, "documents")
    plan = plan_of(corpus.pack_chunks(textstats.doc_chunks(docs)))
    n = len(set(re.findall(r"\((\d+)\) Exchange", plan)))
    assert n == 1, f"pack_chunks costs {n} exchanges (want 1):\n{plan}"
    assert "BatchEvalPython" not in plan


# ---------------------------------------------------------------------------
# doc_chunks_tokens: token-aligned chunking
# ---------------------------------------------------------------------------


def test_doc_chunks_tokens_coverage_and_budget(spark):
    from wsspark.llmops.textstats import doc_chunks_tokens

    texts = [
        (1, " ".join(f"w{i}" for i in range(100))),
        (2, " ".join(f"x{i}" for i in range(7))),   # shorter than one chunk
        (3, "solo"),
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    out = doc_chunks_tokens(df, chunk_tokens=16, overlap_tokens=4).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc_id, text in texts:
        toks = text.split(" ")
        rows = sorted(by_doc[doc_id], key=lambda r: r.chunk_id)
        # every chunk fits the budget; non-final chunks are exactly full
        assert all(r.n_chunk_tokens <= 16 for r in rows)
        assert all(r.n_chunk_tokens == 16 for r in rows[:-1])
        # no word is ever split and offsets reconstruct the window
        for r in rows:
            assert r.chunk_text.split(" ") == toks[r.tok_start:r.tok_start + 16]
        # full coverage: last window reaches the end of the token list
        assert rows[-1].tok_start + rows[-1].n_chunk_tokens == len(toks)
        # stride contract: consecutive starts advance by chunk - overlap
        starts = [r.tok_start for r in rows]
        assert starts == list(range(0, len(starts) * 12, 12))


def test_doc_chunks_tokens_is_shuffle_free(spark):
    from wsspark.llmops.textstats import doc_chunks_tokens

    df = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    plan = (
        doc_chunks_tokens(df, chunk_tokens=4, overlap_tokens=1)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan


def test_doc_chunks_tokens_rejects_bad_overlap(spark):
    import pytest as _pytest

    from wsspark.llmops.textstats import doc_chunks_tokens

    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with _pytest.raises(ValueError):
        doc_chunks_tokens(df, chunk_tokens=4, overlap_tokens=4)


def test_normalize_unicode_folds_variants(spark):
    """NFKC + casefold must merge the classic trivial-variant families:
    fullwidth latin, the fi ligature, eszett, precomposed-vs-combining
    accents, and case — while NFC (canonical only) keeps compatibility
    variants distinct. Plan stays a narrow Arrow pass."""
    from wsspark.llmops import textstats

    rows = [
        (1, "ＳＰＡＲＫ"),            # fullwidth -> "spark"
        (2, "ﬁle STRASSE"),          # ligature + eszett -> "file strasse"
        (3, "café"),           # e + combining acute -> "café"
        (4, "CAFÉ"),                 # precomposed, cased
        (5, None),                   # null passthrough
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r.doc_id: r.norm_text
        for r in textstats.normalize_unicode(docs).collect()
    }
    assert out[1] == "spark"
    assert out[2] == "file strasse"
    assert out[3] == out[4] == "café"
    assert out[5] is None
    # canonical-only form keeps compatibility variants distinct
    nfc = {
        r.doc_id: r.norm_text
        for r in textstats.normalize_unicode(
            docs, form="NFC", casefold=False
        ).collect()
    }
    assert nfc[1] == "ＳＰＡＲＫ" and nfc[3] == "café"
    # narrow Arrow pass: no shuffle, no row-at-a-time Python
    plan = textstats.normalize_unicode(docs)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "MapInPandas" in plan and "Exchange" not in plan
    assert "BatchEvalPython" not in plan


def test_normalize_unicode_feeds_dedup_groups(spark):
    """The stated purpose: after unicode normalization, variant documents
    collapse into one normalized-dedup group."""
    from wsspark.llmops import textstats

    docs = spark.createDataFrame(
        [(1, "Ｃａｆé ﬁle"), (2, "café file"), (3, "other text")],
        ["doc_id", "text"],
    )
    normed = textstats.normalize_unicode(docs).drop("text").withColumnRenamed(
        "norm_text", "text"
    )
    groups = {
        r.keep_doc_id: r.n_docs
        for r in textstats.normalized_dedup_groups(normed).collect()
    }
    assert groups == {1: 2, 3: 1}


def test_ivf_store_partition_pruned_search_matches_in_memory(spark, sf_dir, tmp_path):
    """The cell-partitioned on-disk IVF store must (a) return rows
    IDENTICAL to ivf_search over the full in-memory index, and (b) read
    ONLY the probed cells' partition directories — inputFiles() of the
    search's pruned scan contains exactly the probed centroid_id=...
    paths, which is the 100 TB contract: a probe reads n_probe/n_cells
    of the corpus from storage."""
    from wsspark.io import read_table
    from wsspark.llmops import similarity as sim

    embs = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries = embs.orderBy("vec_id").limit(3)
    path = str(tmp_path / "ivf_store")
    centroids, n_cells = sim.write_ivf_store(embs, path)
    # small explicit probe count: equality needs only the SAME n_probe on
    # both sides, and the pruning evidence needs the probed union to be a
    # strict subset of cells (auto_n_probe is recall-first — on a tiny
    # corpus it probes most cells, which is correct but proves nothing
    # about pruning)
    n_probe = 2

    got = sorted(
        map(
            tuple,
            sim.ivf_search_store(
                spark, path, centroids, queries,
                k=5, n_probe=n_probe, n_cells=n_cells,
            ).collect(),
        )
    )
    assigned, centroids2, n_cells2 = sim.ivf_build_index(
        embs, centroids=centroids
    )
    want = sorted(
        map(
            tuple,
            sim.ivf_search(
                assigned, centroids, queries,
                k=5, n_probe=n_probe, n_cells=n_cells,
            ).collect(),
        )
    )
    assert got == want and len(got) > 0

    # pruning evidence: the pruned read touches only probed directories
    qs = sim.with_norm(queries, "embedding").select("vec_id", "_vec", "_norm")
    probed = {
        r["centroid_id"]
        for r in sim.ivf_assign(qs, centroids, n_probe=n_probe)
        .select("centroid_id").distinct().collect()
    }
    assert 0 < len(probed) < n_cells  # the probe genuinely restricts
    pruned = spark.read.parquet(path).filter(
        F.col("centroid_id").isin(*[int(c) for c in probed])
    )
    # the literal isin must land as a PARTITION filter on the scan (the
    # directory-pruning mechanism), not as a post-scan data filter
    plan = pruned._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    import re as _re

    m = _re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "centroid_id" in m.group(1), plan
    # and no post-scan data Filter carries the cell restriction — the
    # pruning happens at directory listing, which is the whole point
    data_f = _re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    if data_f:
        assert "centroid_id" not in data_f.group(1), plan


def test_token_heavy_hitters_edges(spark):
    """High support with no qualifying token returns an EMPTY frame with
    the full schema (the no-candidates early path); invalid support
    raises; and on a constructed corpus the output is exactly the
    above-threshold tokens with exact counts."""
    import pytest

    from wsspark.llmops.textstats import token_heavy_hitters

    docs = spark.createDataFrame(
        [(1, "a a a a b"), (2, "a b c d e"), (3, "a f g h i")],
        "doc_id long, text string",
    )
    # 15 tokens; 'a' = 6 (0.40), 'b' = 2 (0.133), rest 1 each
    got = {
        r.token: (r.n_occurrences, r.token_share)
        for r in token_heavy_hitters(docs, support=0.2).collect()
    }
    assert got == {"a": (6, 0.4)}
    hi = token_heavy_hitters(docs, support=0.9)
    assert hi.count() == 0
    assert hi.columns == ["token", "n_occurrences", "token_share"]
    with pytest.raises(ValueError, match="support"):
        token_heavy_hitters(docs, support=0.0)


# ---------------------------------------------------------------------------
# SRP (random-hyperplane) LSH
# ---------------------------------------------------------------------------


def _srp_corpus(n_base=40, n_dups=10, dim=32, seed=7):
    """Base random vectors plus small-noise copies of the first n_dups —
    the copies sit at cosine >= ~0.99 to their originals while base pairs
    stay far apart (random 32-dim directions)."""
    import numpy as np

    rng = np.random.RandomState(seed)
    base = rng.randn(n_base, dim)
    dups = base[:n_dups] + 0.02 * rng.randn(n_dups, dim)
    vecs = np.vstack([base, dups]).astype(np.float32)
    return vecs


def _np_cosine_pairs(vecs, threshold):
    import numpy as np

    V = vecs.astype(np.float64)
    N = V / np.linalg.norm(V, axis=1, keepdims=True)
    S = N @ N.T
    pairs = set()
    n = len(V)
    for i in range(n):
        for j in range(i + 1, n):
            if S[i, j] >= threshold:
                pairs.add((i, j))
    return pairs


def test_srp_dup_pairs_match_quadratic_truth(spark):
    """On a constructed near-dup corpus the SRP chain (signature -> band
    keys -> bucket self-join -> exact cosine verify) returns EXACTLY the
    quadratic numpy truth at the threshold: 100% recall (every injected
    near-dup pair is caught by at least one band) and zero false
    positives (the exact verify kills all bucket collisions)."""
    from wsspark.llmops import srp

    vecs = _srp_corpus()
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    got = {
        (r.id_a, r.id_b)
        for r in srp.srp_dup_pairs(df, threshold=0.95).collect()
    }
    want = _np_cosine_pairs(vecs, 0.95)
    assert want, "constructed corpus must contain near-dup pairs"
    assert got == want


def test_srp_signature_matches_python_fold(spark):
    """The packed signature equals a per-bit Python reimplementation of
    the same left-fold dot + 6dp-rounded sign + 2^i pack."""
    import numpy as np

    from wsspark.llmops import srp

    vecs = _srp_corpus(n_base=8, n_dups=0)
    planes = srp.srp_hyperplanes(32, n_bits=48, seed=42)
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    rows = {r.vec_id: r.srp_sig
            for r in srp.srp_signatures(df, planes=planes).collect()}
    for i, v in enumerate(vecs):
        sig = 0
        for b, p in enumerate(planes):
            acc = 0.0
            for e, w in zip(v, p):
                acc += float(np.float64(e)) * w
            if round(acc, 6) >= 0:
                sig |= 1 << b
        assert rows[i] == sig


def test_srp_band_keys_are_bit_slices(spark):
    from wsspark.llmops import srp

    sigs = spark.createDataFrame(
        [(1, 0b110100_001011), (2, 0)], "vec_id long, srp_sig long"
    )
    rows = srp.srp_band_keys(sigs, n_bits=12, band_bits=6).collect()
    got = {(r.vec_id, r.band): r.band_key for r in rows}
    assert got == {
        (1, 0): 0b001011, (1, 1): 0b110100, (2, 0): 0, (2, 1): 0,
    }


def test_srp_candidates_no_cartesian_and_bucket_cap(spark):
    from wsspark.llmops import srp

    vecs = _srp_corpus(n_base=20, n_dups=5)
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    out = srp.srp_candidate_pairs(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # a bucket cap of 1 leaves no bucket with 2+ members -> no candidates
    assert srp.srp_candidate_pairs(df, max_bucket_size=1).count() == 0


def test_srp_validation():
    import pytest as _pytest

    from wsspark.llmops import srp

    with _pytest.raises(ValueError, match="n_bits"):
        srp.srp_hyperplanes(8, n_bits=63)
    sigs = None
    with _pytest.raises(ValueError, match="divisible"):
        srp.srp_band_keys(sigs, n_bits=10, band_bits=4)


# ---------------------------------------------------------------------------
# Count-min sketch
# ---------------------------------------------------------------------------


def _cms_corpus(spark):
    rows = []
    for i, (tok, n) in enumerate(
        [("alpha", 50), ("beta", 20), ("gamma", 7), ("delta", 3), ("eps", 1)]
    ):
        rows += [(i * 1000 + j, tok) for j in range(n)]
    return spark.createDataFrame(rows, "row_id long, key string")


def test_cms_never_underestimates_and_is_exact_when_wide(spark):
    """CMS contract: est >= true count ALWAYS; with width >> distinct
    keys the probability of any collision across all depths is tiny, so
    on this corpus every estimate is exact (deterministic given the md5
    hashing and fixed keys)."""
    from wsspark.llmops import cms

    df = _cms_corpus(spark)
    sk = cms.cms_sketch(df, "key", width=1024, depth=4)
    est = {
        r.key: r.est
        for r in cms.cms_estimate(sk, df.select("key"), "key", 1024, 4).collect()
    }
    true = {r.key: r.cnt for r in df.groupBy("key").agg(
        F.count("*").alias("cnt")).collect()}
    for k, t in true.items():
        assert est[k] >= t
    assert est == true  # wide sketch -> no collisions on 5 keys


def test_cms_overcount_bounded_under_collisions(spark):
    """Force collisions (width=2): estimates still never underestimate and
    never exceed the total stream count."""
    from wsspark.llmops import cms

    df = _cms_corpus(spark)
    total = df.count()
    sk = cms.cms_sketch(df, "key", width=2, depth=4)
    est = {
        r.key: r.est
        for r in cms.cms_estimate(sk, df.select("key"), "key", 2, 4).collect()
    }
    true = {r.key: r.cnt for r in df.groupBy("key").agg(
        F.count("*").alias("cnt")).collect()}
    for k, t in true.items():
        assert t <= est[k] <= total


def test_cms_merge_is_linear(spark):
    """sketch(A ++ B) == merge(sketch(A), sketch(B)) counter for counter."""
    from wsspark.llmops import cms

    df = _cms_corpus(spark)
    a = df.filter(F.col("row_id") % 2 == 0)
    b = df.filter(F.col("row_id") % 2 == 1)
    whole = {
        (r.depth, r.bucket): r.cnt
        for r in cms.cms_sketch(df, "key", width=64, depth=4).collect()
    }
    merged = {
        (r.depth, r.bucket): r.cnt
        for r in cms.cms_merge(
            cms.cms_sketch(a, "key", width=64, depth=4),
            cms.cms_sketch(b, "key", width=64, depth=4),
        ).collect()
    }
    assert merged == whole


def test_cms_weighted_and_unseen_and_validation(spark):
    from wsspark.llmops import cms

    df = spark.createDataFrame(
        [("a", 10), ("a", 5), ("b", 2)], "key string, w long"
    )
    sk = cms.cms_sketch(df, "key", width=512, depth=4, weight_col="w")
    est = {
        r.key: r.est
        for r in cms.cms_estimate(
            sk,
            spark.createDataFrame([("a",), ("b",), ("zzz",)], "key string"),
            "key", 512, 4,
        ).collect()
    }
    assert est["a"] == 15 and est["b"] == 2
    assert est["zzz"] == 0  # all-absent probes -> 0 (no phantom counts)
    with pytest.raises(ValueError, match="width"):
        cms.cms_sketch(df, "key", width=1)
    with pytest.raises(ValueError, match="depth"):
        cms.cms_sketch(df, "key", depth=0)
    with pytest.raises(ValueError, match="at least one"):
        cms.cms_merge()


# ---------------------------------------------------------------------------
# BM25 retrieval + RRF fusion
# ---------------------------------------------------------------------------

_BM25_DOCS = [
    (1, "spark query join fast"),
    (2, "spark spark spark slow"),
    (3, "vector hash scan join query"),
    (4, "totally unrelated words here"),
    (5, "query query join spark scan"),
]


def _bm25_reference(docs, queries, k=3, k1=1.2, b=0.75):
    import collections
    import math

    N = len(docs)
    toks = {d: t.split() for d, t in docs}
    dl = {d: len(t) for d, t in toks.items()}
    avgdl = sum(dl.values()) / N
    df = collections.Counter()
    for t in toks.values():
        for term in set(t):
            df[term] += 1

    def score(q, d):
        s = 0.0
        for term in set(q.split()):
            tf = toks[d].count(term)
            if tf == 0:
                continue
            idf = math.log(1 + (N - df[term] + 0.5) / (df[term] + 0.5))
            s += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl[d] / avgdl))
        return round(s, 6)

    out = {}
    for qid, qt in queries:
        ranked = sorted(
            ((score(qt, d), d) for d, _ in docs if score(qt, d) > 0),
            key=lambda x: (-x[0], x[1]),
        )[:k]
        out[qid] = [(d, s, i + 1) for i, (s, d) in enumerate(ranked)]
    return out


def test_bm25_matches_pure_python_reference(spark):
    from wsspark.llmops import retrieval

    queries = [(10, "spark query"), (20, "vector scan"), (30, "nosuchterm")]
    ddf = spark.createDataFrame(_BM25_DOCS, "doc_id long, text string")
    qdf = spark.createDataFrame(queries, "query_id long, text string")
    got = {}
    for r in retrieval.bm25_search(ddf, qdf, k=3).collect():
        got.setdefault(r.query_id, []).append((r.doc_id, r.score, r.rank))
    for qid in got:
        got[qid].sort(key=lambda x: x[2])
    want = _bm25_reference(_BM25_DOCS, queries)
    assert got[10] == want[10]
    assert got[20] == want[20]
    # a query matching nothing returns no rows, not zero-score noise
    assert 30 not in got


def test_bm25_duplicate_query_terms_count_once(spark):
    from wsspark.llmops import retrieval

    ddf = spark.createDataFrame(_BM25_DOCS, "doc_id long, text string")
    once = spark.createDataFrame([(1, "spark join")], "query_id long, text string")
    twice = spark.createDataFrame(
        [(1, "spark spark join")], "query_id long, text string"
    )
    a = {(r.doc_id, r.score) for r in retrieval.bm25_search(ddf, once, k=5).collect()}
    b = {(r.doc_id, r.score) for r in retrieval.bm25_search(ddf, twice, k=5).collect()}
    assert a == b


def test_rrf_fuse_properties(spark):
    from wsspark.llmops import retrieval

    r1 = spark.createDataFrame(
        [(1, 10, 1), (1, 20, 2), (1, 30, 3)], "query_id long, doc_id long, rank int"
    )
    r2 = spark.createDataFrame(
        [(1, 20, 1), (1, 40, 2)], "query_id long, doc_id long, rank int"
    )
    got = {
        r.doc_id: (r.rrf_score, r.rank)
        for r in retrieval.rrf_fuse([r1, r2], k=4).collect()
    }
    # doc 20 appears in both -> highest fused score
    assert got[20][1] == 1
    assert got[20][0] == round(1 / 62 + 1 / 61, 6)
    # docs in only one list contribute only that term
    assert got[10][0] == round(1 / 61, 6)
    assert got[40][0] == round(1 / 62, 6)
    assert got[30][0] == round(1 / 63, 6)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="at least one"):
        retrieval.rrf_fuse([])


def test_hybrid_related_docs_excludes_self_and_fuses(spark, sf_dir):
    from wsspark.io import read_table
    from wsspark.llmops import retrieval

    docs = read_table(spark, sf_dir, "documents")
    emb = read_table(spark, sf_dir, "embeddings")
    qids = docs.filter(F.col("doc_id") % 100 == 0).select("doc_id")
    out = retrieval.hybrid_related_docs(docs, emb, qids, k=5).collect()
    assert out
    by_q = {}
    for r in out:
        assert r.doc_id != r.query_id  # self never returned
        by_q.setdefault(r.query_id, []).append(r.rank)
    for q, ranks in by_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
        assert len(ranks) <= 5


def test_append_ivf_store_equals_rebuild(spark, sf_dir, tmp_path):
    """Appending new vectors to a frozen-centroid store yields a store
    whose searches are row-identical to a fresh build over the union, and
    the appended files land only in their assigned cells' partition
    directories."""
    from wsspark.io import read_table
    from wsspark.llmops import similarity

    emb = read_table(spark, sf_dir, "embeddings")
    old = emb.filter(F.col("vec_id") < 400)
    new = emb.filter(F.col("vec_id") >= 400)
    queries = emb.filter(F.col("vec_id") % 100 == 0)

    inc_path = str(tmp_path / "ivf_inc")
    centroids, n_cells = similarity.write_ivf_store(old, inc_path)
    centroids = centroids.localCheckpoint()  # freeze the codebook
    similarity.append_ivf_store(new, inc_path, centroids)

    full_path = str(tmp_path / "ivf_full")
    similarity.write_ivf_store(emb, full_path, centroids=centroids,
                               n_cells=n_cells)

    got = {
        (r.query_id, r.neighbor_id, r.cos_sim)
        for r in similarity.ivf_search_store(
            spark, inc_path, centroids, queries, k=5, n_cells=n_cells
        ).collect()
    }
    want = {
        (r.query_id, r.neighbor_id, r.cos_sim)
        for r in similarity.ivf_search_store(
            spark, full_path, centroids, queries, k=5, n_cells=n_cells
        ).collect()
    }
    assert got == want and got
    # appended rows live under centroid_id=<cell> dirs of their assignment
    import os as _os

    cells = {
        d for d in _os.listdir(inc_path) if d.startswith("centroid_id=")
    }
    assigned_cells = {
        f"centroid_id={r.centroid_id}"
        for r in similarity.ivf_assign(
            similarity.with_norm(new).select("vec_id", "_vec", "_norm"),
            centroids, n_probe=1,
        ).select("centroid_id").distinct().collect()
    }
    assert assigned_cells <= cells


def test_pin_result_cap_bounds_work_and_raises(spark, tmp_path):
    """r17 (advisor pin): ``_pin_result`` must fail FAST on an oversized
    result — the per-partition cap guard truncates materialization at
    (cap+1) rows per partition instead of pinning the whole result before
    counting — while any in-cap result passes through bit-identical."""
    from pyspark.sql import functions as F

    from wsspark.queries.llm import _pin_cap_guard, _pin_result

    big = spark.range(0, 300).repartition(3)
    # bounded-work property: the guard keeps at most cap+1 rows PER
    # PARTITION (3 x 11 = 33 here), yet still provably exceeds the cap
    guarded_n = _pin_cap_guard(big, 10).count()
    assert guarded_n <= 3 * 11 and guarded_n > 10
    try:
        _pin_result(big, cap=10)
        raise AssertionError("oversized result did not raise")
    except ValueError as e:
        assert "materialization cap" in str(e)

    # in-cap results ride through unchanged (values AND row multiset)
    small = spark.range(0, 7).select(
        F.col("id"), (F.col("id") * 3).alias("v")
    ).repartition(4)
    pinned = _pin_result(small, cap=10)
    assert sorted((r.id, r.v) for r in pinned.collect()) == [
        (i, i * 3) for i in range(7)
    ]
