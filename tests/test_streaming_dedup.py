"""Streaming incremental dedup: cross-batch near-dups are detected against
the accumulated LSH index; work per batch never rescans raw history text."""

from __future__ import annotations

import os

import pytest

from wsspark import streaming

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat sleeps "
    "on the warm windowsill in the afternoon sun near the garden"
)
NEAR = BASE.replace("garden", "fence")
OTHER = "completely different content about spark distributed query engines at scale"
SCHEMA = "doc_id LONG, text STRING"


def test_streaming_dedup_index_across_batches(spark, tmp_path):
    src = str(tmp_path / "docs_src")
    ckpt = str(tmp_path / "ck")
    store = str(tmp_path / "store")
    os.makedirs(src)

    index = streaming.StreamingDedupIndex(spark, store, threshold=0.6)

    def run():
        stream = spark.readStream.schema(SCHEMA).parquet(src + "/*")
        q = index.attach(stream, ckpt)
        q.awaitTermination(120)

    # batch 1: two unrelated docs
    spark.createDataFrame([(1, BASE), (2, OTHER)], SCHEMA).write.parquet(src + "/b1")
    run()
    pairs_b1 = spark.read.parquet(index.pairs_path).collect()
    assert pairs_b1 == []  # no dups yet

    # batch 2: an exact copy of doc 1, a near-dup of doc 1, and a within-batch
    # exact pair (5, 6)
    spark.createDataFrame(
        [(3, BASE), (4, NEAR), (5, OTHER + " tail"), (6, OTHER + " tail")], SCHEMA
    ).write.parquet(src + "/b2")
    run()

    pairs = {
        (r["doc_a"], r["doc_b"]): (r["jaccard"], r["batch_id"])
        for r in spark.read.parquet(index.pairs_path).collect()
    }
    # cross-batch: batch-2 docs paired against the batch-1 index
    assert pairs[(3, 1)][0] == 1.0  # exact copy found against history
    assert (4, 1) in pairs or (1, 4) in pairs  # near-dup found against history
    # within-batch: the (5, 6) exact pair
    assert pairs[(5, 6)][0] == 1.0
    # unrelated doc 2 never pairs with the BASE family
    assert not any({2} & {a, b} and {a, b} & {1, 3, 4} for a, b in pairs)

    # index accumulated all 6 docs' band keys
    assert spark.read.parquet(index.index_path).select("doc_id").distinct().count() == 6


def test_streaming_dedup_batch_parity(spark, tmp_path):
    """One-batch streaming run finds the same pairs as the batch operator."""
    import os as _os

    from wsspark.llmops import dedup

    src = str(tmp_path / "src2")
    _os.makedirs(src)
    docs_rows = [(1, BASE), (2, BASE), (3, NEAR), (4, OTHER)]
    spark.createDataFrame(docs_rows, SCHEMA).write.parquet(src + "/b1")

    index = streaming.StreamingDedupIndex(spark, str(tmp_path / "store2"), threshold=0.6)
    stream = spark.readStream.schema(SCHEMA).parquet(src + "/*")
    q = index.attach(stream, str(tmp_path / "ck2"))
    q.awaitTermination(120)

    got = {
        (r["doc_a"], r["doc_b"])
        for r in spark.read.parquet(index.pairs_path).collect()
    }
    want = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_dedup_pairs(
            spark.createDataFrame(docs_rows, SCHEMA), threshold=0.6
        ).collect()
    }
    assert got == want


def test_streaming_dedup_replay_is_idempotent(spark, tmp_path):
    """A replayed micro-batch must not re-append band/shingle rows to the
    index (inflating bucket occupancy) or duplicate verified pairs."""
    store = str(tmp_path / "replay_store")
    index = streaming.StreamingDedupIndex(spark, store, threshold=0.6)

    b0 = spark.createDataFrame([(1, BASE), (2, BASE)], SCHEMA)
    index.process_batch(b0, 0)
    index.process_batch(b0, 0)  # replayed micro-batch

    pairs = spark.read.parquet(index.pairs_path).collect()
    assert [(r["doc_a"], r["doc_b"]) for r in pairs] == [(1, 2)]
    idx = spark.read.parquet(index.index_path)
    # exactly one band row per (doc, band): 8 bands x 2 docs
    assert idx.count() == 16


def test_streaming_chunk_dedup_across_batches(spark, tmp_path):
    """Chunk-grain ingest dedup: a passage arriving in batch 2 that
    duplicates batch-1 content is flagged with first_* pointing at the
    TRUE first occurrence (history, not the local batch); novel content
    extends the index; replays are idempotent."""
    src = str(tmp_path / "docs_src")
    ckpt = str(tmp_path / "ck")
    store = str(tmp_path / "store")
    os.makedirs(src)

    # chunk_size 40 / overlap 0: doc text below 40 chars = exactly 1 chunk,
    # so chunk identity == text identity and the expectations are readable.
    dedup = streaming.StreamingChunkDedup(spark, store, chunk_size=40, overlap=0)

    def run():
        stream = spark.readStream.schema(SCHEMA).parquet(src + "/*")
        q = dedup.attach(stream, ckpt)
        q.awaitTermination(120)

    t1 = "alpha beta gamma delta"
    t2 = "completely different text"
    spark.createDataFrame([(1, t1), (2, t2)], SCHEMA).write.parquet(src + "/b1")
    run()
    a1 = {(r.doc_id, r.chunk_id): r
          for r in spark.read.parquet(dedup.assignments_path).collect()}
    assert not a1[(1, 0)].is_dup and not a1[(2, 0)].is_dup

    # batch 2: exact copy of doc 1's text, a within-batch dup pair, a novel
    spark.createDataFrame(
        [(3, t1), (4, "same same"), (5, "same same"), (6, "fresh stuff")],
        SCHEMA,
    ).write.parquet(src + "/b2")
    run()
    a = {(r.doc_id, r.chunk_id): r
         for r in spark.read.parquet(dedup.assignments_path).collect()}
    # cross-batch dup points at the batch-1 occurrence
    assert a[(3, 0)].is_dup and a[(3, 0)].first_doc_id == 1 \
        and a[(3, 0)].first_chunk_id == 0
    # within-batch pair: first occurrence wins by (doc_id, chunk_id) order
    assert not a[(4, 0)].is_dup
    assert a[(5, 0)].is_dup and a[(5, 0)].first_doc_id == 4
    assert not a[(6, 0)].is_dup

    # index holds one row per UNIQUE chunk hash: t1, t2, "same same", "fresh"
    idx = spark.read.parquet(dedup.index_path).collect()
    assert len(idx) == len({r.chunk_hash for r in idx}) == 4
    # the dup'd hash is indexed under its first occurrence, not the replayer
    by_hash = {r.chunk_hash: r for r in idx}
    assert by_hash[a[(3, 0)].chunk_hash].first_doc_id == 1

    # replay idempotence: re-running an already-applied batch is a no-op
    n_before = spark.read.parquet(dedup.assignments_path).count()
    dedup.process_batch(spark.createDataFrame([(3, t1)], SCHEMA), 0)
    assert spark.read.parquet(dedup.assignments_path).count() == n_before


def test_streaming_bloom_ngram_index_across_batches(spark, tmp_path):
    """The constant-state bloom index: batch-2 windows whose 5-grams
    arrived in batch 1 are flagged via the ACCUMULATED bloom (no raw
    history rescan is even possible — only the bitmap survives), fresh
    content is not flagged (no false positives at this filter size), and
    the state stays exactly one bitmap frame bounded by n_bits/63 rows
    across batches."""
    src = str(tmp_path / "docs_src")
    ckpt = str(tmp_path / "ck")
    store = str(tmp_path / "store")
    os.makedirs(src)

    idx = streaming.StreamingBloomNgramIndex(spark, store, n=5, n_bits=1 << 16)

    def run():
        stream = spark.readStream.schema(SCHEMA).parquet(src + "/*")
        q = idx.attach(stream, ckpt)
        q.awaitTermination(120)

    spark.createDataFrame([(1, BASE), (2, OTHER)], SCHEMA).write.parquet(
        src + "/b1"
    )
    run()
    p1 = {
        r.doc_id: (r.n_windows, r.n_seen_windows)
        for r in spark.read.parquet(idx.profiles_path).collect()
    }
    # batch 1: nothing seen before (docs share no 5-gram)
    assert p1[1][1] == 0 and p1[2][1] == 0 and p1[1][0] > 0
    state1 = idx.bloom_state().count()

    # batch 2: doc 3 repeats BASE verbatim (every window seen via the
    # bloom), doc 4 is fresh content (nothing seen)
    fresh = "novel words that never appeared before in any earlier batch at all"
    spark.createDataFrame([(3, BASE), (4, fresh)], SCHEMA).write.parquet(
        src + "/b2"
    )
    run()
    p2 = {
        r.doc_id: (r.n_windows, r.n_seen_windows)
        for r in spark.read.parquet(idx.profiles_path).collect()
    }
    assert p2[3][0] == p1[1][0]  # same text, same window count
    assert p2[3][1] == p2[3][0], "verbatim re-arrival must be fully flagged"
    assert p2[4][1] == 0, "fresh content falsely flagged (fp at this size?)"
    # constant state: one bitmap frame, bounded by n_bits/63 words, and
    # NOT growing with corpus content (supersets batch-1 words only)
    state2 = idx.bloom_state().count()
    assert state2 <= (1 << 16) // 63 + 1
    assert state2 >= state1


def test_streaming_bloom_ngram_replay_is_idempotent(spark, tmp_path):
    """Replaying an already-applied batch id must change neither the
    profiles nor the bloom state (at-least-once foreachBatch)."""
    src = str(tmp_path / "docs_src")
    store = str(tmp_path / "store")
    os.makedirs(src)
    idx = streaming.StreamingBloomNgramIndex(spark, store, n=5, n_bits=1 << 16)
    batch = spark.createDataFrame([(1, BASE), (2, BASE)], SCHEMA)
    idx.process_batch(batch, 0)
    before_p = sorted(
        map(tuple, spark.read.parquet(idx.profiles_path).collect())
    )
    before_s = sorted(
        map(tuple, idx.bloom_state().collect())
    )
    idx.process_batch(batch, 0)  # replay
    assert sorted(
        map(tuple, spark.read.parquet(idx.profiles_path).collect())
    ) == before_p
    assert sorted(
        map(tuple, idx.bloom_state().collect())
    ) == before_s
    # and the within-batch arrival order: doc 2 (later) is fully seen
    p = {r.doc_id: r for r in spark.read.parquet(idx.profiles_path).collect()}
    assert p[2].n_seen_windows == p[2].n_windows
    assert p[1].n_seen_windows == 0


# ---------------------------------------------------------------------------
# StreamingSrpIndex (embedding near-dup at ingest)
# ---------------------------------------------------------------------------

VEC_SCHEMA = "vec_id LONG, embedding ARRAY<FLOAT>"


def _srp_vectors(n_base=30, n_dups=8, dim=32, seed=11):
    import numpy as np

    rng = np.random.RandomState(seed)
    base = rng.randn(n_base, dim)
    dups = base[:n_dups] + 0.02 * rng.randn(n_dups, dim)
    return np.vstack([base, dups]).astype(np.float32)


def _rows(vecs, ids):
    return [(int(i), [float(x) for x in vecs[i]]) for i in ids]


def test_streaming_srp_index_matches_batch_operator(spark, tmp_path):
    """Pairs accumulated across a 3-batch arrival equal the batch
    srp_dup_pairs output on the full corpus (as unordered pairs): the
    band keys are seed-only, so batching cannot change the candidate set
    — the property that makes SRP the streaming-safe vector LSH."""
    from wsspark.llmops import srp

    vecs = _srp_vectors(dim=32)
    n = len(vecs)
    df_all = spark.createDataFrame(_rows(vecs, range(n)), VEC_SCHEMA)
    want = {
        frozenset((r.id_a, r.id_b))
        for r in srp.srp_dup_pairs(df_all, threshold=0.95).collect()
    }
    assert want, "constructed corpus must contain near-dup pairs"

    src = str(tmp_path / "vec_src")
    os.makedirs(src)
    index = streaming.StreamingSrpIndex(
        spark, str(tmp_path / "vstore"), threshold=0.95, dim=32
    )

    def run():
        stream = spark.readStream.schema(VEC_SCHEMA).parquet(src + "/*")
        q = index.attach(stream, str(tmp_path / "vck"))
        q.awaitTermination(120)

    # arrival order splits most dup pairs across batches
    thirds = [range(0, 13), range(13, 26), range(26, n)]
    for i, ids in enumerate(thirds, 1):
        spark.createDataFrame(_rows(vecs, ids), VEC_SCHEMA).write.parquet(
            src + f"/b{i}"
        )
        run()

    got = {
        frozenset((r.id_a, r.id_b))
        for r in spark.read.parquet(index.pairs_path).collect()
    }
    assert got == want
    # index accumulated every vector's band rows
    assert (
        spark.read.parquet(index.index_path).select("vec_id").distinct().count()
        == n
    )


def test_streaming_srp_index_replay_idempotent(spark, tmp_path):
    """Re-applying an already-committed batch_id is a no-op: no duplicate
    pair rows, no inflated index buckets."""
    vecs = _srp_vectors(n_base=10, n_dups=4, dim=32)
    df = spark.createDataFrame(_rows(vecs, range(len(vecs))), VEC_SCHEMA)
    index = streaming.StreamingSrpIndex(
        spark, str(tmp_path / "rstore"), threshold=0.95, dim=32
    )
    index.process_batch(df, 0)
    pairs_once = spark.read.parquet(index.pairs_path).count()
    idx_once = spark.read.parquet(index.index_path).count()
    assert pairs_once > 0
    index.process_batch(df, 0)  # replay
    assert spark.read.parquet(index.pairs_path).count() == pairs_once
    assert spark.read.parquet(index.index_path).count() == idx_once


# ---------------------------------------------------------------------------
# StreamingCmsCounter (constant-state frequency estimation)
# ---------------------------------------------------------------------------


def test_streaming_cms_matches_batch_sketch_and_truth(spark, tmp_path):
    """After a 3-batch ingest the store equals the batch cms_sketch over
    the concatenated stream counter-for-counter (linearity), estimates
    never underestimate, and the state row count is bounded by
    width x depth no matter how many batches passed."""
    from pyspark.sql import functions as F

    from wsspark.llmops import cms

    batches = [
        [("alpha",)] * 10 + [("beta",)] * 3,
        [("alpha",)] * 5 + [("gamma",)] * 7,
        [("beta",)] * 2 + [("delta",)] * 1,
    ]
    schema = "key STRING"
    counter = streaming.StreamingCmsCounter(
        spark, str(tmp_path / "cstore"), width=512, depth=4
    )
    src = str(tmp_path / "csrc")
    os.makedirs(src)
    for i, rows in enumerate(batches, 1):
        spark.createDataFrame(rows, schema).write.parquet(src + f"/b{i}")
        stream = spark.readStream.schema(schema).parquet(src + "/*")
        q = counter.attach(stream, str(tmp_path / "cck"))
        q.awaitTermination(120)

    all_rows = [r for b in batches for r in b]
    df_all = spark.createDataFrame(all_rows, schema)
    want = {
        (r.depth, r.bucket): r.cnt
        for r in cms.cms_sketch(df_all, "key", width=512, depth=4).collect()
    }
    got_sketch = counter.sketch()
    got = {(r.depth, r.bucket): r.cnt for r in got_sketch.collect()}
    assert got == want
    assert got_sketch.count() <= 512 * 4

    est = {
        r.key: r.est
        for r in counter.estimate(df_all.select("key").distinct()).collect()
    }
    true = {
        r.key: r.cnt
        for r in df_all.groupBy("key").agg(F.count("*").alias("cnt")).collect()
    }
    assert est == {"alpha": 15, "beta": 5, "gamma": 7, "delta": 1}
    for k, t in true.items():
        assert est[k] >= t


def test_streaming_cms_replay_and_empty_store(spark, tmp_path):
    from pyspark.sql import functions as F  # noqa: F401

    counter = streaming.StreamingCmsCounter(
        spark, str(tmp_path / "rstore"), width=64, depth=4
    )
    keys = spark.createDataFrame([("a",), ("b",)], "key STRING")
    # empty store -> all-zero estimates, schema stable
    est0 = {r.key: r.est for r in counter.estimate(keys).collect()}
    assert est0 == {"a": 0, "b": 0}

    df = spark.createDataFrame([("a",)] * 4 + [("b",)], "key STRING")
    counter.process_batch(df, 0)
    once = {
        (r.depth, r.bucket): r.cnt
        for r in counter.sketch().collect()
    }
    counter.process_batch(df, 0)  # replay must not double-count
    again = {
        (r.depth, r.bucket): r.cnt
        for r in counter.sketch().collect()
    }
    assert once == again
    est = {r.key: r.est for r in counter.estimate(keys).collect()}
    assert est == {"a": 4, "b": 1}


# ---------------------------------------------------------------------------
# failure paths release the batch cache
# ---------------------------------------------------------------------------


def _fail_verify_after_filling_cache(cands, left, right):
    left.count()  # the batch's band rows are cached and materialized now
    raise RuntimeError("verify failed")


def test_streaming_dedup_index_failure_releases_batch_cache(
    spark, tmp_path, monkeypatch
):
    """A batch that fails after its band rows were cached must not leak
    the cached blocks: the persistent-RDD count returns to its value
    from before the call."""
    index = streaming.StreamingDedupIndex(spark, str(tmp_path / "s"), threshold=0.6)
    batch = spark.createDataFrame([(1, BASE), (2, NEAR), (3, OTHER)], SCHEMA)
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    monkeypatch.setattr(index, "_verified_pairs", _fail_verify_after_filling_cache)
    with pytest.raises(RuntimeError, match="verify failed"):
        index.process_batch(batch, 0)
    assert jsc.getPersistentRDDs().size() == before


def test_streaming_srp_index_failure_releases_batch_cache(
    spark, tmp_path, monkeypatch
):
    """Same release-on-failure contract for the SRP vector index."""
    vecs = _srp_vectors(n_base=10, n_dups=4, dim=32)
    batch = spark.createDataFrame(_rows(vecs, range(len(vecs))), VEC_SCHEMA)
    index = streaming.StreamingSrpIndex(
        spark, str(tmp_path / "v"), threshold=0.95, dim=32
    )
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    monkeypatch.setattr(index, "_verified_pairs", _fail_verify_after_filling_cache)
    with pytest.raises(RuntimeError, match="verify failed"):
        index.process_batch(batch, 0)
    assert jsc.getPersistentRDDs().size() == before
