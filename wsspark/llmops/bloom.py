"""A broadcast Bloom filter built ENTIRELY from native Spark expressions —
no UDFs, no per-row driver involvement; the only driver materialization
is the O(n_bits/63) bitmap densification (bounded by the CONFIGURED
filter size, never by data — 130 KiB at 2^20 bits).

Why another membership structure: the classic scale upgrade for
"filter a huge stream by membership in a derived key set" (dup n-grams,
revoked ids, contaminated fingerprints) is to replace the corpus-scale
semi-join with a broadcast bloom test. Spark's built-in runtime row-level
filtering does this internally but exposes no reusable operator, and
``DataFrameStatFunctions.bloomFilter`` collects the sketch to the driver
and tests membership row-at-a-time in Python. This module keeps both
sides distributed and JVM-native:

- ``bloom_bitmap(keys, n_bits, k)`` — the filter IS a tiny DataFrame:
  ``(word_idx, bits)`` with ``bits`` = OR of ``1 << (pos % 63)`` over all
  key positions mapped into that word. Words carry 63 bits, not 64: a
  shift of 63 overflows a signed BIGINT in engines that check (DuckDB
  raises where Spark wraps), and capping at 62 keeps every expression
  portable. ~n_bits/63 rows total (a 2^20-bit filter = 16645 rows
  ~ 130 KiB — broadcast territory). Built with one combinable ``bit_or``
  aggregate over exploded positions.
- ``with_bloom_test(df, col, bitmap, ...)`` — the bitmap densified to
  one broadcast array<long> row; membership = k O(1) ordinal bit tests,
  entirely map-side, pipelining with the scan. A row passes iff ALL k
  probed bits are set.
- ``bloom_pruned_join(probe, build, on)`` — the operator form of runtime
  row-level filtering: prune the probe fact before its shuffle,
  row-identical to the plain inner/left_semi join.

Hashing is the Kirsch-Mitzenmacher double-hashing scheme over a PORTABLE
base: the two 32-bit halves of the key's 16-hex md5 prefix, probe i at
``(h1 + i*h2) mod n_bits``. Every step (md5, hex parse, modular
arithmetic, bit OR/AND) is replicable in any SQL engine, so operators
built on this bloom keep full DuckDB oracle hash checks — the filter is
deterministic, not a per-run sketch.

Guarantees: NO false negatives ever (a true member always passes); false
positives at the standard rate fp ~ (1 - e^(-k*n/m))^k — size
``n_bits >= 16 * n_keys`` for fp < 0.3% at k=4.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from wsspark.exec import local_frame


def _halves(key_col: Column) -> tuple[Column, Column]:
    """The two 32-bit halves of a 16-hex-char key as longs (the double-
    hashing base). Keys must be 16 hex chars (e.g. substring(md5(x),1,16),
    the repo's portable 64-bit key convention)."""
    h1 = F.conv(F.substring(key_col, 1, 8), 16, 10).cast("long")
    h2 = F.conv(F.substring(key_col, 9, 8), 16, 10).cast("long")
    return h1, h2


def probe_positions(
    key_col: Column, n_bits: int, k: int, hash: str = "md5hex"
) -> list[Column]:
    """The k probe bit-positions for a key: (h1 + i*h2) mod n_bits,
    i = 1..k (i starts at 1 so h2 always contributes; h2=0 keys
    degenerate to one position, which only raises their fp rate).

    ``hash='md5hex'`` (default): the portable scheme — key must be the
    repo's 16-hex md5-prefix convention, replicable in any SQL engine, so
    bloom-built operators keep DuckDB oracle hash checks. ``'xxhash64'``:
    the fast path for perf-only uses (e.g. bloom_pruned_join, whose
    correctness oracle is the plain join) — two seeded xxhash64 calls on
    the RAW column, all-long arithmetic, no per-row string hashing/
    parsing; measured ~4x cheaper per probe pass (PLANS.md round 9)."""
    if hash == "xxhash64":
        # reduce to 31 bits so h1 + k*h2 can never overflow a signed
        # long under ANSI arithmetic (the md5hex halves are 32-bit for
        # the same reason)
        h1 = F.pmod(F.xxhash64(key_col), F.lit(1 << 31))
        h2 = F.pmod(
            F.xxhash64(key_col, F.lit(-1640531527)), F.lit(1 << 31)
        )  # golden-ratio salt
    elif hash == "md5hex":
        h1, h2 = _halves(key_col)
    else:
        raise ValueError(f"hash must be md5hex|xxhash64, got {hash!r}")
    return [F.pmod(h1 + F.lit(i) * h2, F.lit(n_bits)) for i in range(1, k + 1)]


def bloom_bitmap(
    keys: DataFrame,
    key_col: str,
    n_bits: int = 1 << 20,
    k: int = 4,
    hash: str = "md5hex",
) -> DataFrame:
    """Build the bitmap frame ``(word_idx long, bits long)`` from a key
    frame. One explode (k rows per key) + one combinable bit_or groupBy —
    the build side is usually already the output of an aggregation
    (e.g. "grams with doc_count >= 2"), so this adds only a tiny shuffle
    of at most ~n_bits/63 groups."""
    pos = F.explode(
        F.array(*probe_positions(F.col(key_col), n_bits, k, hash=hash))
    )
    return (
        keys.select(pos.alias("_pos"))
        .select(
            F.floor(F.col("_pos") / 63).cast("long").alias("word_idx"),
            F.call_function(
                "shiftleft",
                F.lit(1).cast("long"),
                F.pmod(F.col("_pos"), F.lit(63)).cast("int"),
            ).alias("_bit"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("_bit").alias("bits"))
    )


def with_bloom_test(
    df: DataFrame,
    key_col: str,
    bitmap: DataFrame,
    n_bits: int = 1 << 20,
    k: int = 4,
    out_col: str = "bloom_hit",
    hash: str = "md5hex",
) -> DataFrame:
    """Append ``out_col`` (boolean): true iff ALL k probed bits are set.

    The bitmap is densified into ONE array<long> row (index = word_idx,
    O(n_bits/63) driver collect — bounded by the CONFIGURED filter size,
    never by data; 2^20 bits = 130 KiB) and broadcast-crossJoined, so
    membership is ordinal array indexing + bit AND — O(1) per probe. The
    original packed-MAP form made every ``element_at`` a LINEAR scan of
    the whole word map (Spark map columns have no hash index): measured
    at sf0.1, probing 600k rows against a 2^20-bit filter cost 14.3 s
    with the map vs sub-second with the dense array, and probe cost
    scaled with filter size instead of being flat (PLANS.md round 9).
    No join per probe (a k-join formulation replicates the bitmap-build
    subtree k times), and the probed stream never shuffles. Missing
    words test as 0, so an empty filter rejects everything.

    The densifying collect makes this call EAGER: the bitmap's lineage
    executes here, not at the probe's first action (total work is
    unchanged — the old lazy-map plan evaluated the bitmap subtree at
    action time anyway — but schema-probing a returned frame no longer
    costs zero). In foreachBatch loops the per-batch collect is the
    bounded n_bits/63 rows, a deliberate trade for O(1) probes."""
    n_words = n_bits // 63 + 1
    dense = [0] * n_words
    for r in bitmap.select("word_idx", "bits").collect():
        w = int(r["word_idx"])
        if not 0 <= w < n_words:
            raise ValueError(
                f"bitmap word_idx {w} out of range for n_bits={n_bits} "
                f"({n_words} words): the bitmap was built with a different "
                f"n_bits — a bloom filter cannot be resized; rebuild it at "
                f"the new size"
            )
        dense[w] = int(r["bits"])
    packed = local_frame(
        df.sparkSession,
        [(dense,)], "_bloom_arr array<long>"
    )
    cond = F.lit(True)
    for pos in probe_positions(F.col(key_col), n_bits, k, hash=hash):
        word = F.floor(pos / 63).cast("int")
        bit = F.call_function(
            "shiftleft",
            F.lit(1).cast("long"),
            F.pmod(pos, F.lit(63)).cast("int"),
        )
        cond = cond & (
            F.coalesce(
                F.element_at(F.col("_bloom_arr"), word + F.lit(1)),
                F.lit(0).cast("long"),
            ).bitwiseAND(bit)
            != 0
        )
    return (
        df.crossJoin(F.broadcast(packed))
        .withColumn(out_col, cond)
        .drop("_bloom_arr")
    )


def bloom_pruned_join(
    probe: DataFrame,
    build: DataFrame,
    on: str,
    how: str = "inner",
    n_bits: int = 1 << 20,
    k: int = 4,
) -> DataFrame:
    """Shuffle-volume reducer for selective fact-fact joins: broadcast a
    Bloom bitmap of the build side's join keys and filter the probe side
    BEFORE its shuffle, so only (true matches + the fp rate) ever leave
    the probe scan. This is the operator form of Spark's internal runtime
    row-level filtering — reusable, deterministic (seeded xxhash64 double
    hashing on the raw key, no per-run sketch), and oracle-friendly: the
    output is row-identical to the plain join, so the oracle IS the plain
    join (driver-hash-checked as the folded query ``bloom_pruned_join``).

    Correctness: the bloom has NO false negatives, so for ``inner`` and
    ``left_semi`` joins the result is row-identical to the plain join
    (false positives are eliminated by the join itself); other join types
    would lose the pruned probe rows' null-extended output and are
    rejected. The build side is NOT pre-deduplicated: ``bloom_bitmap``'s
    bit_or aggregate is idempotent per key, so duplicate build keys cost
    nothing and join multiplicity is untouched.

    Scale shape: bitmap build = one explode + one combinable bit_or into
    <= n_bits/63 groups (tiny shuffle); probe test = broadcast 1-row map +
    pure expression indexing, pipelined with the probe scan; the join then
    shuffles only surviving rows. Worth it when the build keys hit a small
    fraction of probe rows (the selective-dimension-filter pattern);
    measured at sf0.1 in tests/test_bloom.py + PLANS.md."""
    if how not in ("inner", "left_semi"):
        raise ValueError(
            "bloom_pruned_join preserves semantics only for inner/left_semi"
            f" joins, got {how!r}"
        )
    # xxhash64 is TYPE-sensitive: int 5 and bigint 5 hash differently, so
    # mixed-but-coercible key types (which a plain join silently casts)
    # would turn every true match into a bloom false negative. Fail loudly
    # instead of returning a silently near-empty join.
    p_type = dict(probe.dtypes).get(on)
    b_type = dict(build.dtypes).get(on)
    if p_type is None or b_type is None:
        raise ValueError(f"join key {on!r} missing from probe or build side")
    if p_type != b_type:
        raise ValueError(
            f"bloom_pruned_join requires identical key types on both sides "
            f"(xxhash64 is type-sensitive; a plain join would coerce): "
            f"probe.{on} is {p_type}, build.{on} is {b_type} — cast one "
            f"side first"
        )
    bitmap = bloom_bitmap(
        build.select(on), on, n_bits=n_bits, k=k, hash="xxhash64"
    )
    pruned = (
        with_bloom_test(
            probe, on, bitmap, n_bits=n_bits, k=k,
            out_col="_bloom_hit", hash="xxhash64",
        )
        .filter(F.col("_bloom_hit"))
        .drop("_bloom_hit")
    )
    return pruned.join(build, on, how)
