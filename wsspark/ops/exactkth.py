"""Exact distributed order statistics WITHOUT a global sort — radix
bisection (16-bit histogram passes).

The naive exact quantile is ``ORDER BY value`` + offset: a full shuffle
sort of the fact, single-reducer at the limit — the one shape the repo
bans. The approximate path (``percentile_approx`` / GK, used by
``brand_price_quantiles``) is mergeable and one-pass but carries an
error bound. This module closes the remaining corner: EXACT order
statistics whose cost is a handful of map-side-combinable aggregation
passes, never a sort.

The classic selection-by-radix scheme: map each value to an
order-preserving unsigned 64-bit key (scaled to integer cents, sign bit
flipped). The kth key is located 16 bits at a time: each pass
histograms the CURRENT candidate range into 2^16 buckets per group
(one groupBy, map-side combinable), the driver walks the <= 65536
cumulative counts to pick the bucket containing rank k, and the next
pass descends into it. Group counts (fractions -> ranks) are FUSED
into the first pass (it has no path filter, so each group's count is
just its bucket sums), and every histogram row also carries the
bucket's exact MIN/MAX key (same shuffle, two extra agg columns),
which lets the driver SKIP levels: every key in a selected bucket
shares the bits on which that bucket's min and max agree (the interval
prefix property), so the next pass descends directly to the first
16-aligned level below the bits min^max pins — and an all-ties bucket
(min == max) resolves its paths with no further pass at all. Worst
case is still 4 scans (64 bits / 16 per pass, strictly descending);
typical currency-scaled data resolves in 2-3. Paths that jumped ahead
of the pass's global level sit out a round (their rank is defined
within their OWN prefix set — joining a coarser pass would rank them
in a superset) and rejoin when the level reaches them, which cannot
extend the worst case. Multiple groups and multiple fractions ride the
SAME passes (their bucket paths diverge via a broadcast state join),
so the scan count is independent of how many quantiles are requested.

100 TB shape: the fact is never shuffled — every pass reduces to
per-(group, path, bucket) partial counts merged map-side; driver state
is O(groups x fractions x buckets-present) rows per pass, independent
of row count. Because buckets-present <= 2^16 per live path, the
worst-case per-pass collect is ``groups x fractions x 65536`` rows —
so the operator eagerly validates ``groups x fractions <=
MAX_GROUP_PATHS`` (2^16 by default) BEFORE the first histogram
collect: a bounded ``distinct().limit(cap + 1)`` probe over just the
group columns (a column-pruned scan whose transfer is capped at
cap + 1 rows) raises rather than flooding the driver on a
high-cardinality ``group_cols`` call (same eager-validation pattern
as bloom.py's bitmap-size guard). Guarding only after pass 0 would
be too late — the fused histogram already materializes up to
``groups x 65536`` (bucket, count, min, max) rows on the driver.
In practice later passes shrink to the distinct values inside one
65536-wide slice, so the bound is pessimistic by orders of magnitude.

Group identity is never encoded as a string: every pass groups and
joins on the RAW group columns (null-safe equality for the broadcast
path join), and the driver keys its state by the collected Row value
tuples — the same Py4J deserialization on both sides, so the keys
match by construction. The earlier designs both failed here:
delimiter-joined strings collide (concat_ws skips NULLs and is
ambiguous when values contain the delimiter) and re-deriving the key
in Python desynchronizes (str() vs Spark CAST rendering for
float/decimal); a to_json canonical key fixed both but cost a JSON
render per row per pass (+40% on the q28 bench row). Raw-column joins
are the zero-overhead sound form. (NaN group values are the one
unsupported corner — NaN != NaN poisons any keying scheme; filter or
normalize them first.) Fully deterministic (ties collapse into the
same key, and the kth ORDER STATISTIC is a value, not a row), so the
DuckDB twin is a plain ``row_number() = k`` replay.

Reference scope: the reference engine computes summary statistics with
pandas describe()/quantile (etl/transform/*.py) — exact because pandas
sorts in RAM. This operator is what that becomes when the frame stops
fitting on one machine.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wsspark.exec import local_frame

_SIGN_FLIP = -(1 << 63)  # XOR mask: flips the sign bit -> unsigned order
_MASK16 = (1 << 16) - 1

# Eager driver-state guard: worst-case per-pass collect is
# (groups x fractions) live paths x up-to-65536 histogram buckets each.
# 2^16 live paths caps that at ~4.3e9 bucket rows in theory but, because a
# pass's buckets cannot exceed the distinct values in its 65536-wide slice,
# at ~fact-distinct rows in practice; beyond this a sort-based or
# approximate quantile is the right tool anyway.
MAX_GROUP_PATHS = 1 << 16


def exact_group_quantiles(
    df: DataFrame,
    value_col: str,
    fractions: tuple[float, ...] = (0.5,),
    group_cols: tuple[str, ...] = (),
    scale: int = 100,
    max_group_paths: int = MAX_GROUP_PATHS,
) -> DataFrame:
    """Exact type-1 quantiles (value at rank ``ceil(f * n)``) per group.

    ``value_col`` is scaled by ``scale`` and rounded to a long (exact for
    currency at scale=100); the returned ``value`` is descaled, so it is
    exact to 1/scale. Returns (group_cols..., fraction double, value
    double), one row per group x fraction, deterministic.

    Raises ``ValueError`` when ``groups x len(fractions)`` exceeds
    ``max_group_paths`` (default 2^16) — the driver walks every live
    (group, fraction) path's histogram each pass, so unbounded group
    cardinality would flood driver memory silently. The guard runs
    BEFORE the first histogram collect (a ``distinct().limit(cap+1)``
    probe over the group columns only), so the driver never holds the
    oversized pass-0 histogram at all.
    """
    if not fractions or any(not (0.0 < f <= 1.0) for f in fractions):
        raise ValueError("fractions must be in (0, 1]")
    if not group_cols and len(fractions) > max_group_paths:
        raise ValueError(
            f"exact_group_quantiles: {len(fractions)} fractions exceeds "
            f"max_group_paths={max_group_paths}"
        )
    spark = df.sparkSession
    gcols = list(group_cols)
    key = (
        F.round(F.col(value_col) * scale)
        .cast("long")
        .bitwiseXOR(F.lit(_SIGN_FLIP))
        .alias("_k")
    )
    base = df.select(*gcols, key).filter(F.col("_k").isNotNull())
    if gcols:
        # Eager cardinality guard BEFORE the fused pass-0 collect: the
        # probe scans only the (column-pruned) group columns and ships at
        # most cap + 1 rows to the driver, whereas the pass-0 histogram
        # would ship up to groups x 65536 rows before a post-hoc check
        # could fire. Map-side partial dedup keeps the probe's shuffle at
        # O(partitions x distinct-groups), bounded by the limit.
        group_cap = max(1, max_group_paths // len(fractions))
        probe = base.select(*gcols).distinct().limit(group_cap + 1).collect()
        if len(probe) > group_cap:
            raise ValueError(
                f"exact_group_quantiles: more than {group_cap} distinct "
                f"groups x {len(fractions)} fractions exceeds "
                f"max_group_paths={max_group_paths}; reduce group "
                "cardinality or use percentile_approx"
            )

    # Entry state: [fraction, k_within_prefix_set, prefix, shift, value].
    # (prefix, shift) means "the kth key satisfies key >> shift == prefix",
    # with k the rank WITHIN that prefix set; value is set when resolved.
    # The driver keys all state by the COLLECTED Row value tuples — every
    # pass deserializes through the same Py4J path, so the keys agree by
    # construction (never re-derived, never stringified).
    state: dict[tuple, list[list]] = {}
    U64 = (1 << 64) - 1

    def _advance(entry, blist):
        """Walk one bucket list (sorted by bucket id) to the bucket holding
        rank k, then fast-forward using the bucket's exact [min, max]: all
        its keys share the bits where min and max agree, so descend
        straight to the first 16-aligned level the disagreement pins —
        or resolve outright when min == max (all ties)."""
        k = entry[1]
        cum = 0
        for b, c, mn, mx in blist:
            if cum + c >= k:
                umn, umx = mn & U64, mx & U64
                if umn == umx:
                    entry[4] = umn  # every key in the bucket IS the answer
                    return
                p = (umn ^ umx).bit_length() - 1
                new_shift = ((p // 16) + 1) * 16
                entry[1] = k - cum
                entry[2] = umn >> new_shift
                entry[3] = new_shift
                return
            cum += c
        raise AssertionError("rank walked past histogram")  # pragma: no cover

    # broadcast-path schema: the raw group col types + the known prefix,
    # with renamed fields so the null-safe join condition is unambiguous
    path_fields = [
        f"`_p_{c}` {df.schema[c].dataType.simpleString()}" for c in gcols
    ] + ["prefix long"]
    path_schema = ", ".join(path_fields)

    def _sortkey(t):
        return tuple((v is None, str(v)) for v in t)

    first = True
    for _pass in range(5):  # hard bound; G drops >= 16 per pass from 64
        if first:
            G = 64  # virtual: no prefix known yet, no join
            cur = base.withColumn("prefix", F.lit(0))
        else:
            live = [
                e for entries in state.values() for e in entries if e[4] is None
            ]
            if not live:
                break
            # the pass level is the LEAST-informed live path's shift; paths
            # that jumped deeper sit this round out (their k ranks within
            # their own finer prefix set — a coarser pass would rank them
            # in a superset) and rejoin when G reaches their level
            G = max(e[3] for e in live)
            paths = sorted(
                {
                    g + (e[2],)
                    for g, entries in state.items()
                    for e in entries
                    if e[4] is None and e[3] == G
                },
                key=_sortkey,
            )
            path_df = F.broadcast(local_frame(spark, paths, path_schema))
            cond = F.shiftrightunsigned("_k", G) == F.col("prefix")
            for c in gcols:
                # null-safe: NULL group values are real groups here
                cond = cond & F.col(c).eqNullSafe(F.col(f"_p_{c}"))
            cur = base.join(path_df, cond)
        hist = (
            cur.groupBy(
                *gcols,
                "prefix",
                (
                    F.shiftrightunsigned("_k", G - 16).bitwiseAND(F.lit(_MASK16))
                ).alias("_b"),
            )
            .agg(
                F.count("*").alias("_c"),
                F.min("_k").alias("_mn"),
                F.max("_k").alias("_mx"),
            )
            .collect()
        )
        buckets: dict[tuple, list] = {}
        for r in hist:
            g = tuple(r[c] for c in gcols)
            buckets.setdefault((g, r["prefix"]), []).append(
                (r["_b"], r["_c"], r["_mn"], r["_mx"])
            )
        if first:
            # fused pass 0: group counts = bucket sums of the unfiltered
            # first histogram; build ranks, then walk the same buckets
            if not hist:
                return local_frame(
                    spark,
                    [],
                    base.drop("_k")
                    .schema.add("fraction", "double")
                    .add("value", "double"),
                )
            n_groups = len(buckets)
            if n_groups * len(fractions) > max_group_paths:
                raise ValueError(
                    f"exact_group_quantiles: {n_groups} groups x "
                    f"{len(fractions)} fractions = "
                    f"{n_groups * len(fractions)} live driver paths exceeds "
                    f"max_group_paths={max_group_paths}; reduce group "
                    "cardinality or use percentile_approx"
                )
            for (g, _prefix), bl in buckets.items():
                n = sum(c for _b, c, _mn, _mx in bl)
                state[g] = [
                    [f, max(1, math.ceil(f * n)), 0, 64, None]
                    for f in fractions
                ]
            first = False
        for g, entries in state.items():
            for entry in entries:
                if entry[4] is None and entry[3] == G:
                    _advance(entry, sorted(buckets[(g, entry[2])]))
    else:  # pragma: no cover - G strictly drops 16 per pass from 64
        raise AssertionError("radix bisection exceeded its pass bound")

    def _unmap(ukey: int) -> float:
        # ukey is the unsigned 64-bit pattern of the sign-flipped key:
        # flip the top bit back, reinterpret as signed, descale.
        ucents = ukey ^ (1 << 63)
        cents = ucents - (1 << 64) if ucents >= (1 << 63) else ucents
        return cents / scale

    out = [
        g + (e[0], _unmap(e[4]))
        for g, entries in state.items()
        for e in entries
    ]
    return _rows_to_df(spark, df, gcols, out)


def _rows_to_df(spark, df, gcols, rows):
    schema = ", ".join(
        [f"`{c}` {df.schema[c].dataType.simpleString()}" for c in gcols]
        + ["fraction double", "value double"]
    )
    # sort only for deterministic output order; key must be None-safe and
    # type-mixed-safe (group values may be NULL)
    return local_frame(
        spark,
        sorted(rows, key=lambda r: tuple((v is None, str(v)) for v in r)), schema
    )


def robust_outlier_stats(
    df: DataFrame,
    value_col: str,
    group_cols: tuple[str, ...] = (),
    z: float = 3.0,
    scale: int = 100,
) -> DataFrame:
    """Robust per-group outlier detection with EXACT median/MAD — the
    radix-bisection primitive composed twice, still sort-free.

    Mean/stddev outlier fences are themselves dragged by the outliers
    they hunt; the robust fence is ``|x - median| > z * MAD`` where
    MAD = median(|x - median|). Both medians are exact type-1 order
    statistics from ``exact_group_quantiles`` (integer-cents domain, so
    the deviations are exact longs and the fence comparison is
    float-deterministic: one IEEE multiply of z against an integer).
    Cost: 2 x 4 histogram passes + one final count aggregation — 9
    fact scans, zero shuffles of the fact, driver state group-sized.

    Returns (group_cols..., median, mad, n_rows, n_outliers,
    outlier_pct) — deterministic and replayable in any SQL engine via
    the definitional sorted medians.
    """
    gcols = list(group_cols)
    med = exact_group_quantiles(df, value_col, (0.5,), group_cols, scale)
    med_rows = med.collect()
    spark = df.sparkSession
    med_frame = F.broadcast(
        local_frame(
            spark,
            [tuple(r[c] for c in gcols) + (int(round(r["value"] * scale)),) for r in med_rows],
            ", ".join(
                [f"`{c}` {df.schema[c].dataType.simpleString()}" for c in gcols]
                + ["_med_c long"]
            ),
        )
    )
    cents = F.round(F.col(value_col) * scale).cast("long")
    devs = (
        df.filter(F.col(value_col).isNotNull())
        .join(med_frame, gcols)
        if gcols
        else df.filter(F.col(value_col).isNotNull()).crossJoin(med_frame)
    ).select(*gcols, cents.alias("_c"), "_med_c").withColumn(
        "_dev", F.abs(F.col("_c") - F.col("_med_c"))
    )
    mad = exact_group_quantiles(devs, "_dev", (0.5,), group_cols, scale=1)
    mad_frame = F.broadcast(
        local_frame(
            spark,
            [
                tuple(r[c] for c in gcols) + (int(round(r["value"])),)
                for r in mad.collect()
            ],
            ", ".join(
                [f"`{c}` {df.schema[c].dataType.simpleString()}" for c in gcols]
                + ["_mad_c long"]
            ),
        )
    )
    joined = (
        devs.join(mad_frame, gcols) if gcols else devs.crossJoin(mad_frame)
    )
    return (
        joined.groupBy(*gcols)
        .agg(
            F.round(F.first("_med_c") / scale, 6).alias("median"),
            F.round(F.first("_mad_c") / scale, 6).alias("mad"),
            F.count("*").alias("n_rows"),
            F.sum(
                (F.col("_dev") > F.lit(float(z)) * F.col("_mad_c")).cast("long")
            ).alias("n_outliers"),
        )
        .withColumn(
            "outlier_pct",
            F.round(F.col("n_outliers") / F.col("n_rows"), 6),
        )
    )
