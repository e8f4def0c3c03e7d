"""Data-quality rules and incremental scan filter (SURVEY.md §2.2 P1/P2, §2.1 S2).

The reference applies three DQ rules *sequentially, overwriting* the flag
(etl/extract/data_extractor.py:81-94), so effective precedence is
future_date > invalid_quantity > invalid_reference. We encode that with a
single ``when`` chain in that order — one projection, no UDF, fully
codegen'd.

Determinism: the reference flags against wall-clock ``now`` (UTC); every
function here takes an explicit ``as_of`` so runs are replayable
(SURVEY.md §7.3.6).
"""

from __future__ import annotations

import datetime as dt
import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from wsspark.exec import overlap, persisted

BAD_REFERENCE_ID = 9_999_999  # injected sentinel (gen/generate_data.py:344-348)
POSITIVE_MOVEMENT_TYPES = ("IN", "RETURN")

# Eager driver-state guard for the drift family: a CATEGORICAL drift
# column buckets by raw value, so its per-snapshot count collect is
# O(distinct values) — bounded here per column (numeric columns are
# n_buckets-bounded by construction). Beyond this, a per-value PSI is the
# wrong tool anyway (pre-bucket, or use a sketch-based divergence).
MAX_CAT_BUCKETS = 10_000


def dq_flag(
    movements: DataFrame,
    as_of: dt.datetime | str,
    date_col: str = "movement_date",
    qty_col: str = "quantity",
    type_col: str = "movement_type",
    ref_col: str = "reference_id",
    positive_types: tuple[str, ...] = POSITIVE_MOVEMENT_TYPES,
    bad_reference_id: int = BAD_REFERENCE_ID,
) -> DataFrame:
    """P1: add a ``dq_issue`` column with the reference's three rules."""
    flag: Column = (
        F.when(F.col(date_col) > F.lit(as_of), F.lit("future_date"))
        .when(
            F.col(type_col).isin(*positive_types) & (F.col(qty_col) < 0),
            F.lit("invalid_quantity"),
        )
        .when(F.col(ref_col) == F.lit(bad_reference_id), F.lit("invalid_reference"))
        .otherwise(F.lit("valid"))
    )
    return movements.withColumn("dq_issue", flag)


def dq_filter(flagged: DataFrame) -> DataFrame:
    """P2: keep only valid rows (etl/extract/data_extractor.py:97-103)."""
    return flagged.filter(F.col("dq_issue") == "valid")


def incremental_filter(
    movements: DataFrame,
    last_run_timestamp: dt.datetime | str,
    date_col: str = "movement_date",
) -> DataFrame:
    """S2: high-watermark incremental scan.

    The reference interpolates ``WHERE movement_date > '{ts}'`` into source
    SQL by hand (etl/extract/data_extractor.py:43-70); here it is a plain
    Catalyst filter that pushes into the parquet scan (rowgroup min/max
    skipping) or JDBC source — check ``PushedFilters`` in ``.explain``.
    """
    return movements.filter(F.col(date_col) > F.lit(last_run_timestamp))


# ---------------------------------------------------------------------------
# Declarative expectations audit (deequ-style, one aggregate pass)
# ---------------------------------------------------------------------------
#
# The reference's DQ layer flags ROWS (P1/P2, dq_flag above). A 100 TB
# pipeline also needs the TABLE-level audit that gates a batch before it
# ships: completeness / uniqueness / range / allowed-values constraints,
# all evaluated in ONE aggregate pass over the data (every metric is an
# algebraic aggregate, so the scan is single, map-side combinable, and
# adding a constraint adds a column to the agg — not a job). The result
# is one row per constraint: (check_name, metric, threshold, passed).


def expectation_specs() -> list[tuple]:
    """(name, metric expression, comparator, threshold) — expressions must
    all be algebraic aggregates so the audit stays a single pass."""
    n = F.count(F.lit(1)).cast("double")
    return [
        (
            "completeness_ship_date",
            F.count("movement_date").cast("double") / n,
            ">=", 0.99,
        ),
        (
            # distinct over a STRUCT, not multi-col countDistinct (which
            # drops rows containing any null) and not a concat key (3x the
            # CPU for string building — measured at sf0.1): struct grouping
            # treats nulls as equal, exactly DuckDB's row-tuple DISTINCT.
            "uniqueness_reference_line",
            F.countDistinct(
                F.struct("reference_id", "product_id",
                         "warehouse_id", "movement_date")
            ).cast("double") / n,
            ">=", 0.95,
        ),
        (
            "non_degenerate_quantity",
            F.avg((F.abs(F.col("quantity")) > 0).cast("double")),
            ">=", 0.999,
        ),
        (
            "quantity_within_bounds",
            F.max(F.abs(F.col("quantity"))).cast("double"),
            "<=", 60.0,
        ),
        (
            "movement_type_in_domain",
            F.avg(F.col("movement_type").isin("A", "N", "R").cast("double")),
            ">=", 1.0,
        ),
        (
            "mean_abs_quantity_sane",
            F.avg(F.abs(F.col("quantity"))),
            "<=", 40.0,
        ),
    ]


def expectation_report(df: DataFrame, specs: list[tuple] | None = None) -> DataFrame:
    """Evaluate every constraint in one aggregate job and unpivot to one
    row per constraint via ``stack`` — no per-constraint scan, no driver
    loop over data."""
    specs = expectation_specs() if specs is None else specs
    agg = df.agg(
        *[F.round(expr, 6).alias(f"_m{i}") for i, (_, expr, _, _) in enumerate(specs)]
    )
    stack_args = ", ".join(
        f"'{name}', _m{i}, '{op}', CAST({thr} AS DOUBLE)"
        for i, (name, _, op, thr) in enumerate(specs)
    )
    stacked = agg.selectExpr(
        f"stack({len(specs)}, {stack_args}) AS (check_name, metric, op, threshold)"
    )
    passed = (
        F.when(F.col("op") == ">=", F.col("metric") >= F.col("threshold"))
        .otherwise(F.col("metric") <= F.col("threshold"))
    )
    return stacked.select(
        "check_name", "metric", "op", "threshold", passed.alias("passed")
    )


def profile_table(
    df: DataFrame,
    columns: list[str] | None = None,
    exact_distinct: bool = False,
) -> DataFrame:
    """One-pass deequ-style column profiler: per column, the counts and
    bounds a pipeline owner reads before writing expectations —
    (column, n_nonnull, n_null, n_distinct, min_value, max_value), min and
    max rendered as strings so one typed frame profiles every column type.

    The whole profile is ONE aggregate job over ONE scan (the
    ``expectation_report`` discipline — no per-column jobs, no driver
    loop), unpivoted to rows via ``stack``. Distinct counts default to
    HLL++ ``approx_count_distinct`` — at 100 TB exact per-column distinct
    counts would add one Expand-widened shuffle PER COLUMN, while the
    sketch rides the same single pass within its certified +/-3-rsd band
    (see approx_distinct_accuracy, which pins sketch error per column
    family); pass ``exact_distinct=True`` for dimension-bounded frames
    and tests (the pytest oracle compares the exact form bit-for-bit
    against DuckDB)."""
    cols = columns if columns is not None else df.columns
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"unknown columns: {missing}")
    aggs = []
    for i, c in enumerate(cols):
        nd = (
            F.countDistinct(F.col(c))
            if exact_distinct
            else F.approx_count_distinct(F.col(c))
        )
        aggs += [
            F.count(F.col(c)).cast("long").alias(f"_nn{i}"),
            F.sum(F.col(c).isNull().cast("long")).cast("long").alias(f"_nu{i}"),
            nd.cast("long").alias(f"_nd{i}"),
            F.min(F.col(c)).cast("string").alias(f"_mn{i}"),
            F.max(F.col(c)).cast("string").alias(f"_mx{i}"),
        ]
    agg = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', _nn{i}, _nu{i}, _nd{i}, _mn{i}, _mx{i}"
        for i, c in enumerate(cols)
    )
    return agg.selectExpr(
        f"stack({len(cols)}, {stack_args}) AS "
        "(column, n_nonnull, n_null, n_distinct, min_value, max_value)"
    )


def referential_integrity_report(
    fact: DataFrame,
    fks: list[tuple[str, str, DataFrame, str]],
) -> DataFrame:
    """Cross-table DQ: orphan detection for every foreign key in ONE
    scan of the fact. Each spec is (fk_name, fact_col, dim_df, dim_key);
    all dimension key sets are broadcast-left-joined onto the fact in a
    single plan and the orphan/null counters aggregate in the same pass
    (the ``expectation_report`` discipline: no per-constraint scan).
    An orphan is a NON-NULL fact key with no dimension match — null keys
    are counted separately (that's a completeness rule, not an
    integrity one).

    Returns one row per FK: (fk_name, n_rows, n_null_fk, n_orphans,
    orphan_pct, passed). 100 TB shape: dimensions broadcast (they are
    dimension-sized by definition — a fact-sized "dimension" needs a
    shuffle join and should be checked on its own); the fact is scanned
    once regardless of how many FKs are declared.
    """
    if not fks:
        raise ValueError("at least one FK spec is required")
    joined = fact
    markers = []
    for i, (name, fact_col, dim, dim_key) in enumerate(fks):
        marker = f"_fk{i}"
        dim_keys = (
            dim.select(F.col(dim_key).alias(f"_dk{i}"))
            .distinct()
            .withColumn(marker, F.lit(1))
        )
        joined = joined.join(
            F.broadcast(dim_keys),
            F.col(fact_col) == F.col(f"_dk{i}"),
            "left",
        )
        markers.append((name, fact_col, marker))
    aggs = [F.count("*").cast("long").alias("_n")]
    for i, (name, fact_col, marker) in enumerate(markers):
        aggs += [
            F.sum(F.col(fact_col).isNull().cast("long")).cast("long").alias(f"_null{i}"),
            F.sum(
                (F.col(fact_col).isNotNull() & F.col(marker).isNull()).cast("long")
            ).cast("long").alias(f"_orph{i}"),
        ]
    agg = joined.agg(*aggs)
    stack_args = ", ".join(
        f"'{name}', _n, _null{i}, _orph{i}"
        for i, (name, _, _) in enumerate(markers)
    )
    stacked = agg.selectExpr(
        f"stack({len(markers)}, {stack_args}) AS "
        "(fk_name, n_rows, n_null_fk, n_orphans)"
    )
    return stacked.select(
        "fk_name",
        "n_rows",
        "n_null_fk",
        "n_orphans",
        F.round(F.col("n_orphans") / F.col("n_rows"), 6).alias("orphan_pct"),
        (F.col("n_orphans") == 0).alias("passed"),
    )


def drift_report(
    base: DataFrame,
    current: DataFrame,
    numeric_cols: list[str] | None = None,
    cat_cols: list[str] | None = None,
    n_buckets: int = 10,
    psi_alert: float = 0.2,
    max_cat_buckets: int = MAX_CAT_BUCKETS,
) -> DataFrame:
    """Population-Stability-Index drift between two snapshots of the same
    table — the DQ gate that catches a distribution SHIFT the row-level
    expectation audit can't see (every row individually valid, the
    population silently different: an upstream filter change, a broken
    partition, seasonality leaking into training data).

    Numeric columns are bucketized on FIXED equal-width edges derived
    from the BASE snapshot's min/max (one tiny aggregation; edges are
    deterministic and SQL-replicable — quantile edges would put a sketch
    inside the metric), with out-of-range current values clamping into
    the edge buckets and NULLs in their own bucket. Categorical columns
    bucket by value. PSI = sum over buckets of (p - q) * ln(p / q) on
    Laplace-smoothed proportions ((count + 0.5) / (total + B/2) — exact
    IEEE shapes a SQL twin mirrors, and zero-count buckets stay finite).

    Cost: one min/max pass over base for edges, then ONE map-side-
    combinable aggregation per snapshot (counts per (column, bucket),
    all columns stacked into the same scan). Driver holds
    O(columns x buckets) rows. Returns (column, kind, n_base, n_current,
    psi, drifted) sorted by column; the conventional reading is
    psi < 0.1 stable, 0.1-0.2 moderate, > ``psi_alert`` (default 0.2)
    actionable drift.

    Driver-state guard: numeric columns are bounded by construction
    (n_buckets + NULL), but a CATEGORICAL column buckets by raw value —
    a user-id-like column would silently collect one row per distinct
    value. Each snapshot's collect is therefore capped (``limit`` on the
    count aggregation itself, so the cap bounds the TRANSFER, not just a
    post-hoc check) at ``numeric x (n_buckets+1) + categorical x
    (max_cat_buckets+1)`` rows; exceeding it raises ``ValueError``
    naming the offending columns (identified by an O(columns)-row
    follow-up aggregation on the error path only). Same eager-validation
    pattern as ops.exactkth's MAX_GROUP_PATHS and bloom's bitmap-size
    guard. Raise-don't-fold is deliberate: folding the tail into an
    OTHER bucket would silently change the PSI a SQL twin replays.

    Reference scope: the reference's DQ is per-row null/negative flags
    (etl/transform/data_quality.py); drift is what that family needs
    once loads repeat — the incremental pipeline (config.yaml
    --load_type incremental) re-ingests forever and nothing in the
    reference would notice a shifted feed.
    """
    numeric_cols = list(numeric_cols or [])
    cat_cols = list(cat_cols or [])
    if not numeric_cols and not cat_cols:
        raise ValueError("drift_report: pass at least one column")
    edges = _drift_edges(base, numeric_cols)
    # the two stacked count aggregations are independent jobs once the
    # base-pinned edges exist — overlap them (guide §2.6)
    def _counts(df: DataFrame) -> dict:
        return _drift_counts(
            df, numeric_cols, cat_cols, edges, n_buckets, max_cat_buckets
        )

    cc, bc = overlap(lambda: _counts(current), lambda: _counts(base))
    out = _psi_rows(numeric_cols, cat_cols, edges, bc, cc, psi_alert)
    return base.sparkSession.createDataFrame(
        sorted(out),
        "column string, kind string, n_base long, n_current long, "
        "psi double, drifted boolean",
    )


def drift_topk(
    base: DataFrame,
    current: DataFrame,
    cat_cols: list[str],
    k: int = 100,
    psi_alert: float = 0.2,
) -> DataFrame:
    """PSI drift for UNBOUNDED-cardinality categorical columns — the
    explicit scale path ``drift_report`` deliberately refuses to take
    silently: the bucket set per column is the BASE snapshot's top-``k``
    values by count (ties broken by value ascending — deterministic and
    SQL-replayable) plus one ``OTHER`` bucket absorbing the tail and any
    value unseen in base. Pinning buckets to base makes the metric
    stable under current-side novelty: new values land in OTHER and move
    exactly one bucket's mass, which is what a monitor wants (a new-value
    FLOOD still alerts through OTHER's proportion shift).

    Distributed shape: per snapshot ONE stacked map-side-combinable
    (column, value) count aggregation; the top-k rank runs over that
    COUNTS frame (a window over distinct values, never the fact), the
    tail folds into OTHER with a broadcast join against the k-row bucket
    frame, and the driver collects O(columns x (k+2)) rows. No path
    touches O(distinct-values) driver state — this is the fold
    ``drift_report``'s MAX_CAT_BUCKETS guard points users at.

    NULL participates as the literal 'NULL' bucket value (same
    convention as drift_report's categorical path) and can itself rank
    into the top-k. Returns the same schema as ``drift_report``.
    """
    cat_cols = list(cat_cols)
    if not cat_cols:
        raise ValueError("drift_topk: pass at least one column")
    if k < 1:
        raise ValueError("drift_topk: k must be >= 1")
    base_counts = _cat_value_counts(base, cat_cols)
    topk_rows = _topk_values(base_counts, k)
    bc = _fold_to_buckets(base_counts, topk_rows, cat_cols, k)
    cc = _fold_to_buckets(
        _cat_value_counts(current, cat_cols), topk_rows, cat_cols, k
    )
    out = _psi_rows([], cat_cols, {}, bc, cc, psi_alert)
    return base.sparkSession.createDataFrame(
        sorted(out),
        "column string, kind string, n_base long, n_current long, "
        "psi double, drifted boolean",
    )


def _cat_value_counts(df: DataFrame, cat_cols: list[str]) -> DataFrame:
    """ONE stacked map-side-combinable (column, value) count aggregation;
    NULL rides as the literal 'NULL' value."""
    stack_args = ", ".join(f"'{c}', _v_{c}" for c in cat_cols)
    return (
        df.select(
            *[
                F.coalesce(F.col(c).cast("string"), F.lit("NULL")).alias(
                    f"_v_{c}"
                )
                for c in cat_cols
            ]
        )
        .selectExpr(f"stack({len(cat_cols)}, {stack_args}) AS (col, val)")
        .groupBy("col", "val")
        .agg(F.count("*").alias("n"))
    )


def _topk_values(
    base_counts: DataFrame, k: int, n_salts: int = 64
) -> list[tuple[str, str]]:
    """The base snapshot's per-column top-k (count desc, value asc — the
    deterministic tie-break), collected: O(cols x k) driver rows.

    TWO-PHASE hierarchical top-k: a naive rank window partitioned by
    column alone would funnel one column's ENTIRE distinct-value set
    through a single reducer's sort — the exact single-reducer shape the
    repo bans, and the thing that breaks at a billion user_ids. Phase 1
    ranks within (column, salt-of-value) — n_salts parallel reducers per
    column, each sorting ~distinct/n_salts rows; since the global top-k
    is necessarily inside the union of per-salt top-ks (any value's
    full count lives in exactly one salt — counts are already
    per-value), phase 2 re-ranks only cols x n_salts x k survivors.
    Deterministic: salting never splits a value's count."""
    from pyspark.sql import Window

    local = (
        base_counts.withColumn(
            "_salt", F.pmod(F.xxhash64("val"), F.lit(n_salts))
        )
        .withColumn(
            "_rk",
            F.row_number().over(
                Window.partitionBy("col", "_salt").orderBy(
                    F.desc("n"), F.asc("val")
                )
            ),
        )
        .filter(F.col("_rk") <= k)
        .drop("_salt", "_rk")
    )
    return [
        (r["col"], r["val"])
        for r in local.withColumn(
            "_rk",
            F.row_number().over(
                Window.partitionBy("col").orderBy(F.desc("n"), F.asc("val"))
            ),
        )
        .filter(F.col("_rk") <= k)
        .select("col", "val")
        .collect()
    ]


def _fold_to_buckets(
    counts: DataFrame,
    topk_rows: list[tuple[str, str]],
    cat_cols: list[str],
    k: int,
) -> dict[tuple[str, str], int]:
    """Fold a (col, val, n) counts frame onto the pinned top-k bucket set
    (tail -> OTHER) via a broadcast join; collects <= cols x (k+1) rows."""
    spark = counts.sparkSession
    topk = spark.createDataFrame(
        topk_rows or [(None, None)], "col string, val string"
    ).filter(F.col("col").isNotNull())
    bucketed = (
        counts.join(
            F.broadcast(topk.withColumn("_keep", F.lit(True))),
            ["col", "val"],
            "left",
        )
        .select(
            "col",
            F.when(F.col("_keep"), F.col("val"))
            .otherwise(F.lit("OTHER"))
            .alias("bucket"),
            "n",
        )
        .groupBy("col", "bucket")
        .agg(F.sum("n").alias("n"))
    )
    # bounded by construction (<= cols x (k+1)); limit is belt
    rows = bucketed.limit(len(cat_cols) * (k + 1) + 1).collect()
    return {(r["col"], r["bucket"]): r["n"] for r in rows}


# ks_drift path switch: at or under this many pooled distinct values per
# column, the single per-column cumsum window is cheapest (a few-million-
# row sort in one reducer beats the two-phase machinery's constant
# costs); past it, the two-phase bucketed ECDF splits the sort
# into KS_BUCKETS parallel range partitions with driver-combined prefix
# offsets — O(distinct/buckets) per reducer at any cardinality. The
# probe that picks the path is one aggregation over the persisted pooled
# counts frame (exact — its rows ARE the distinct values) and also
# supplies the bucket bounds and side totals, so it is not a pure tax.
KS_SMALL_DISTINCT = 1 << 16
KS_BUCKETS = 4096
# quantile spans per column for the two-phase bucketing: each span holds
# ~1/KS_SPANS of the DISTINCT values however skewed the value range, and
# equal-width sub-buckets inside a span restore KS_BUCKETS parallelism
KS_SPANS = 64


def _ks_pooled(
    base: DataFrame, current: DataFrame, cols: list[str]
) -> DataFrame:
    """The pooled DISTINCT-value frame both KS phases run over: one
    stacked map-side-combinable count aggregation per snapshot, full-outer
    joined on (col, val) — (col, val, n_b, n_c), one row per distinct
    value per column, NULLs excluded."""

    def _counts(df: DataFrame, side: str) -> DataFrame:
        stack_args = ", ".join(f"'{c}', _v_{c}" for c in cols)
        return (
            df.select(
                *[F.col(c).cast("double").alias(f"_v_{c}") for c in cols]
            )
            .selectExpr(f"stack({len(cols)}, {stack_args}) AS (col, val)")
            .filter(F.col("val").isNotNull())
            .groupBy("col", "val")
            .agg(F.count("*").alias(f"n_{side}"))
        )

    return (
        _counts(base, "b")
        .join(_counts(current, "c"), ["col", "val"], "full_outer")
        .select(
            "col",
            "val",
            F.coalesce("n_b", F.lit(0)).alias("n_b"),
            F.coalesce("n_c", F.lit(0)).alias("n_c"),
        )
    )


def _ks_bucketed_uniform(
    pooled: DataFrame, meta: dict, big: list[str]
) -> DataFrame:
    """Equal-width order-preserving bucket id over each big column's
    [lo, hi] — pure arithmetic, the cheap first attempt. Balance only
    affects parallelism; the caller measures per-bucket occupancy from
    the partials it collects anyway and falls back to
    ``_ks_bucketed_quantile`` when a bucket is skew-degenerate. Columns
    not in ``big`` ride bucket 1 (one bounded sort each — the same shape
    the small path gives them)."""
    spark = pooled.sparkSession
    bounds = F.broadcast(
        spark.createDataFrame(
            [(c, float(meta[c]["lo"]), float(meta[c]["hi"])) for c in big],
            "col string, _lo double, _hi double",
        )
    )
    return pooled.join(bounds, "col", "left").withColumn(
        "_bk",
        F.when(
            F.col("_lo").isNull() | (F.col("_hi") == F.col("_lo")),
            F.lit(1),
        ).otherwise(
            F.least(
                F.lit(KS_BUCKETS),
                F.greatest(
                    F.lit(1),
                    (
                        (F.col("val") - F.col("_lo"))
                        / (F.col("_hi") - F.col("_lo"))
                        * KS_BUCKETS
                    ).cast("int")
                    + 1,
                ),
            )
        ),
    ).drop("_lo", "_hi")


def _ks_bucketed_quantile(
    pooled: DataFrame, meta: dict, big: list[str]
) -> DataFrame:
    """The SKEW FALLBACK bucket assignment: equal-width over [lo, hi]
    collapses under one extreme outlier (the whole bulk lands in bucket
    1 and its cumsum degenerates back to the single-task sort the
    two-phase design exists to avoid). Here, KS_SPANS approximate
    quantiles of the DISTINCT-value distribution (one
    ``percentile_approx`` over the already-persisted pooled frame) cap
    any span at ~nd/KS_SPANS distinct values regardless of value skew,
    and equal-width SUB-buckets within each span restore full KS_BUCKETS
    parallelism on the bulk. Monotone in ``val`` (edges sorted,
    within-span linear), so the exclusive-prefix offsets stay exact —
    bucketing affects parallelism only, never the statistic."""
    spark = pooled.sparkSession
    sub = KS_BUCKETS // KS_SPANS
    qs = [i / KS_SPANS for i in range(1, KS_SPANS)]
    # coarse accuracy is deliberate: span edges only steer PARALLELISM
    # (a 0.1%-of-mass misplacement shifts a span boundary, never the
    # statistic), and the sketch cost scales with accuracy
    edge_rows = {
        r["col"]: r["_es"]
        for r in pooled.filter(F.col("col").isin(big))
        .groupBy("col")
        .agg(F.percentile_approx("val", qs, 1_000).alias("_es"))
        .collect()
    }
    # One half-open span row per (col, span): assigning via a broadcast
    # equi-join on col + range filter keeps span/b_lo/b_hi as plain
    # COLUMNS — a per-row array search (higher-order filter) re-evaluates
    # the 63-element scan once per consuming expression and measured ~4x
    # slower on a 600k-distinct column.
    span_rows = []
    for c in big:
        ladder = (
            [float(meta[c]["lo"])]
            + [float(e) for e in edge_rows.get(c, [])]
            + [float(meta[c]["hi"])]
        )
        for i in range(len(ladder) - 1):
            span_rows.append((c, i, ladder[i], ladder[i + 1]))
    bounds = F.broadcast(
        spark.createDataFrame(
            span_rows, "col string, _span int, _blo double, _bhi double"
        )
    )
    # duplicate quantile edges make empty spans; membership is half-open
    # [_blo, _bhi) with the LAST span closed — exactly one match per val
    last = KS_SPANS - 1
    matched = pooled.join(bounds, "col", "left").filter(
        F.col("_span").isNull()  # non-big col: single-bucket fallback
        | (
            (F.col("val") >= F.col("_blo"))
            & (
                (F.col("val") < F.col("_bhi"))
                | ((F.col("_span") == last) & (F.col("val") <= F.col("_bhi")))
            )
        )
    )
    sub_bk = F.when(F.col("_bhi") <= F.col("_blo"), F.lit(0)).otherwise(
        F.least(
            F.lit(sub - 1),
            F.greatest(
                F.lit(0),
                (
                    (F.col("val") - F.col("_blo"))
                    / (F.col("_bhi") - F.col("_blo"))
                    * sub
                ).cast("int"),
            ),
        )
    )
    return matched.withColumn(
        "_bk",
        F.when(F.col("_span").isNull(), F.lit(1)).otherwise(
            F.col("_span") * sub + sub_bk + 1
        ),
    ).drop("_span", "_blo", "_bhi")


def _ks_bucket_spread(
    base: DataFrame, current: DataFrame, cols: list[str]
) -> dict[str, int]:
    """Test/observability probe: populated QUANTILE-path bucket count per
    column (every column forced onto the skew fallback). A
    skew-degenerate bucketing shows up here as a count near 1."""
    with persisted(_ks_pooled(base, current, list(cols))) as pooled:
        meta = {
            r["col"]: r
            for r in pooled.groupBy("col")
            .agg(F.min("val").alias("lo"), F.max("val").alias("hi"))
            .collect()
        }
        rows = (
            _ks_bucketed_quantile(pooled, meta, sorted(meta))
            .groupBy("col")
            .agg(F.countDistinct("_bk").alias("n"))
            .collect()
        )
        return {r["col"]: r["n"] for r in rows}


def ks_drift(
    base: DataFrame,
    current: DataFrame,
    cols: list[str],
    alpha: float = 0.05,
    small_distinct: int = KS_SMALL_DISTINCT,
) -> DataFrame:
    """EXACT two-sample Kolmogorov-Smirnov drift per numeric column — the
    drift family's second statistic. PSI (``drift_report``) needs bucket
    edges and is insensitive to shifts WITHIN a bucket; KS is the
    bucket-free complement: D = sup over x of |ECDF_base(x) -
    ECDF_current(x)|, computed exactly (not on a binned approximation),
    with the asymptotic two-sample critical value c(alpha) *
    sqrt((n+m)/(n*m)), c(alpha) = sqrt(-ln(alpha/2)/2) — so ``drifted``
    is a principled significance verdict, not a rule-of-thumb cutoff.

    Distributed shape (the exact-AUC discipline, classifier.auc): ONE
    stacked map-side-combinable count aggregation per snapshot collapses
    each column to its distinct values; the sup runs as an
    ``aggregate()`` fold (``_ks_fold_best``) over each sorted run of the
    pooled DISTINCT-value frame — the only sort is distinct-value-bounded,
    the fact is never globally sorted, and nothing unbounded reaches the
    driver (the result is one row per column). ECDFs are evaluated
    right-continuously at every pooled distinct value, which is where the
    sup of a pair of step functions lives — hence EXACT. NULLs are
    excluded (an ECDF has no place for them; drift_report's NULL bucket
    covers that axis).

    Returns (column, n_base, n_current, ks_stat, threshold, drifted),
    deterministic, DuckDB-replayable (plain doubles; the twin replays the
    fold as window sums).

    No single-reducer sort at ANY cardinality: columns whose pooled
    distinct count fits ``small_distinct`` fold one sorted run per column;
    past that the TWO-PHASE bucketed ECDF runs — equal-width
    order-preserving buckets over [lo, hi] (order is all the fold needs;
    balance only affects parallelism), one grouped pass per (col, bucket)
    that yields both the bucket's sorted run and its partial sums, the
    partials combined into exclusive prefix OFFSETS on the driver
    (O(cols x KS_BUCKETS) rows) and joined back (broadcast) so each
    bucket's fold starts at its offset. The partials double as a SKEW
    PROBE: if any bucket holds more distinct values than
    ``small_distinct`` (an extreme outlier stretched the range and
    equal-width collapsed the bulk), the assignment reruns on
    QUANTILE-derived span edges (``_ks_bucketed_quantile``) — paid only
    in that rare case, never on well-behaved data — exact to the bit
    either way. The per-column distinct/min/max probe is one aggregation
    over the persisted pooled counts frame.
    """
    cols = list(cols)
    if not cols:
        raise ValueError("ks_drift: pass at least one column")
    if not (0.0 < alpha < 1.0):
        raise ValueError("ks_drift: alpha must be in (0, 1)")
    with persisted(_ks_pooled(base, current, cols)) as pooled:
        rows = _ks_stat_rows(pooled, alpha, small_distinct)
    return base.sparkSession.createDataFrame(
        rows,
        "column string, n_base long, n_current long, ks_stat double, "
        "threshold double, drifted boolean",
    )


def _ks_fold_best(grouped: DataFrame) -> DataFrame:
    """The ECDF sup over one sorted value run as a single ``aggregate()``
    fold (r17): ``grouped`` carries (col, _ob, _oc, nb, nc, _arr) where
    ``_arr`` is the run's (val, n_b, n_c) structs sorted by val; the fold
    threads exact LONG running counts (order-independent sums) and takes
    the running max of ``abs((_ob + cb)/nb - (_oc + cc)/nc)`` — the SAME
    double expression, on the same long operands, the former window
    cumsum + groupBy-max evaluated per row, so the result is bit-exact
    with that plan (max over an identical multiset of doubles; NaN from a
    zero side total sticks under ``greatest`` exactly as under ``max``).
    One pass over the shuffled structs replaces WindowExec's sort +
    running-frame machinery + the 584k-row post-window aggregation
    (measured −29 % on q30's KS core at sf0.1, −40 % at sf1). Returns
    (col, nb, nc, _best)."""
    acc0 = F.struct(
        F.lit(0).cast("long").alias("cb"),
        F.lit(0).cast("long").alias("cc"),
        F.lit(0.0).alias("best"),
    )

    def _step(acc, x):
        cb = acc["cb"] + x["n_b"]
        cc = acc["cc"] + x["n_c"]
        return F.struct(
            cb.alias("cb"),
            cc.alias("cc"),
            F.greatest(
                acc["best"],
                F.abs(
                    (F.col("_ob") + cb) / F.col("nb")
                    - (F.col("_oc") + cc) / F.col("nc")
                ),
            ).alias("best"),
        )

    return grouped.select(
        "col", "nb", "nc", F.aggregate("_arr", acc0, _step)["best"].alias("_best")
    )


def _ks_stat_rows(
    pooled: DataFrame, alpha: float, small_distinct: int, meta: dict | None = None
) -> list[tuple]:
    """The KS core over a PRE-BUILT (and caller-persisted) pooled
    distinct-value frame — shared by ``ks_drift`` and ``drift_suite`` so
    the suite can pay one pooled aggregation for PSI and KS together.
    ``meta`` (optional, r16): precomputed per-column rows carrying
    nd/lo/hi/nb/nc — ``drift_suite`` fuses this probe into its own
    per-column aggregation so the pooled frame is aggregated once, not
    twice. Returns (column, n_base, n_current, ks_stat, threshold,
    drifted) tuples.

    r17 shape: the per-(col, bucket) cumsum WINDOW is replaced by an
    ``array_sort(collect_list(...))`` + ``aggregate()`` fold
    (``_ks_fold_best``) grouped alongside the bucket sums, so the big
    path pays ONE shuffle of the pooled rows (the grouped frame is
    persisted; the partials/skew probe collects only the sums from it)
    instead of two (probe aggregation + window exchange), and the window
    machinery disappears. Per-group state is bounded by the same
    ``small_distinct`` cap the window sort was — the skew fallback
    re-groups on quantile spans exactly as before."""
    spark = pooled.sparkSession
    # one aggregation over the cached frame: per-column distinct count
    # (exact — pooled rows ARE the distinct values), bounds for the
    # bucketing, and the side totals
    meta = meta if meta is not None else {
        r["col"]: r
        for r in pooled.groupBy("col")
        .agg(
            F.count("*").alias("nd"),
            F.min("val").alias("lo"),
            F.max("val").alias("hi"),
            F.sum("n_b").alias("nb"),
            F.sum("n_c").alias("nc"),
        )
        .collect()
    }
    big = sorted(c for c, r in meta.items() if r["nd"] > small_distinct)
    totals = F.broadcast(
        spark.createDataFrame(
            [(c, meta[c]["nb"], meta[c]["nc"]) for c in meta],
            "col string, nb long, nc long",
        )
    )
    c_alpha = math.sqrt(-math.log(alpha / 2.0) / 2.0)
    if not big:
        grouped = (
            pooled.join(totals, "col")
            .groupBy("col")
            .agg(
                F.first("nb").alias("nb"),
                F.first("nc").alias("nc"),
                F.array_sort(
                    F.collect_list(F.struct("val", "n_b", "n_c"))
                ).alias("_arr"),
            )
            .withColumn("_ob", F.lit(0).cast("long"))
            .withColumn("_oc", F.lit(0).cast("long"))
        )
        out = _ks_fold_best(grouped).select(
            "col",
            F.col("nb").alias("n_base"),
            F.col("nc").alias("n_current"),
            F.col("_best").alias("ks_stat"),
        )
        return _ks_result_rows(out, c_alpha)
    # cheap equal-width assignment first; the grouped sums we collect
    # anyway double as the SKEW PROBE (ndist = distinct values per
    # bucket = the size of that bucket's fold array)
    with persisted(
        _ks_grouped(
            _ks_bucketed_uniform(pooled, meta, big),
            F.count("*").alias("ndist"),
        )
    ) as grouped:
        partials = grouped.select("col", "_bk", "sb", "sc", "ndist").collect()
        if all(r["ndist"] <= small_distinct for r in partials):
            return _ks_result_rows(
                _ks_offset_fold(grouped, partials, totals), c_alpha
            )
    # skew-degenerate: an extreme outlier stretched [lo, hi] and some
    # bucket would single-task-fold more distinct values than the small
    # path tolerates per column — rebucket on quantile-derived spans (one
    # extra percentile_approx + pass over the persisted pooled frame, paid
    # ONLY in this rare case)
    with persisted(
        _ks_grouped(_ks_bucketed_quantile(pooled, meta, big))
    ) as grouped:
        partials = grouped.select("col", "_bk", "sb", "sc").collect()
        return _ks_result_rows(
            _ks_offset_fold(grouped, partials, totals), c_alpha
        )


def _ks_grouped(bucketed: DataFrame, *extra: Column) -> DataFrame:
    """One pass per (col, bucket): the side sums, any ``extra``
    aggregates, and the bucket's sorted (val, n_b, n_c) run."""
    return bucketed.groupBy("col", "_bk").agg(
        F.sum("n_b").alias("sb"),
        F.sum("n_c").alias("sc"),
        *extra,
        F.array_sort(F.collect_list(F.struct("val", "n_b", "n_c"))).alias(
            "_arr"
        ),
    )


def _ks_offset_fold(
    grouped: DataFrame, partials: list, totals: DataFrame
) -> DataFrame:
    """Fold every bucket from its exclusive prefix offset — computed on
    the driver from the collected ``partials``, O(cols x KS_BUCKETS)
    integers — and take the per-column max. Returns (col, n_base,
    n_current, ks_stat)."""
    by_col: dict[str, list] = {}
    for r in partials:
        by_col.setdefault(r["col"], []).append((r["_bk"], r["sb"], r["sc"]))
    off_rows = []
    for c, lst in by_col.items():
        ob = oc = 0
        for bk, sb, sc in sorted(lst):
            off_rows.append((c, bk, ob, oc))
            ob += sb
            oc += sc
    offsets = F.broadcast(
        grouped.sparkSession.createDataFrame(
            off_rows,
            "col string, _bk int, _ob long, _oc long",
        )
    )
    folded = _ks_fold_best(
        grouped.join(offsets, ["col", "_bk"]).join(totals, "col")
    )
    return folded.groupBy("col").agg(
        F.first("nb").alias("n_base"),
        F.first("nc").alias("n_current"),
        F.max("_best").alias("ks_stat"),
    )


def _ks_result_rows(out: DataFrame, c_alpha: float) -> list[tuple]:
    """The verdict columns over (col, n_base, n_current, ks_stat), eagerly
    collected (family convention: driver-row results, hash-stable; lets
    the caller's cache go)."""
    result = out.select(
        F.col("col").alias("column"),
        "n_base",
        "n_current",
        F.round("ks_stat", 6).alias("ks_stat"),
        F.round(
            F.lit(c_alpha)
            * F.sqrt(
                (F.col("n_base") + F.col("n_current"))
                / (F.col("n_base") * F.col("n_current"))
            ),
            6,
        ).alias("threshold"),
        (
            F.col("ks_stat")
            > F.lit(c_alpha)
            * F.sqrt(
                (F.col("n_base") + F.col("n_current"))
                / (F.col("n_base") * F.col("n_current"))
            )
        ).alias("drifted"),
    ).orderBy("column")
    return [tuple(r) for r in result.collect()]


def embedding_drift(
    base: DataFrame,
    current: DataFrame,
    col: str = "embedding",
    alpha: float = 0.05,
) -> DataFrame:
    """Distribution drift for an ``array<float>`` embedding column — the
    monitor an embedding-producing pipeline needs when the MODEL or the
    upstream text shifts (a re-trained encoder, a feed change) while
    row-level DQ stays green.

    Statistic: per-dimension Welch z = |mean_b - mean_c| /
    sqrt(var_b/n_b + var_c/n_c); the verdict is max-over-dims z against
    the Bonferroni-corrected two-sided normal critical value
    z(1 - alpha/(2*dim)) — principled for the many-dimensions setting.
    The centroid COSINE is reported as a descriptive stat but never
    drives the verdict: for a zero-mean population (typical of
    normalized embeddings) random halves have noise-dominated centroids
    and their cosine is meaningless, while the per-dim z is exactly
    calibrated (measured on the testdata: label-split cosine -0.12 AND
    parity-split cosine 0.10 — indistinguishable — where max-z separates
    them decisively).

    Distributed shape: per snapshot ONE posexplode -> groupBy(pos)
    aggregation (count/sum/sum-of-squares — map-side combinable, output
    bounded by the dimension); the driver holds O(dim) rows and computes
    the O(dim) combine. Ragged arrays are rejected (a dimension present
    in one side only has no paired test).

    Returns one row: (n_base, n_current, dim, centroid_cosine,
    max_dim_z, mean_dim_z, z_crit, drifted).
    """
    if not (0.0 < alpha < 1.0):
        raise ValueError("embedding_drift: alpha must be in (0, 1)")
    row = _embedding_drift_row(base, current, col, alpha)
    return base.sparkSession.createDataFrame(
        [row],
        "n_base long, n_current long, dim int, centroid_cosine double, "
        "max_dim_z double, mean_dim_z double, z_crit double, "
        "drifted boolean",
    )


def _embedding_drift_row(
    base: DataFrame, current: DataFrame, col: str, alpha: float
) -> tuple:
    """The embedding-drift core returning the single stats tuple —
    shared by ``embedding_drift`` and ``drift_suite`` (which runs it over
    its cached snapshot projections so no extra fact scan happens)."""

    def _moments(df: DataFrame) -> dict[int, tuple[int, float, float]]:
        rows = (
            df.select(F.posexplode(col).alias("pos", "v"))
            .select("pos", F.col("v").cast("double").alias("v"))
            .groupBy("pos")
            .agg(
                F.count("v").alias("n"),
                F.sum("v").alias("s"),
                F.sum(F.col("v") * F.col("v")).alias("ss"),
            )
            .collect()
        )
        return {r["pos"]: (r["n"], r["s"], r["ss"]) for r in rows}

    # the two moment aggregations are independent jobs — overlap them
    # (guide §2.6); result dicts are keyed, so order cannot matter
    mc, mb = overlap(lambda: _moments(current), lambda: _moments(base))
    if not mb or not mc:
        raise ValueError("embedding_drift: empty snapshot")
    if set(mb) != set(mc):
        raise ValueError(
            "embedding_drift: dimension mismatch between snapshots "
            f"({len(mb)} vs {len(mc)} positions)"
        )
    nb = {n for n, _s, _ss in mb.values()}
    nc = {n for n, _s, _ss in mc.values()}
    if len(nb) != 1 or len(nc) != 1:
        raise ValueError("embedding_drift: ragged arrays are unsupported")
    n_b, n_c = nb.pop(), nc.pop()
    if n_b < 2 or n_c < 2:
        raise ValueError("embedding_drift: need >= 2 rows per side")
    dim = len(mb)
    from statistics import NormalDist

    z_crit = NormalDist().inv_cdf(1.0 - alpha / (2.0 * dim))
    dot = l2b = l2c = 0.0
    zs = []
    for pos in sorted(mb):
        _, sb, ssb = mb[pos]
        _, sc, ssc = mc[pos]
        meb, mec = sb / n_b, sc / n_c
        dot += meb * mec
        l2b += meb * meb
        l2c += mec * mec
        varb = max(0.0, (ssb - sb * sb / n_b) / (n_b - 1))
        varc = max(0.0, (ssc - sc * sc / n_c) / (n_c - 1))
        se = math.sqrt(varb / n_b + varc / n_c)
        zs.append(abs(meb - mec) / se if se > 0 else 0.0)
    denom = math.sqrt(l2b) * math.sqrt(l2c)
    cosine = dot / denom if denom > 0 else 0.0
    max_z, mean_z = max(zs), sum(zs) / dim
    return (
        n_b,
        n_c,
        dim,
        round(cosine, 6),
        round(max_z, 6),
        round(mean_z, 6),
        round(z_crit, 6),
        max_z > z_crit,
    )


def _drift_edges(base: DataFrame, numeric_cols: list[str]) -> dict:
    """Equal-width bucket edges from the BASE snapshot's min/max — one
    tiny aggregation, deterministic and SQL-replicable."""
    if not numeric_cols:
        return {}
    row = base.agg(
        *[
            a
            for c in numeric_cols
            for a in (
                F.min(F.col(c).cast("double")).alias(f"_lo_{c}"),
                F.max(F.col(c).cast("double")).alias(f"_hi_{c}"),
            )
        ]
    ).collect()[0]
    return {c: (row[f"_lo_{c}"], row[f"_hi_{c}"]) for c in numeric_cols}


def _drift_bucket_col(c: str, edges: dict, n_buckets: int) -> F.Column:
    if c in edges:
        lo, hi = edges[c]
        if lo is None or hi is None or hi == lo:
            # degenerate/empty base: a single bucket (plus NULL)
            return F.when(F.col(c).isNull(), F.lit("NULL")).otherwise(
                F.lit("b0")
            )
        v = (F.col(c).cast("double") - F.lit(float(lo))) / F.lit(
            float(hi) - float(lo)
        )
        b = F.least(
            F.lit(n_buckets - 1),
            F.greatest(F.lit(0), F.floor(v * n_buckets).cast("int")),
        )
        return F.when(F.col(c).isNull(), F.lit("NULL")).otherwise(
            F.concat(F.lit("b"), b.cast("string"))
        )
    return F.coalesce(F.col(c).cast("string"), F.lit("NULL"))


def _drift_counts(
    df: DataFrame,
    numeric_cols: list[str],
    cat_cols: list[str],
    edges: dict,
    n_buckets: int,
    max_cat_buckets: int = MAX_CAT_BUCKETS,
) -> dict[tuple[str, str], int]:
    """ONE stacked map-side-combinable count aggregation for every
    audited column; the driver holds O(columns x buckets) rows.

    The collect is capped with ``limit`` at the legitimate maximum —
    numeric columns contribute at most n_buckets+1 rows by construction,
    categorical columns at most max_cat_buckets+1 each — so a
    high-cardinality categorical can never flood the driver: the limit
    bounds the transfer itself, and hitting it raises after naming the
    offending columns via an O(columns)-row aggregation."""
    cols = numeric_cols + cat_cols
    stack_args = ", ".join(f"'{c}', _bk_{c}" for c in cols)
    bucketed = df.select(
        *[_drift_bucket_col(c, edges, n_buckets).alias(f"_bk_{c}") for c in cols]
    ).selectExpr(f"stack({len(cols)}, {stack_args}) AS (col, bucket)")
    cap = len(numeric_cols) * (n_buckets + 1) + len(cat_cols) * (
        max_cat_buckets + 1
    )
    counted = bucketed.groupBy("col", "bucket").agg(F.count("*").alias("n"))
    rows = counted.limit(cap + 1).collect()
    if len(rows) > cap:
        # error path only: name the offenders (one row per column)
        over = sorted(
            r["col"]
            for r in bucketed.groupBy("col")
            .agg(F.count_distinct("bucket").alias("nb"))
            .collect()
            if r["nb"] > max_cat_buckets
        )
        raise ValueError(
            "drift_report: categorical column(s) "
            f"{over or cols} exceed max_cat_buckets={max_cat_buckets} "
            "distinct values — a per-value PSI bucket would flood the "
            "driver; pass a bounded column, raise max_cat_buckets "
            "deliberately, or pre-bucket the column"
        )
    return {(r["col"], r["bucket"]): r["n"] for r in rows}


def _psi_rows(
    numeric_cols: list[str],
    cat_cols: list[str],
    edges: dict,
    bc: dict,
    cc: dict,
    psi_alert: float,
) -> list[tuple]:
    import math

    out = []
    for c in numeric_cols + cat_cols:
        kind = "numeric" if c in edges else "categorical"
        buckets = sorted(
            {b for col, b in bc if col == c} | {b for col, b in cc if col == c}
        )
        n_b = sum(v for (col, _), v in bc.items() if col == c)
        n_c = sum(v for (col, _), v in cc.items() if col == c)
        nb = len(buckets)
        psi = 0.0
        if n_b and n_c and nb:
            for b in buckets:
                p = (bc.get((c, b), 0) + 0.5) / (n_b + nb / 2)
                q = (cc.get((c, b), 0) + 0.5) / (n_c + nb / 2)
                psi += (p - q) * math.log(p / q)
        out.append((c, kind, n_b, n_c, round(psi, 6), psi > psi_alert))
    return out


def _suite_numeric_psi(
    pooled: DataFrame,
    numeric_cols: list[str],
    edges: dict,
    em: dict,
    nb_rows: int,
    nc_rows: int,
    n_buckets: int,
    psi_alert: float,
) -> list[tuple]:
    """The suite's numeric-PSI leg over the pooled DISTINCT-value frame:
    bucket the pooled values (identical labels/clamping to
    ``_drift_bucket_col``, but over (col, val) rows so no second fact
    pass), weight by the per-side counts, restore the NULL buckets from
    the row totals, and emit the standard ``_psi_rows``."""
    bucket = None
    for c_ in numeric_cols:
        lo, hi = edges[c_]
        if lo is None or hi is None or hi == lo:
            expr = F.lit("b0")
        else:
            v = (F.col("val") - F.lit(float(lo))) / F.lit(
                float(hi) - float(lo)
            )
            idx = F.least(
                F.lit(n_buckets - 1),
                F.greatest(F.lit(0), F.floor(v * n_buckets).cast("int")),
            )
            expr = F.concat(F.lit("b"), idx.cast("string"))
        bucket = (
            F.when(F.col("col") == c_, expr)
            if bucket is None
            else bucket.when(F.col("col") == c_, expr)
        )
    pb = (
        pooled.select("col", bucket.alias("bucket"), "n_b", "n_c")
        .groupBy("col", "bucket")
        .agg(F.sum("n_b").alias("sb"), F.sum("n_c").alias("sc"))
        .collect()
    )
    bc = {(r["col"], r["bucket"]): r["sb"] for r in pb if r["sb"]}
    cc = {(r["col"], r["bucket"]): r["sc"] for r in pb if r["sc"]}
    for c_ in numeric_cols:
        null_b = nb_rows - em[c_]["nnb"]
        null_c = nc_rows - em[c_]["nnc"]
        if null_b:
            bc[(c_, "NULL")] = null_b
        if null_c:
            cc[(c_, "NULL")] = null_c
    return [
        ("psi", col, kind, n_b, n_c, psi, psi_alert, drifted)
        for col, kind, n_b, n_c, psi, drifted in _psi_rows(
            numeric_cols, [], edges, bc, cc, psi_alert
        )
    ]


def drift_suite(
    base: DataFrame,
    current: DataFrame,
    numeric_cols: list[str] | None = None,
    cat_cols: list[str] | None = None,
    embedding_col: str | None = None,
    n_buckets: int = 10,
    psi_alert: float = 0.2,
    k: int = 100,
    alpha: float = 0.05,
    small_distinct: int = KS_SMALL_DISTINCT,
    plans_out: dict | None = None,
) -> DataFrame:
    """The drift family FUSED over one fact read per snapshot: PSI
    (numeric), exact KS (numeric), base-pinned top-k PSI (categorical),
    and per-dimension embedding drift, all computed from a single cached
    projection of each snapshot — at 100 TB four statistics over the
    same snapshot pair should pay one scan, not four.

    Scan economy, concretely: each snapshot is projected to exactly the
    audited columns and persisted (materialized once by the row-count
    pass every statistic needs anyway). Numeric columns then pay ONE
    stacked (col, val) count aggregation per snapshot — the pooled
    distinct-value frame — from which BOTH the PSI bucket counts (edges
    from the base side's min/max, bucket-weighted sums over distinct
    values) and the exact KS cumsums (``_ks_stat_rows``) derive without
    touching the fact again. Categorical columns pay one stacked value
    count per snapshot (``drift_topk``'s machinery: salted two-phase
    top-k, OTHER fold). The embedding column pays one
    posexplode-moments aggregation per snapshot. Everything reads the
    in-memory projection; ``plans_out`` (tests) captures the aggregation
    plans to pin that.

    Statistic parity is exact: each family's rows are computed by the
    SAME code paths as the standalone functions (``drift_report``'s
    ``_psi_rows`` with identical Laplace smoothing, bucket labels, and
    NULL buckets derived from row totals; ``ks_drift``'s
    ``_ks_stat_rows``; ``drift_topk``'s fold; ``embedding_drift``'s
    Welch-z core) — pinned by pytest equality against all four.

    Returns one row per (family, column):
    (family, column, kind, n_base, n_current, statistic, threshold,
    drifted) — family in {'psi', 'ks', 'topk_psi', 'embedding'};
    statistic is the PSI / KS D / max per-dim Welch z respectively.
    """
    numeric_cols = list(numeric_cols or [])
    cat_cols = list(cat_cols or [])
    if not numeric_cols and not cat_cols and not embedding_col:
        raise ValueError("drift_suite: pass at least one column")
    if not (0.0 < alpha < 1.0):
        raise ValueError("drift_suite: alpha must be in (0, 1)")
    proj = numeric_cols + cat_cols + ([embedding_col] if embedding_col else [])
    b = base.select(*proj)
    c = current.select(*proj)
    # r16: the three statistic families (numeric PSI+KS, categorical
    # top-k PSI, embedding Welch-z) are independent driver-composed job
    # chains over the same two cached projections — overlap them so the
    # scheduler overlaps their jobs (guide §2.6: actions are only
    # sequential because the driver calls them sequentially) instead of
    # draining one family's straggler tail at a time. Results are
    # assembled in a fixed order (and sorted at the end), so the output
    # is bit-identical to the sequential run.
    with persisted(b, c):
        # the one fact read per snapshot: materializes both caches
        # (concurrently — they are independent jobs) and provides the row
        # totals PSI's NULL buckets need
        nc_rows, nb_rows = overlap(c.count, b.count)

        def _numeric_family() -> list[tuple]:
            with persisted(_ks_pooled(b, c, numeric_cols)) as pooled:
                if plans_out is not None:
                    plans_out["pooled"] = pooled._jdf.queryExecution().toString()
                # PSI edges + per-col non-null totals + the KS meta probe
                # (distinct count, pooled bounds), FUSED into one agg over
                # the DISTINCT-sized pooled frame (base-side min/max == the
                # fact's, distinct values preserve extrema) — r15 paid this
                # aggregation twice (once here, once inside _ks_stat_rows)
                em = {
                    r["col"]: r
                    for r in pooled.groupBy("col")
                    .agg(
                        F.min(F.when(F.col("n_b") > 0, F.col("val"))).alias("lo"),
                        F.max(F.when(F.col("n_b") > 0, F.col("val"))).alias("hi"),
                        F.sum("n_b").alias("nnb"),
                        F.sum("n_c").alias("nnc"),
                        F.count("*").alias("nd"),
                        F.min("val").alias("_plo"),
                        F.max("val").alias("_phi"),
                    )
                    .collect()
                }
                edges = {c_: (em[c_]["lo"], em[c_]["hi"]) for c_ in numeric_cols}
                ks_meta = {
                    c_: {
                        "nd": em[c_]["nd"],
                        "lo": em[c_]["_plo"],
                        "hi": em[c_]["_phi"],
                        "nb": em[c_]["nnb"],
                        "nc": em[c_]["nnc"],
                    }
                    for c_ in em
                }
                # the PSI bucket-weighted counts and the KS fold chain are
                # independent job chains over the pooled frame once the
                # fused probe exists — overlap them
                ks_rows, psi_rows = overlap(
                    lambda: _ks_stat_rows(
                        pooled, alpha, small_distinct, meta=ks_meta
                    ),
                    lambda: _suite_numeric_psi(
                        pooled, numeric_cols, edges, em, nb_rows, nc_rows,
                        n_buckets, psi_alert,
                    ),
                )
            return psi_rows + [
                ("ks", col, "numeric", n_b, n_c, stat, thr, dr)
                for col, n_b, n_c, stat, thr, dr in ks_rows
            ]

        def _cat_family() -> list[tuple]:
            base_counts = _cat_value_counts(b, cat_cols)
            if plans_out is not None:
                plans_out["cat"] = base_counts._jdf.queryExecution().toString()
            topk_rows = _topk_values(base_counts, k)
            # the two folds are independent jobs over the pinned top-k
            # bucket set — overlap them
            tc, tb = overlap(
                lambda: _fold_to_buckets(
                    _cat_value_counts(c, cat_cols), topk_rows, cat_cols, k
                ),
                lambda: _fold_to_buckets(base_counts, topk_rows, cat_cols, k),
            )
            return [
                ("topk_psi", col, kind, n_b, n_c, psi, psi_alert, drifted)
                for col, kind, n_b, n_c, psi, drifted in _psi_rows(
                    [], cat_cols, {}, tb, tc, psi_alert
                )
            ]

        def _emb_family() -> list[tuple]:
            if plans_out is not None:
                plans_out["emb"] = (
                    b.select(F.posexplode(embedding_col))
                    ._jdf.queryExecution()
                    .toString()
                )
            (n_b, n_c, _dim, _cos, max_z, _mean_z, z_crit, drifted) = (
                _embedding_drift_row(b, c, embedding_col, alpha)
            )
            return [
                (
                    "embedding",
                    embedding_col,
                    "embedding",
                    n_b,
                    n_c,
                    max_z,
                    z_crit,
                    drifted,
                )
            ]

        families = [
            family
            for family, wanted in (
                (_numeric_family, numeric_cols),
                (_cat_family, cat_cols),
                (_emb_family, embedding_col),
            )
            if wanted
        ]
        out = [row for rows in overlap(*families) for row in rows]
    return base.sparkSession.createDataFrame(
        sorted(out),
        "family string, column string, kind string, n_base long, "
        "n_current long, statistic double, threshold double, "
        "drifted boolean",
    )


# ---------------------------------------------------------------------------
# Incremental drift (r16): the PSI counts maintained O(changed rows)
# through the snapstore change feed — drift_report's statistics without
# rescanning the fact. At 100 TB a monitoring cadence cannot pay a full
# snapshot scan per tick; the (column, bucket) counts are exactly the
# kind of bounded, signed-mergeable state the IVM plane
# (ops/incremental.py) maintains for MVs, so drift rides the same
# retraction algebra: insert/update_postimage rows add +1 to their
# bucket, delete/update_preimage rows add -1, and the maintained
# counts stay bit-identical with a full recompute (pinned by test).


def _drift_counts_delta(
    changes: DataFrame,
    numeric_cols: list[str],
    cat_cols: list[str],
    edges: dict,
    n_buckets: int,
    max_cat_buckets: int = MAX_CAT_BUCKETS,
) -> dict[tuple[str, str], int]:
    """Signed per-(column, bucket) counts of a change-feed frame — ONE
    stacked map-side-combinable aggregation over the CHANGES only, the
    same bucket expressions as ``_drift_counts`` with the base-pinned
    edges. The collect is capped exactly like ``_drift_counts`` (the
    delta's bucket universe is a subset of the same bound)."""
    cols = numeric_cols + cat_cols
    w = (
        F.when(
            F.col("_change_type").isin("insert", "update_postimage"),
            F.lit(1),
        )
        .otherwise(F.lit(-1))
        .cast("long")
    )
    stack_args = ", ".join(f"'{c}', _bk_{c}" for c in cols)
    bucketed = changes.select(
        w.alias("_w"),
        *[
            _drift_bucket_col(c, edges, n_buckets).alias(f"_bk_{c}")
            for c in cols
        ],
    ).selectExpr("_w", f"stack({len(cols)}, {stack_args}) AS (col, bucket)")
    cap = len(numeric_cols) * (n_buckets + 1) + len(cat_cols) * (
        max_cat_buckets + 1
    )
    counted = bucketed.groupBy("col", "bucket").agg(F.sum("_w").alias("dn"))
    rows = counted.limit(cap + 1).collect()
    if len(rows) > cap:
        over = sorted(
            r["col"]
            for r in bucketed.groupBy("col")
            .agg(F.count_distinct("bucket").alias("nb"))
            .collect()
            if r["nb"] > max_cat_buckets
        )
        raise ValueError(
            "snapstore_drift_ivm_refresh: categorical column(s) "
            f"{over or cols} exceed max_cat_buckets={max_cat_buckets} "
            "distinct values in the change feed — pre-bucket the column "
            "or raise max_cat_buckets deliberately"
        )
    return {(r["col"], r["bucket"]): r["dn"] for r in rows}


_DRIFT_IVM_SCHEMA = "side string, col string, bucket string, n long"


def snapstore_drift_ivm_refresh(
    spark,
    fact_root: str,
    counts_root: str,
    numeric_cols: list[str] | None = None,
    cat_cols: list[str] | None = None,
    n_buckets: int = 10,
    max_cat_buckets: int = MAX_CAT_BUCKETS,
) -> int:
    """Self-maintaining drift-counts state over a snapstore fact via the
    CHANGE DATA FEED: refresh cost is O(changed rows) whatever the DML
    mix, never a fact rescan. The state table at ``counts_root`` holds
    three row kinds — ``side='edge'`` (the bucket edges, pinned from the
    fact at first refresh; bucket = json [lo, hi]), ``side='base'``
    (the frozen baseline counts from that first snapshot), and
    ``side='cur'`` (the maintained counts). Cursor protocol is the
    ``snapstore_mv_refresh_cdf`` one: the state store's manifest tag IS
    the consumed fact version, committed atomically with the counts; a
    lineage reset (user overwrite / restore) or a pre-enable DML commit
    in the span falls back to an honest full recompute of the 'cur'
    side with the SAME pinned edges (base and edges never move — a
    drift monitor's baseline must not drift with its subject).

    ``snapstore_drift_ivm_report`` turns the state into the exact
    ``drift_report`` PSI rows with zero fact I/O."""
    import json as _json

    from wsspark import snapstore as ss

    numeric_cols = list(numeric_cols or [])
    cat_cols = list(cat_cols or [])
    if not numeric_cols and not cat_cols:
        raise ValueError("snapstore_drift_ivm_refresh: pass at least one column")
    fact_version = ss.snap_current_version(fact_root)
    if fact_version is None:
        raise FileNotFoundError(f"no committed fact version in {fact_root}")
    cursor = ss.snap_tag(counts_root)
    if cursor == fact_version:
        return fact_version  # idempotent no-op

    def _rows(side: str, counts: dict) -> list[tuple]:
        return [(side, c, b, int(n)) for (c, b), n in sorted(counts.items())]

    if cursor is None:
        fact = ss.snap_read(spark, fact_root, fact_version)
        edges = _drift_edges(fact, numeric_cols)
        counts = _drift_counts(
            fact, numeric_cols, cat_cols, edges, n_buckets, max_cat_buckets
        )
        state = (
            [
                ("edge", c, _json.dumps(list(edges[c])), 0)
                for c in numeric_cols
            ]
            + _rows("base", counts)
            + _rows("cur", counts)
        )
    else:
        prev = ss.snap_read(spark, counts_root).collect()
        edges = {
            r.col: tuple(_json.loads(r.bucket))
            for r in prev
            if r.side == "edge"
        }
        cur = {(r.col, r.bucket): r.n for r in prev if r.side == "cur"}
        try:
            feed = ss.snap_read_changes_cdf(
                spark, fact_root, since=cursor, until=fact_version
            )
            delta = _drift_counts_delta(
                feed, numeric_cols, cat_cols, edges, n_buckets,
                max_cat_buckets,
            )
            for key, dn in delta.items():
                cur[key] = cur.get(key, 0) + dn
            cur = {k: n for k, n in cur.items() if n != 0}
        except ValueError:
            # lineage reset: full 'cur' recompute with the PINNED edges
            cur = _drift_counts(
                ss.snap_read(spark, fact_root, fact_version),
                numeric_cols, cat_cols, edges, n_buckets, max_cat_buckets,
            )
        state = [
            (r.side, r.col, r.bucket, r.n) for r in prev if r.side != "cur"
        ] + _rows("cur", cur)
    ss.snap_commit(
        spark.createDataFrame(state, _DRIFT_IVM_SCHEMA).coalesce(1),
        counts_root,
        mode="overwrite",
        tag=fact_version,
    )
    return fact_version


def snapstore_drift_ivm_report(
    spark, counts_root: str, psi_alert: float = 0.2
) -> DataFrame:
    """The ``drift_report`` PSI rows straight from the maintained
    counts state — O(columns x buckets) rows read, ZERO fact I/O. By
    the signed-retraction invariant this equals
    ``drift_report(fact@baseline, fact@cursor, ...)`` exactly (pinned
    by tests/test_quality.py)."""
    import json as _json

    from wsspark import snapstore as ss

    rows = ss.snap_read(spark, counts_root).collect()
    edges = {
        r.col: tuple(_json.loads(r.bucket)) for r in rows if r.side == "edge"
    }
    bc = {(r.col, r.bucket): r.n for r in rows if r.side == "base"}
    cc = {(r.col, r.bucket): r.n for r in rows if r.side == "cur"}
    cols = sorted({c for c, _ in bc} | {c for c, _ in cc})
    numeric = [c for c in cols if c in edges]
    cat = [c for c in cols if c not in edges]
    out = _psi_rows(numeric, cat, edges, bc, cc, psi_alert)
    return spark.createDataFrame(
        sorted(out),
        "column string, kind string, n_base long, n_current long, "
        "psi double, drifted boolean",
    )
