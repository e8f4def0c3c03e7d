"""Financial analytics: ABC/Pareto classification, weighted-average costing,
stock valuation (SURVEY.md §2 — P4, A4, A5, A6, A7, A8, W2, F1, J2, J3, P7;
reference etl/transform/financial_metrics.py, dbfn/functions.sql:184-239).

Determinism: the Pareto cumulative sum orders by (revenue DESC, product_id)
— the explicit secondary key pins tie-breaks that pandas got "for free" from
stable sort (SURVEY.md §4.3.3).

Scale notes:
- The revenue rollup is a map-side-combinable sum keyed by product — the
  only full-fact shuffle.
- The cumulative window runs over the *aggregated* (one-row-per-product)
  frame. A global ORDER BY window is a single-partition operation; at true
  100 TB catalog sizes (billions of products) swap in a two-pass percentile
  partitioning — for any realistic product dimension this is the right plan.
  The two-pass pattern exists in code as ``_rfm_percentile_cut`` (broadcast
  GK-sketch boundaries + expression-only assignment, no Window): an ABC cut
  at billions of products would use the same shape with revenue-share
  boundaries from a weighted quantile sketch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from wsspark.exec import local_frame

ABC_THRESHOLD_A = 0.8   # cumulative revenue share -> class A
ABC_THRESHOLD_B = 0.95  # -> class B, else C (etl/config/config.yaml:19-22)


def revenue_per_product(
    so_details: DataFrame,
    key: str = "product_id",
    qty_col: str = "quantity",
    price_col: str = "unit_price",
) -> DataFrame:
    """P4 + A4: revenue = quantity * unit_price, summed per product."""
    return (
        so_details.withColumn("revenue", F.col(qty_col) * F.col(price_col))
        .groupBy(key)
        .agg(F.sum("revenue").alias("revenue"))
    )


def abc_analysis(
    revenue: DataFrame,
    key: str = "product_id",
    threshold_a: float = ABC_THRESHOLD_A,
    threshold_b: float = ABC_THRESHOLD_B,
) -> DataFrame:
    """A5 + W2 + F1: Pareto curve and ABC classes over per-product revenue.

    Matches etl/transform/financial_metrics.py:23-39: grand total replicated
    per row, running cumulative share ordered by revenue desc, class by
    threshold. The classifier is a ``when`` chain, not a UDF.
    """
    w_total = Window.partitionBy()
    w_cum = (
        Window.orderBy(F.desc("revenue"), F.asc(key))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        revenue.withColumn("total_revenue", F.sum("revenue").over(w_total))
        .withColumn("revenue_cumsum", F.sum("revenue").over(w_cum))
        .withColumn("revenue_percent", F.col("revenue_cumsum") / F.col("total_revenue"))
        .withColumn(
            "abc_class",
            F.when(F.col("revenue_percent") <= threshold_a, "A")
            .when(F.col("revenue_percent") <= threshold_b, "B")
            .otherwise("C"),
        )
    )


def abc_analysis_partitioned(
    revenue: DataFrame,
    key: str = "product_id",
    threshold_a: float = ABC_THRESHOLD_A,
    threshold_b: float = ABC_THRESHOLD_B,
    n_buckets: int = 64,
) -> DataFrame:
    """The billions-of-products form of ``abc_analysis``: the global
    Pareto running sum WITHOUT the single-partition window.

    Two-level prefix sum: (1) bucket every row by broadcast revenue
    quantile boundaries (one mergeable percentile_approx aggregate — the
    same GK-sketch pass as ``_rfm_percentile_cut``); (2) per-bucket
    running sums via a window PARTITIONED by bucket (parallel, each
    partition ~N/n_buckets rows); (3) add each bucket's starting offset,
    accumulated on the driver from the O(n_buckets) bucket totals (the
    same bounded-collect contract as the PCA partials) and joined back as
    a broadcast dimension. Buckets cut on revenue VALUE, so every
    (revenue, key) tie run lives inside one bucket and the concatenated
    per-bucket order IS the global (revenue desc, key) order — the result
    is row-identical to the window form up to float summation order
    (offsets accumulate bucket subtotals; the window accumulates rows —
    equality within 1e-9 relative is pinned in tests/test_quality.py).
    """
    spark = revenue.sparkSession
    qs = [(n_buckets - t) / n_buckets for t in range(1, n_buckets)]
    aggs = revenue.agg(
        F.sum("revenue").alias("_total"),
        F.percentile_approx("revenue", qs, F.lit(1_000_000)).alias("_bb"),
    )
    # bucket 0 = highest revenue; descending-cut convention as
    # _rfm_percentile_cut (inclusive <=: the boundary element opens the
    # next bucket)
    # Materialize the bucketed frame ONCE: the bucket-totals collect below
    # and the returned plan both consume it — without this, the revenue
    # rollup + GK sketch + bucketing would execute twice per call, and any
    # divergence between the two evaluations (nondeterministic input,
    # sketch merge order shifting a boundary) would silently desynchronize
    # the driver-collected offsets from the recomputed buckets.
    df = revenue.crossJoin(F.broadcast(aggs)).withColumn(
        "_bucket",
        F.size(F.filter(F.col("_bb"), lambda b: F.col("revenue") <= b)),
    ).localCheckpoint()
    bucket_totals = sorted(
        df.groupBy("_bucket").agg(F.sum("revenue").alias("_bsum")).collect(),
        key=lambda r: r["_bucket"],
    )
    offsets, acc = [], 0.0
    for r in bucket_totals:
        offsets.append((r["_bucket"], acc))
        acc += r["_bsum"]
    off_df = local_frame(spark, offsets, "_bucket int, _off double")
    w_cum = (
        Window.partitionBy("_bucket")
        .orderBy(F.desc("revenue"), F.asc(key))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        df.join(F.broadcast(off_df), "_bucket")
        .withColumn(
            "revenue_cumsum", F.col("_off") + F.sum("revenue").over(w_cum)
        )
        .withColumn(
            "revenue_percent", F.col("revenue_cumsum") / F.col("_total")
        )
        .withColumn(
            "abc_class",
            F.when(F.col("revenue_percent") <= threshold_a, "A")
            .when(F.col("revenue_percent") <= threshold_b, "B")
            .otherwise("C"),
        )
        .select(
            key,
            "revenue",
            F.col("_total").alias("total_revenue"),
            "revenue_cumsum",
            "revenue_percent",
            "abc_class",
        )
    )


def abc_class_counts(abc: DataFrame) -> DataFrame:
    """A7: products per ABC class."""
    return abc.groupBy("abc_class").agg(F.count("*").alias("n_products"))


def product_avg_cost(
    po_details: DataFrame,
    key: str = "product_id",
    qty_col: str = "quantity",
    price_col: str = "unit_price",
) -> DataFrame:
    """A6: quantity-weighted average purchase cost per product, with the
    SQL twin's zero-guard (dbfn/functions.sql:200-212): cost = 0 when total
    quantity is 0. Pure expression — the reference's groupby.apply(np.average)
    needs no UDAF in Spark."""
    return po_details.groupBy(key).agg(
        F.when(F.sum(qty_col) == 0, F.lit(0.0))
        .otherwise(F.sum(F.col(qty_col) * F.col(price_col)) / F.sum(qty_col))
        .alias("avg_cost")
    )


def stock_value_report(
    stock: DataFrame,
    avg_cost: DataFrame,
    key: str = "product_id",
    qty_col: str = "quantity_on_hand",
) -> DataFrame:
    """J2 + P7: stock priced at weighted-average cost; unknown cost -> 0
    (etl/transform/financial_metrics.py:65-67). The per-product cost table is
    dimension-sized — broadcast it."""
    return stock.join(F.broadcast(avg_cost), key, "left").withColumn(
        "stock_value", F.col(qty_col) * F.coalesce(F.col("avg_cost"), F.lit(0.0))
    )


def dead_stock_value(dead_stock: DataFrame, stock_value: DataFrame,
                     keys: tuple[str, ...] = ("product_id", "warehouse_id")) -> DataFrame:
    """J3 + A8: total value tied up in dead stock
    (etl/transform/financial_metrics.py:81-87)."""
    dead = dead_stock.filter(F.col("is_dead_stock")).select(*keys)
    return dead.join(stock_value, list(keys)).agg(
        F.round(F.coalesce(F.sum("stock_value"), F.lit(0.0)), 2).alias(
            "total_dead_stock_value"
        )
    )


def financial_summary(stock_value: DataFrame, abc: DataFrame) -> DataFrame:
    """A8 + struct summary: one row with total inventory value and the ABC
    class counts as a struct (golden financial_summary.parquet has
    abc_summary: struct<A,B,C>)."""
    total = stock_value.agg(
        F.round(F.sum("stock_value"), 2).alias("total_inventory_value")
    )
    counts = (
        abc_class_counts(abc)
        .groupBy()
        .pivot("abc_class", ["A", "B", "C"])
        .sum("n_products")
        .na.fill(0)
    )
    return total.crossJoin(counts).select(
        "total_inventory_value",
        F.struct(F.col("A"), F.col("B"), F.col("C")).alias("abc_summary"),
    )


def rfm_segments(
    orders: DataFrame,
    as_of: str,
    n_tiles: int = 5,
    cust_col: str = "o_custkey",
    date_col: str = "o_orderdate",
    amount_col: str = "o_totalprice",
    method: str = "ntile",
) -> DataFrame:
    """RFM customer segmentation — the classic marketing-analytics triple
    quantile cut: per customer, Recency (days from last order to
    ``as_of``), Frequency (order count), Monetary (cents-exact spend),
    each cut into ``n_tiles`` buckets (R: most recent = tile 1;
    F/M: largest = tile 1, the conventional orientation), plus the
    concatenated segment label ("111" = best customers).

    Two cut strategies, same output schema:

    - ``method='ntile'`` (default, the driver-verified row set): exact
      equal-count tiles via three global ``ntile`` windows. Every ORDER BY
      carries the customer id as the final tiebreak, so equal metrics
      always split identically — the same pinned-tie-break rule as the
      ABC Pareto cut — and monetary sums are exact integer cents. The
      global windows imply a single-partition sort of the per-customer
      frame: fine while that frame is a dimension, the wrong shape at
      billions of customers.
    - ``method='percentile'`` (the 100 TB shape): a two-pass split — one
      map-side-combinable ``percentile_approx`` aggregation yields the
      ``n_tiles - 1`` boundary values per metric (a mergeable GK sketch;
      the shuffle carries one sketch per partition, never rows), the
      1-row boundary frame is broadcast back, and tile assignment is a
      pure array expression. No Window, no single-partition sort.
      Semantics differ from ntile only on ties: customers sharing a
      metric value always land in the same tile (value-based cut),
      whereas ntile splits tied runs across a tile boundary by custkey.
      Equivalence away from boundary-tied values is pinned in
      tests/test_quality.py.
    """
    from wsspark.queries.exactsum import cents

    per_cust = orders.groupBy(F.col(cust_col).alias("custkey")).agg(
        F.datediff(F.lit(as_of).cast("date"), F.max(date_col))
        .cast("long")
        .alias("recency_days"),
        F.count("*").cast("long").alias("frequency"),
        F.sum(cents(F.col(amount_col))).cast("long").alias("monetary_cents"),
    )
    if method == "percentile":
        segmented = _rfm_percentile_cut(per_cust, n_tiles)
    elif method == "ntile":
        w_r = Window.orderBy(F.col("recency_days").asc(), F.col("custkey").asc())
        w_f = Window.orderBy(F.col("frequency").desc(), F.col("custkey").asc())
        w_m = Window.orderBy(
            F.col("monetary_cents").desc(), F.col("custkey").asc()
        )
        segmented = per_cust.select(
            "custkey",
            "recency_days",
            "frequency",
            "monetary_cents",
            F.ntile(n_tiles).over(w_r).alias("r"),
            F.ntile(n_tiles).over(w_f).alias("f"),
            F.ntile(n_tiles).over(w_m).alias("m"),
        )
    else:
        raise ValueError(f"method must be ntile|percentile, got {method!r}")
    return segmented.withColumn(
        "segment", F.concat_ws("", F.col("r"), F.col("f"), F.col("m"))
    )


def _rfm_percentile_cut(per_cust: DataFrame, n_tiles: int) -> DataFrame:
    """Broadcast-boundary tile assignment for rfm_segments(method='percentile').

    Boundaries sit at quantiles t/n (ascending recency) and (n-t)/n
    (descending frequency/monetary), t = 1..n-1; a value's tile is one plus
    the number of boundaries it falls past, evaluated as a native
    size(filter(...)) over the broadcast boundary arrays — whole-stage
    codegen, no UDF, no Window."""
    qs_asc = [t / n_tiles for t in range(1, n_tiles)]
    qs_desc = [(n_tiles - t) / n_tiles for t in range(1, n_tiles)]
    # accuracy=1e6: boundary error <= N/1e6 ranks — exact on dimension-sized
    # frames, a few-rank wobble at billions of customers, with sketch memory
    # still O(accuracy) per partition (GK bound), not O(rows).
    acc = F.lit(1_000_000)
    bounds = per_cust.agg(
        F.percentile_approx("recency_days", qs_asc, acc).alias("rb"),
        F.percentile_approx("frequency", qs_desc, acc).alias("fb"),
        F.percentile_approx("monetary_cents", qs_desc, acc).alias("mb"),
    )

    def tile_asc(col: str, barr: str):
        return (
            F.lit(1)
            + F.size(F.filter(F.col(barr), lambda b: F.col(col) > b))
        ).cast("int")

    def tile_desc(col: str, barr: str):
        # <= (not <): percentile_approx returns the element at ceil(p*N)
        # ranks, which for a descending cut is the FIRST row of the next
        # tile — inclusive comparison reproduces ntile's split on distinct
        # values (verified row-exact in tests/test_quality.py).
        return (
            F.lit(1)
            + F.size(F.filter(F.col(barr), lambda b: F.col(col) <= b))
        ).cast("int")

    return per_cust.crossJoin(F.broadcast(bounds)).select(
        "custkey",
        "recency_days",
        "frequency",
        "monetary_cents",
        tile_asc("recency_days", "rb").alias("r"),
        tile_desc("frequency", "fb").alias("f"),
        tile_desc("monetary_cents", "mb").alias("m"),
    )
