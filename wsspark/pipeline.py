"""End-to-end pipeline orchestration (SURVEY.md §3.1).

The reference's ``python main.py --load_type {full|incremental}``
(etl/main.py:51-134) becomes a lazy DAG builder: ``build_reports`` defines
every report DataFrame without executing anything; ``run_pipeline`` triggers
the sinks. Stage boundaries of the reference map as:

- EXTRACT  -> load_tables + adapters + DQ flag/filter (quality.py)
- TRANSFORM-> the four op families; the dict-of-frames IR is a plain dict of
  *lazy* DataFrames (order dependencies like financial reading
  dead_stock_report, etl/main.py:82-85, are just composition here)
- LOAD     -> write_report per report + the appended one-row run summary
  (etl/load/data_loader.py:77-94)

Scale posture: the two shared inputs (clean movements, stock snapshot) are
cached — they feed 4+ report branches, the Spark analog of the reference's
extract-once dict reuse (etl/main.py:79-85). Every report output is a small
aggregate; nothing collects to the driver except the final run-summary row.
"""

from __future__ import annotations

import datetime as dt
import functools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wsspark import adapters, quality
from wsspark.exec import overlap
from wsspark.io import load_tables, write_report
from wsspark.ops import financial, inventory, warehouse
from wsspark.ops import movements as movements_ops

class Reports(dict):
    """dict of report DataFrames; ``cached`` lists the shared cached frames
    so callers can release them (``release``) when done."""

    def __init__(self, frames: dict, cached: list):
        super().__init__(frames)
        self.cached = cached

    def release(self) -> None:
        for df in self.cached:
            df.unpersist()
        self.cached.clear()


REPORT_NAMES = (
    "dead_stock_report",
    "inventory_summary",
    "daily_trends",
    "weekly_trends",
    "monthly_trends",
    "peak_days",
    "peak_months",
    "abc_analysis",
    "stock_value_report",
    "financial_summary",
    "transfer_patterns",
    "warehouse_io_summary",
)


def build_reports_from_frames(
    movements: DataFrame,
    stock: DataFrame,
    so_details: DataFrame,
    po_details: DataFrame,
    as_of: str,
    dead_stock_days: int = 180,
    transfer_movements: DataFrame | None = None,
    apply_dq: bool = True,
    incremental_since: str | None = None,
) -> "Reports":
    """The native-schema frontend: all 12 reference reports over
    warehouse-shaped frames (the reference's extracted tables,
    etl/extract/data_extractor.py:28-36). A user of the reference points
    this at their stock/stock_movements/order-detail tables directly.

    ``movements`` needs (product_id, warehouse_id, quantity, movement_date,
    movement_type[, reference_id]); ``stock`` needs (product_id,
    warehouse_id, quantity_on_hand); order details need (product_id,
    quantity, unit_price). ``transfer_movements`` defaults to the TRANSFER
    rows of ``movements``.
    """
    cached: list[DataFrame] = []

    def _cache(df: DataFrame) -> DataFrame:
        cached.append(df.cache())
        return df

    mv = movements
    if incremental_since is not None:
        mv = quality.incremental_filter(mv, incremental_since)
    if apply_dq:
        mv = quality.dq_filter(quality.dq_flag(mv, as_of=as_of))
    mv = _cache(mv)
    stock = _cache(stock)
    if transfer_movements is None:
        # Derive from the DQ-filtered/incremental frame, not the raw input:
        # the reference cleans stock_movements BEFORE every transform,
        # including warehouse_performance (etl_pipeline/main.py:66-85).
        transfer_movements = mv.filter(F.col("movement_type") == "TRANSFER")

    # Shared sub-DAGs are cached: each feeds 2+ reports, and all of them are
    # key-cardinality frames (product x warehouse at most), never fact-sized.
    dead = _cache(inventory.dead_stock_report(stock, mv, as_of, dead_stock_days))
    daily = _cache(movements_ops.daily_trends(mv))
    monthly = _cache(movements_ops.monthly_trends(mv))

    revenue = financial.revenue_per_product(so_details)
    abc = _cache(financial.abc_analysis(revenue))
    avg_cost = financial.product_avg_cost(po_details)
    stock_value = _cache(financial.stock_value_report(stock, avg_cost))

    frames = {
        # The written report keeps only dead rows (the reference saves
        # df_dead_stock[df_dead_stock['is_dead_stock']], inventory_metrics.py:78);
        # inventory_summary still consumes the full annotated frame `dead`.
        "dead_stock_report": dead.filter(F.col("is_dead_stock")),
        "inventory_summary": inventory.inventory_summary(dead, stock, mv, so_details),
        "daily_trends": daily,
        "weekly_trends": movements_ops.weekly_trends(mv),
        "monthly_trends": monthly,
        "peak_days": movements_ops.peak_day_of_week(daily),
        "peak_months": movements_ops.peak_month(monthly),
        "abc_analysis": abc,
        "stock_value_report": stock_value,
        "financial_summary": financial.financial_summary(stock_value, abc),
        "transfer_patterns": warehouse.transfer_patterns(transfer_movements),
        "warehouse_io_summary": warehouse.warehouse_io_summary(mv),
    }
    return Reports(frames, cached)


def build_reports(
    spark: SparkSession,
    sf_dir: str,
    as_of: str = adapters.LINEITEM_AS_OF,
    dead_stock_days: int = adapters.DEAD_STOCK_DAYS,
    incremental_since: str | None = None,
) -> "Reports":
    """Testdata frontend: the same 12 reports with the warehouse model
    expressed over the sf_dir TPC-H-ish tables (wsspark.adapters)."""
    t = load_tables(spark, sf_dir, ("lineitem", "part"))
    li = t["lineitem"]
    return build_reports_from_frames(
        movements=adapters.movements_from_lineitem(li),
        stock=adapters.stock_from_lineitem(li, t["part"]),
        so_details=adapters.so_details_from_lineitem(li),
        po_details=adapters.po_details_from_lineitem(li),
        as_of=as_of,
        dead_stock_days=dead_stock_days,
        transfer_movements=adapters.transfer_movements_from_lineitem(li),
        incremental_since=incremental_since,
    )


def run_summary_row(
    reports: dict[str, DataFrame], run_timestamp: dt.datetime | None = None
) -> DataFrame:
    """S4: the appended analytics_daily_summary row — inventory + financial
    scalars merged with the run timestamp (etl/load/data_loader.py:77-86)."""
    inv = reports["inventory_summary"].select(
        "total_dead_stock_items", "stock_turnover_ratio", "days_of_inventory_on_hand"
    )
    fin = reports["financial_summary"].select(
        "total_inventory_value",
        F.col("abc_summary.A").alias("abc_a"),
        F.col("abc_summary.B").alias("abc_b"),
        F.col("abc_summary.C").alias("abc_c"),
    )
    ts = F.lit(run_timestamp or dt.datetime.now(dt.timezone.utc)).cast("timestamp")
    return inv.crossJoin(fin).withColumn("run_timestamp", ts)


def run_pipeline(
    spark: SparkSession,
    sf_dir: str,
    output_dir: str,
    load_type: str = "full",
    incremental_since: str | None = None,
    fmt: str = "parquet",
    summary_table: str | None = None,
    run_timestamp: dt.datetime | None = None,
) -> dict[str, str]:
    """Execute the full pipeline; returns report name -> output path.

    ``load_type='incremental'`` with no new movements early-exits like the
    reference (etl/main.py:68-70).
    """
    if load_type not in ("full", "incremental"):
        raise ValueError(f"load_type must be full|incremental, got {load_type!r}")
    since = incremental_since if load_type == "incremental" else None

    # Early-exit on an empty increment (etl/main.py:68-70) BEFORE defining
    # the report DAG — one pushed-down filter probe, no caches touched.
    if since is not None:
        t = load_tables(spark, sf_dir, ("lineitem",))
        mv = quality.incremental_filter(
            adapters.movements_from_lineitem(t["lineitem"]), since
        )
        if mv.isEmpty():
            return {}

    reports = build_reports(spark, sf_dir, incremental_since=since)
    try:
        # The report branches are independent jobs over cached shared inputs
        # — submit them concurrently and let the scheduler pack the cluster
        # (local[N] or real executors) instead of draining one branch at a
        # time.
        written = {name: os.path.join(output_dir, name) for name in REPORT_NAMES}
        overlap(
            *(
                functools.partial(write_report, reports[name], path, fmt=fmt)
                for name, path in written.items()
            )
        )

        if summary_table:
            from wsspark.io import append_table

            append_table(run_summary_row(reports, run_timestamp), summary_table)
        return written
    finally:
        reports.release()
