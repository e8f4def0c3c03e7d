"""Warehouse-parity queries over the driver testdata (SURVEY.md §2 operator
inventory, expressed via the FIXTURES.md §4 mapping; every query has a DuckDB
oracle twin built from the same adapter CTEs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from wsspark import adapters as ad
from wsspark.io import read_table
from wsspark.ops import audit as audit_ops
from wsspark.ops import financial as fin
from wsspark.ops import functions as wfn
from wsspark.ops import inventory as inv
from wsspark.ops import movements as mov
from wsspark.ops import warehouse as wh
from wsspark.queries import Query
from wsspark.queries import exactsum as ex

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

# ---------------------------------------------------------------------------
# ABC / Pareto (flagship): P4 A4 A5 W2 F1 A7
# ---------------------------------------------------------------------------


def q_abc_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cents-exact ABC: per-product revenue is summed as integer cents so
    the Pareto cumsum/total are order-independent longs (see exactsum.py);
    the library form (float pipeline) is fin.abc_analysis."""
    li = read_table(spark, sf_dir, "lineitem")
    so = ad.so_details_from_lineitem(li)
    rev = so.groupBy("product_id").agg(
        F.sum(ex.cents(F.col("quantity") * F.col("unit_price"))).alias("rev_cents")
    )
    w_cum = Window.orderBy(F.desc("rev_cents"), F.asc("product_id")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy()
    df = rev.withColumn("cum_cents", F.sum("rev_cents").over(w_cum)).withColumn(
        "total_cents", F.sum("rev_cents").over(w_all)
    )
    pct = F.round(F.col("cum_cents") / F.col("total_cents"), 6)
    return df.select(
        "product_id",
        (F.col("rev_cents").cast("double") / 100).alias("revenue"),
        (F.col("total_cents").cast("double") / 100).alias("total_revenue"),
        (F.col("cum_cents").cast("double") / 100).alias("revenue_cumsum"),
        pct.alias("revenue_percent"),
        F.when(pct <= fin.ABC_THRESHOLD_A, "A")
        .when(pct <= fin.ABC_THRESHOLD_B, "B")
        .otherwise("C")
        .alias("abc_class"),
    )


ABC_SQL = f"""
WITH so AS ({ad.SO_DETAILS_SQL}),
rev AS (
    SELECT product_id,
           SUM(CAST(ROUND((quantity * unit_price) * 100, 0) AS BIGINT)) AS rev_cents
    FROM so GROUP BY product_id
),
c AS (
    SELECT product_id, rev_cents,
           SUM(rev_cents) OVER () AS total_cents,
           SUM(rev_cents) OVER (
               ORDER BY rev_cents DESC, product_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_cents
    FROM rev
)
SELECT product_id,
       CAST(rev_cents AS DOUBLE) / 100 AS revenue,
       CAST(total_cents AS DOUBLE) / 100 AS total_revenue,
       CAST(cum_cents AS DOUBLE) / 100 AS revenue_cumsum,
       ROUND(CAST(cum_cents AS DOUBLE) / CAST(total_cents AS DOUBLE), 6)
           AS revenue_percent,
       CASE WHEN ROUND(CAST(cum_cents AS DOUBLE) / CAST(total_cents AS DOUBLE), 6)
                 <= {fin.ABC_THRESHOLD_A} THEN 'A'
            WHEN ROUND(CAST(cum_cents AS DOUBLE) / CAST(total_cents AS DOUBLE), 6)
                 <= {fin.ABC_THRESHOLD_B} THEN 'B'
            ELSE 'C' END AS abc_class
FROM c
"""


def q_abc_class_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fin.abc_class_counts(q_abc_analysis(spark, sf_dir))


ABC_COUNTS_SQL = f"""
SELECT abc_class, COUNT(*) AS n_products FROM ({ABC_SQL}) GROUP BY abc_class
"""

# ---------------------------------------------------------------------------
# Data quality: P1 P2 S2 (events table)
# ---------------------------------------------------------------------------

_DQ_FLAG = None  # built lazily below


def _events_flagged(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").withColumn(
        "k", F.get_json_object("props", "$.k").cast("int")
    )
    flag = (
        F.when(F.col("ts") > F.lit(ad.EVENTS_AS_OF), "future_date")
        .when(
            F.col("event_type").isin("purchase", "signup") & (F.col("value") < 10),
            "invalid_quantity",
        )
        .when(F.col("k") < 5, "invalid_reference")
        .otherwise("valid")
    )
    return ev.withColumn("dq_issue", flag)


_DQ_CASE = f"""
    CASE WHEN ts > TIMESTAMP '{ad.EVENTS_AS_OF}' THEN 'future_date'
         WHEN event_type IN ('purchase', 'signup') AND value < 10
              THEN 'invalid_quantity'
         WHEN CAST(json_extract_string(props, '$.k') AS INTEGER) < 5
              THEN 'invalid_reference'
         ELSE 'valid' END
"""


def q_dq_flag_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 rule precedence (future > quantity > reference) + reject tally."""
    return (
        _events_flagged(spark, sf_dir)
        .groupBy("dq_issue")
        .agg(
            F.count("*").alias("n_rows"),
            ex.money_sum(F.col("value")).alias("total_value"),
        )
    )


DQ_FLAG_SQL = f"""
SELECT {_DQ_CASE} AS dq_issue, COUNT(*) AS n_rows,
       {ex.money_sum_sql("value")} AS total_value
FROM events GROUP BY 1
"""


def q_incremental_valid_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 high-watermark scan + P2 valid filter, aggregated by type."""
    return (
        _events_flagged(spark, sf_dir)
        .filter(F.col("ts") > F.lit(ad.EVENTS_WATERMARK))
        .filter(F.col("dq_issue") == "valid")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            ex.money_sum(F.col("value")).alias("total_value"),
        )
    )


INCREMENTAL_SQL = f"""
SELECT event_type, COUNT(*) AS n_events,
       {ex.money_sum_sql("value")} AS total_value
FROM (SELECT *, {_DQ_CASE} AS dq_issue FROM events)
WHERE ts > TIMESTAMP '{ad.EVENTS_WATERMARK}' AND dq_issue = 'valid'
GROUP BY event_type
"""

# ---------------------------------------------------------------------------
# Inventory: A1 J1 P5 P6 A2 A3 (dead stock + KPIs)
# ---------------------------------------------------------------------------


def q_dead_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    stock = ad.stock_from_lineitem(li, part)
    report = inv.dead_stock_report(
        stock,
        ad.movements_from_lineitem(li),
        as_of=ad.LINEITEM_AS_OF,
        dead_stock_days=ad.DEAD_STOCK_DAYS,
    )
    return report.select(
        "product_id",
        "warehouse_id",
        "quantity_on_hand",
        "reorder_point",
        "days_since_last_movement",
        "is_dead_stock",
    )


DEAD_STOCK_SQL = f"""
WITH stock AS ({ad.STOCK_SQL}),
mv AS ({ad.MOVEMENTS_SQL}),
last AS (
    SELECT product_id, warehouse_id, MAX(movement_date) AS movement_date
    FROM mv GROUP BY 1, 2
)
SELECT s.product_id, s.warehouse_id, s.quantity_on_hand, s.reorder_point,
       CAST(COALESCE(
           datediff('day', l.movement_date::DATE, TIMESTAMP '{ad.LINEITEM_AS_OF}'::DATE),
           {inv.NEVER_MOVED_DAYS}) AS DOUBLE) AS days_since_last_movement,
       (CAST(COALESCE(
           datediff('day', l.movement_date::DATE, TIMESTAMP '{ad.LINEITEM_AS_OF}'::DATE),
           {inv.NEVER_MOVED_DAYS}) AS DOUBLE) > {ad.DEAD_STOCK_DAYS}
        AND s.quantity_on_hand > 0) AS is_dead_stock
FROM stock s LEFT JOIN last l USING (product_id, warehouse_id)
"""


def q_inventory_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    stock = ad.stock_from_lineitem(li, part)
    movements = ad.movements_from_lineitem(li)
    dead = inv.dead_stock_report(
        stock, movements, as_of=ad.LINEITEM_AS_OF, dead_stock_days=ad.DEAD_STOCK_DAYS
    )
    return inv.inventory_summary(
        dead, stock, movements, ad.so_details_from_lineitem(li)
    )


INVENTORY_SUMMARY_SQL = f"""
WITH dead AS ({DEAD_STOCK_SQL}),
sold AS (SELECT COALESCE(SUM(quantity), 0) AS total_sold FROM ({ad.SO_DETAILS_SQL})),
invt AS (SELECT AVG(quantity_on_hand) AS avg_inventory FROM ({ad.STOCK_SQL})),
span AS (
    SELECT GREATEST(datediff('day', MIN(movement_date)::DATE, MAX(movement_date)::DATE), 1)
           AS days_in_data
    FROM ({ad.MOVEMENTS_SQL})
),
d AS (
    SELECT CAST(COALESCE(SUM(CASE WHEN is_dead_stock THEN 1 ELSE 0 END), 0) AS BIGINT)
           AS total_dead_stock_items
    FROM dead
)
SELECT d.total_dead_stock_items,
       ROUND(CASE WHEN invt.avg_inventory <= 0 THEN 0.0
                  ELSE sold.total_sold / invt.avg_inventory END, 2)
           AS stock_turnover_ratio,
       ROUND(CASE WHEN sold.total_sold <= 0 THEN 0.0
                  ELSE invt.avg_inventory / sold.total_sold * span.days_in_data END, 2)
           AS days_of_inventory_on_hand,
       ROUND(invt.avg_inventory, 2) AS avg_inventory,
       CAST(sold.total_sold AS DOUBLE) AS total_units_sold,
       CAST(span.days_in_data AS BIGINT) AS days_in_data
FROM sold, invt, span, d
"""

# ---------------------------------------------------------------------------
# Trends / resample with gap-fill: P10 W1 W3 A11 A13 W4
# ---------------------------------------------------------------------------


def q_daily_trends(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").filter(F.col("event_type") == "click")
    return mov.daily_trends(ev, date_col="ts")


DAILY_TRENDS_SQL = """
WITH counts AS (
    SELECT ts::DATE AS bucket_date, COUNT(*) AS daily_movements
    FROM events WHERE event_type = 'click' GROUP BY 1
),
bounds AS (SELECT MIN(bucket_date) AS lo, MAX(bucket_date) AS hi FROM counts),
cal AS (
    SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS bucket_date
    FROM bounds
)
SELECT cal.bucket_date, COALESCE(c.daily_movements, 0) AS daily_movements,
       dayname(cal.bucket_date) AS day_of_week
FROM cal LEFT JOIN counts c USING (bucket_date)
"""


def q_weekly_trends(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return mov.weekly_trends(li, date_col="l_shipdate")


WEEKLY_TRENDS_SQL = """
WITH counts AS (
    SELECT (l_shipdate::DATE + ((7 - dayofweek(l_shipdate::DATE)) % 7) * INTERVAL 1 DAY)::DATE
               AS bucket_date,
           COUNT(*) AS weekly_movements
    FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1
),
bounds AS (SELECT MIN(bucket_date) AS lo, MAX(bucket_date) AS hi FROM counts),
cal AS (
    SELECT unnest(generate_series(lo, hi, INTERVAL 7 DAY))::DATE AS bucket_date
    FROM bounds
)
SELECT cal.bucket_date, COALESCE(c.weekly_movements, 0) AS weekly_movements
FROM cal LEFT JOIN counts c USING (bucket_date)
"""


def q_monthly_trends(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return mov.monthly_trends(li, date_col="l_shipdate")


MONTHLY_TRENDS_SQL = """
WITH counts AS (
    SELECT last_day(l_shipdate::DATE) AS bucket_date, COUNT(*) AS monthly_movements
    FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1
),
bounds AS (
    SELECT date_trunc('month', MIN(bucket_date)) AS lo,
           date_trunc('month', MAX(bucket_date)) AS hi
    FROM counts
),
cal AS (
    SELECT last_day(unnest(generate_series(lo, hi, INTERVAL 1 MONTH))::DATE)
               AS bucket_date
    FROM bounds
)
SELECT cal.bucket_date, COALESCE(c.monthly_movements, 0) AS monthly_movements,
       monthname(cal.bucket_date) AS month_name
FROM cal LEFT JOIN counts c USING (bucket_date)
"""


def q_peak_day_of_week(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mov.peak_day_of_week(q_daily_trends(spark, sf_dir))


PEAK_DOW_SQL = f"""
SELECT day_of_week, ROUND(AVG(daily_movements), 2) AS avg_movements
FROM ({DAILY_TRENDS_SQL}) GROUP BY day_of_week
"""


def q_peak_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mov.peak_month(q_monthly_trends(spark, sf_dir))


PEAK_MONTH_SQL = f"""
SELECT month_name, ROUND(AVG(monthly_movements), 2) AS avg_movements
FROM ({MONTHLY_TRENDS_SQL}) GROUP BY month_name
"""

# ---------------------------------------------------------------------------
# Warehouse performance: P8 J4 A9 A10 J8
# ---------------------------------------------------------------------------


def q_transfer_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    t = ad.transfer_movements_from_lineitem(li)
    return wh.transfer_patterns(t, pair_keys=("reference_id", "pair_id"))


TRANSFER_PATTERNS_SQL = f"""
WITH t AS ({ad.TRANSFER_MOVEMENTS_SQL}),
o AS (
    SELECT reference_id, pair_id, warehouse_id AS from_warehouse_id, quantity AS qty_out
    FROM t WHERE quantity < 0
),
i AS (
    SELECT reference_id, pair_id, warehouse_id AS to_warehouse_id, quantity AS qty_in
    FROM t WHERE quantity > 0
),
p AS (SELECT o.*, i.to_warehouse_id, i.qty_in FROM o JOIN i USING (reference_id, pair_id))
SELECT from_warehouse_id, to_warehouse_id,
       COUNT(DISTINCT reference_id) AS total_transfers, SUM(qty_in) AS total_qty
FROM p GROUP BY 1, 2
"""


def q_warehouse_io_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    return wh.warehouse_io_summary(
        ev, group_col="user_id", type_col="event_type", type_values=EVENT_TYPES
    )


IO_PIVOT_SQL = """
SELECT user_id,
       COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click,
       COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error,
       COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
       COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
       COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view
FROM events GROUP BY user_id
"""


def q_warehouse_fill_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8: full dimension cross product left-joined with activity, zero-filled
    (the generator's products x warehouses fill, gen/generate_data.py:389-398)."""
    ev = read_table(spark, sf_dir, "events")
    nation = read_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long").alias("n_nationkey")
    )
    types = F.array(*[F.lit(t) for t in EVENT_TYPES])
    combos = nation.crossJoin(
        nation.sparkSession.range(1).select(F.explode(types).alias("event_type"))
    )
    counts = ev.groupBy(
        (F.col("user_id") % 25).alias("n_nationkey"), "event_type"
    ).agg(F.count("*").alias("n_events"))
    return (
        combos.join(counts, ["n_nationkey", "event_type"], "left")
        .na.fill({"n_events": 0})
    )


FILL_MATRIX_SQL = """
WITH types(event_type) AS (VALUES ('click'), ('error'), ('purchase'), ('signup'), ('view')),
counts AS (
    SELECT user_id % 25 AS n_nationkey, event_type, COUNT(*) AS n_events
    FROM events GROUP BY 1, 2
)
SELECT CAST(n.n_nationkey AS BIGINT) AS n_nationkey, t.event_type,
       COALESCE(c.n_events, 0) AS n_events
FROM nation n CROSS JOIN types t
LEFT JOIN counts c ON c.n_nationkey = n.n_nationkey AND c.event_type = t.event_type
"""

# ---------------------------------------------------------------------------
# PL/pgSQL routine equivalents: M1-M5 (snapshot, transfer, reorder, valuation,
# audit)
# ---------------------------------------------------------------------------


def q_snapshot_recompute(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    return wfn.snapshot_from_movements(
        ad.movements_from_lineitem(li)
    ).withColumn("quantity_on_hand", F.col("quantity_on_hand").cast("double"))


SNAPSHOT_SQL = f"""
SELECT product_id, warehouse_id, CAST(SUM(quantity) AS DOUBLE) AS quantity_on_hand
FROM ({ad.MOVEMENTS_SQL}) GROUP BY 1, 2
"""


def q_reorder_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    supplier = read_table(spark, sf_dir, "supplier")
    stock = ad.stock_from_lineitem(li, part)
    products = part.select(
        F.col("p_partkey").alias("product_id"), F.col("p_name").alias("product_name")
    )
    warehouses = supplier.select(
        F.col("s_suppkey").alias("warehouse_id"), F.col("s_name").alias("warehouse_name")
    )
    return wfn.check_reorder_points(stock, products, warehouses).select(
        "product_id",
        "warehouse_id",
        "product_name",
        "warehouse_name",
        "quantity_on_hand",
        "reorder_point",
        "deficit",
    )


REORDER_SQL = f"""
WITH stock AS ({ad.STOCK_SQL})
SELECT s.product_id, s.warehouse_id, p.p_name AS product_name,
       su.s_name AS warehouse_name, s.quantity_on_hand, s.reorder_point,
       s.reorder_point - s.quantity_on_hand AS deficit
FROM stock s
JOIN part p ON s.product_id = p.p_partkey
JOIN supplier su ON s.warehouse_id = su.s_suppkey
WHERE s.quantity_on_hand <= s.reorder_point AND s.quantity_on_hand > 0
"""


def _valuation(li: DataFrame, part: DataFrame, pod: DataFrame) -> DataFrame:
    """M4/A6/J6 weighted-avg valuation with cents-exact numerators (the
    float-pipeline library form is wfn.calculate_stock_value)."""
    cost = (
        pod.groupBy("product_id")
        .agg(
            F.sum(ex.cents(F.col("quantity") * F.col("unit_price"))).alias("num_cents"),
            F.sum("quantity").alias("den"),
        )
        .select(
            "product_id",
            F.when(F.col("den") == 0, F.lit(0.0))
            .otherwise(F.col("num_cents").cast("double") / 100 / F.col("den"))
            .alias("avg_cost"),
        )
    )
    totals = (
        ad.stock_from_lineitem(li, part)
        .groupBy("product_id")
        .agg(F.sum("quantity_on_hand").alias("total_quantity"))
        .filter(F.col("total_quantity") > 0)
    )
    avg_cost = F.round(F.coalesce(F.col("avg_cost"), F.lit(0.0)), 2)
    return totals.join(cost, "product_id", "left").select(
        "product_id",
        "total_quantity",
        avg_cost.alias("avg_cost"),
        F.round(F.col("total_quantity") * avg_cost, 2).alias("total_value"),
    )


_VALUATION_SQL_TEMPLATE = f"""
WITH stock AS ({ad.STOCK_SQL}),
pod AS ({{pod_sql}}),
cost AS (
    SELECT product_id,
           CASE WHEN SUM(quantity) = 0 THEN 0.0
                ELSE CAST(SUM(CAST(ROUND((quantity * unit_price) * 100, 0) AS BIGINT))
                     AS DOUBLE) / 100 / SUM(quantity) END AS avg_cost
    FROM pod GROUP BY product_id
),
totals AS (
    SELECT product_id, SUM(quantity_on_hand) AS total_quantity
    FROM stock GROUP BY product_id
)
SELECT t.product_id, t.total_quantity,
       ROUND(COALESCE(c.avg_cost, 0.0), 2) AS avg_cost,
       ROUND(t.total_quantity * ROUND(COALESCE(c.avg_cost, 0.0), 2), 2) AS total_value
FROM totals t LEFT JOIN cost c USING (product_id)
WHERE t.total_quantity > 0
"""


def q_stock_valuation_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    return _valuation(li, part, ad.po_details_from_lineitem(li))


VALUATION_ALL_SQL = _VALUATION_SQL_TEMPLATE.format(pod_sql=ad.PO_DETAILS_SQL)


def q_stock_valuation_completed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7's SQL-side variant: only COMPLETED (status 'F') orders contribute
    to cost (dbfn/functions.sql:208-210) — the documented semantic divergence
    from the pipeline variant above."""
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    completed = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select(F.col("o_orderkey").alias("po_id"))
    pod = ad.po_details_from_lineitem(li).join(completed, "po_id")
    return _valuation(li, part, pod)


VALUATION_COMPLETED_SQL = _VALUATION_SQL_TEMPLATE.format(
    pod_sql=f"""
    SELECT d.* FROM ({ad.PO_DETAILS_SQL}) d
    JOIN orders o ON d.po_id = o.o_orderkey AND o.o_orderstatus = 'F'
"""
)


def q_fifo_valuation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4's FIFO branch — the method the reference refuses
    (dbfn/functions.sql:233-238) — as a newest-first window over dated
    receipt layers (ops.functions.fifo_stock_value)."""
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    stock = ad.stock_from_lineitem(li, part)
    return wfn.fifo_stock_value(stock, ad.po_receipts_from_lineitem(li))


FIFO_VALUATION_SQL = f"""
WITH stock AS ({ad.STOCK_SQL}),
receipts AS ({ad.PO_RECEIPTS_SQL}),
totals AS (
    SELECT product_id, SUM(quantity_on_hand) AS total_quantity
    FROM stock GROUP BY product_id HAVING SUM(quantity_on_hand) > 0
),
layers AS (
    SELECT r.product_id, t.total_quantity, r.unit_price,
           GREATEST(0, LEAST(r.quantity,
               t.total_quantity
               - (SUM(r.quantity) OVER (PARTITION BY r.product_id
                      ORDER BY r.receipt_date DESC, r.po_id DESC, r.line_no DESC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  - r.quantity))) AS take
    FROM receipts r JOIN totals t USING (product_id)
)
SELECT product_id, total_quantity, SUM(take) AS covered_quantity,
       ROUND(CAST(SUM(CAST(ROUND(take * unit_price * 100, 0) AS BIGINT))
             AS DOUBLE) / 100, 2) AS fifo_value
FROM layers GROUP BY product_id, total_quantity
"""

AUDIT_CUTOFF = "1999-01-01 00:00:00"


def q_audit_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M5 trigger semantics in batch: audit log = diff of two snapshot
    versions (before/after the cutoff date's movements)."""
    li = read_table(spark, sf_dir, "lineitem")
    mvs = ad.movements_from_lineitem(li)
    old = wfn.snapshot_from_movements(mvs.filter(F.col("movement_date") < F.lit(AUDIT_CUTOFF)))
    new = wfn.snapshot_from_movements(mvs)
    diff = audit_ops.snapshot_diff(old, new)
    return diff.select(
        "product_id",
        "warehouse_id",
        "operation_type",
        F.col("old_quantity").cast("double").alias("old_quantity"),
        F.col("new_quantity").cast("double").alias("new_quantity"),
    )


AUDIT_DIFF_SQL = f"""
WITH mv AS ({ad.MOVEMENTS_SQL}),
old AS (
    SELECT product_id, warehouse_id, SUM(quantity) AS old_quantity
    FROM mv WHERE movement_date < TIMESTAMP '{AUDIT_CUTOFF}' GROUP BY 1, 2
),
new AS (
    SELECT product_id, warehouse_id, SUM(quantity) AS new_quantity
    FROM mv GROUP BY 1, 2
)
SELECT COALESCE(o.product_id, n.product_id) AS product_id,
       COALESCE(o.warehouse_id, n.warehouse_id) AS warehouse_id,
       CASE WHEN o.old_quantity IS NULL THEN 'INSERT'
            WHEN n.new_quantity IS NULL THEN 'DELETE'
            ELSE 'UPDATE' END AS operation_type,
       CAST(o.old_quantity AS DOUBLE) AS old_quantity,
       CAST(n.new_quantity AS DOUBLE) AS new_quantity
FROM old o FULL OUTER JOIN new n
    ON o.product_id = n.product_id AND o.warehouse_id = n.warehouse_id
WHERE o.old_quantity IS DISTINCT FROM n.new_quantity
"""


def q_transfer_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2 transfer_stock validation, set-based over synthetic requests derived
    deterministically from lineitem (rule order: qty > 0, from != to,
    sufficient stock — dbfn/functions.sql:82-102)."""
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    supplier = read_table(spark, sf_dir, "supplier")
    max_supp = supplier.agg(F.max("s_suppkey").alias("_max_supp"))
    reqs = (
        li.filter((F.col("l_linenumber") == 1) & (F.col("l_orderkey") % 10 == 0))
        .crossJoin(F.broadcast(max_supp))
        .select(
            F.col("l_orderkey").alias("transfer_id"),
            F.col("l_partkey").alias("product_id"),
            F.col("l_suppkey").alias("from_warehouse_id"),
            F.when(F.col("l_orderkey") % 3 == 0, F.col("l_suppkey"))
            .otherwise(
                (F.col("l_suppkey") + F.col("l_orderkey") % 3) % F.col("_max_supp") + 1
            )
            .alias("to_warehouse_id"),
            (F.col("l_quantity") - 5).alias("quantity"),
        )
    )
    stock = ad.stock_from_lineitem(li, part)
    return wfn.validate_transfers(reqs, stock).select(
        "transfer_id",
        "product_id",
        "from_warehouse_id",
        "to_warehouse_id",
        "quantity",
        "status",
    )


TRANSFER_VALIDATION_SQL = f"""
WITH stock AS ({ad.STOCK_SQL}),
reqs AS (
    SELECT l_orderkey AS transfer_id, l_partkey AS product_id,
           l_suppkey AS from_warehouse_id,
           CASE WHEN l_orderkey % 3 = 0 THEN l_suppkey
                ELSE (l_suppkey + l_orderkey % 3)
                     % (SELECT MAX(s_suppkey) FROM supplier) + 1 END
               AS to_warehouse_id,
           l_quantity - 5 AS quantity
    FROM lineitem WHERE l_linenumber = 1 AND l_orderkey % 10 = 0
)
SELECT r.transfer_id, r.product_id, r.from_warehouse_id, r.to_warehouse_id,
       r.quantity,
       CASE WHEN r.quantity <= 0 THEN 'INVALID_QUANTITY'
            WHEN r.from_warehouse_id = r.to_warehouse_id THEN 'SAME_WAREHOUSE'
            WHEN COALESCE(s.quantity_on_hand, 0) < r.quantity THEN 'INSUFFICIENT_STOCK'
            ELSE 'OK' END AS status
FROM reqs r
LEFT JOIN stock s
    ON r.product_id = s.product_id AND r.from_warehouse_id = s.warehouse_id
"""


def q_top10_products(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 top-k with a pinned tie-break (revenue DESC, product_id)."""
    li = read_table(spark, sf_dir, "lineitem")
    so = ad.so_details_from_lineitem(li)
    rev = so.groupBy("product_id").agg(
        ex.money_sum(F.col("quantity") * F.col("unit_price")).alias("revenue")
    )
    return rev.orderBy(F.desc("revenue"), F.asc("product_id")).limit(10)


TOP10_SQL = f"""
SELECT product_id, {ex.money_sum_sql("quantity * unit_price")} AS revenue
FROM ({ad.SO_DETAILS_SQL})
GROUP BY product_id ORDER BY revenue DESC, product_id LIMIT 10
"""


AS_OF_CUTOFF = "1998-01-01 00:00:00"


def q_stock_as_of(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-sourcing time travel: the stock snapshot at any past instant is
    the signed movement sum up to it (database/schema.sql:108-109 invariant
    — the snapshot table is derivable, so point-in-time queries need no
    versioned storage). The cutoff filter pushes into the scan, so at scale
    this reads only the date partitions before T."""
    li = read_table(spark, sf_dir, "lineitem")
    mvs = ad.movements_from_lineitem(li)
    snap = wfn.snapshot_from_movements(
        mvs.filter(F.col("movement_date") <= F.lit(AS_OF_CUTOFF))
    )
    return snap.select(
        "product_id",
        "warehouse_id",
        F.col("quantity_on_hand").cast("double").alias("quantity_on_hand"),
    )


STOCK_AS_OF_SQL = f"""
SELECT product_id, warehouse_id,
       CAST(SUM(quantity) AS DOUBLE) AS quantity_on_hand
FROM ({ad.MOVEMENTS_SQL})
WHERE movement_date <= TIMESTAMP '{AS_OF_CUTOFF}'
GROUP BY 1, 2
"""


def q_movement_quantity_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributional profile per movement type: exact continuous quantiles
    (Spark ``percentile`` == DuckDB ``quantile_cont`` interpolation). The
    scale path swaps in ``percentile_approx`` (t-digest sketch, one pass,
    mergeable) — same plan shape, bounded memory at 100 TB."""
    li = read_table(spark, sf_dir, "lineitem")
    mvs = ad.movements_from_lineitem(li)
    return mvs.groupBy("movement_type").agg(
        F.count("*").alias("n_movements"),
        F.round(F.expr("percentile(quantity, 0.5)"), 4).alias("p50_qty"),
        F.round(F.expr("percentile(quantity, 0.9)"), 4).alias("p90_qty"),
        F.round(F.expr("percentile(quantity, 0.99)"), 4).alias("p99_qty"),
    )


QUANTILES_SQL = f"""
SELECT movement_type, COUNT(*) AS n_movements,
       ROUND(quantile_cont(quantity, 0.5), 4) AS p50_qty,
       ROUND(quantile_cont(quantity, 0.9), 4) AS p90_qty,
       ROUND(quantile_cont(quantity, 0.99), 4) AS p99_qty
FROM ({ad.MOVEMENTS_SQL})
GROUP BY movement_type
"""


def q_daily_trend_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling analytics over the gap-filled daily series: 7-day moving
    average and day-over-day delta (frame-spec window + lag — the natural
    extensions of W1/W2 the reference's pandas would express as
    rolling(7).mean()/diff()). The window partitions are tiny (one ordered
    pass over ~2.5k daily rows after the fact-side count), so the sort is
    negligible at any fact scale."""
    from pyspark.sql import Window

    li = read_table(spark, sf_dir, "lineitem")
    mv = ad.movements_from_lineitem(li)
    daily = mov.resample_counts(mv, "D", "movement_date", "n", "bucket_date")
    w7 = Window.orderBy("bucket_date").rowsBetween(-6, 0)
    w1 = Window.orderBy("bucket_date")
    return daily.select(
        "bucket_date",
        F.col("n").cast("long").alias("n_movements"),
        F.round(F.avg("n").over(w7), 4).alias("ma7"),
        (F.col("n") - F.lag("n", 1).over(w1)).cast("long").alias("dod_delta"),
    )


DAILY_WINDOWS_SQL = f"""
WITH mv AS ({ad.MOVEMENTS_SQL}),
counts AS (
    SELECT CAST(movement_date AS DATE) AS bucket_date, COUNT(*) AS n
    FROM mv GROUP BY 1
),
bounds AS (SELECT MIN(bucket_date) lo, MAX(bucket_date) hi FROM counts),
cal AS (
    SELECT CAST(UNNEST(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE)
           AS bucket_date
    FROM bounds
),
daily AS (
    SELECT c.bucket_date, COALESCE(n, 0) AS n
    FROM cal c LEFT JOIN counts USING (bucket_date)
)
SELECT bucket_date, CAST(n AS BIGINT) AS n_movements,
       ROUND(AVG(n) OVER (ORDER BY bucket_date
                          ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS ma7,
       CAST(n - lag(n, 1) OVER (ORDER BY bucket_date) AS BIGINT) AS dod_delta
FROM daily
"""


def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-sequence funnel over the event stream: per user, the first
    view -> first click after that -> first purchase after that; counts of
    users reaching each stage. Expressed as three conditional min-aggregates
    (one shuffle on user_id), not a self-join — at 100 TB the user-grain
    aggregation is the only data movement."""
    ev = read_table(spark, sf_dir, "events")

    def first_ts(t):
        return F.min(F.when(F.col("event_type") == t, F.col("ts")))

    per_user = ev.groupBy("user_id").agg(
        first_ts("view").alias("t_view"),
        first_ts("click").alias("t_click_any"),
        first_ts("purchase").alias("t_buy_any"),
    )
    # stage gates: each step must come strictly after the previous
    staged = per_user.select(
        "user_id",
        F.col("t_view").isNotNull().alias("s1"),
        (F.col("t_view").isNotNull() & (F.col("t_click_any") > F.col("t_view"))).alias("s2"),
        (
            F.col("t_view").isNotNull()
            & (F.col("t_click_any") > F.col("t_view"))
            & (F.col("t_buy_any") > F.col("t_click_any"))
        ).alias("s3"),
    )
    return staged.agg(
        F.count("*").alias("n_users"),
        F.sum(F.col("s1").cast("long")).alias("n_viewed"),
        F.sum(F.col("s2").cast("long")).alias("n_clicked_after_view"),
        F.sum(F.col("s3").cast("long")).alias("n_purchased_after_click"),
    )


FUNNEL_SQL = """
WITH per_user AS (
    SELECT user_id,
           MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
           MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click_any,
           MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_buy_any
    FROM events GROUP BY user_id
),
staged AS (
    SELECT user_id,
           t_view IS NOT NULL AS s1,
           t_view IS NOT NULL AND t_click_any > t_view AS s2,
           t_view IS NOT NULL AND t_click_any > t_view
               AND t_buy_any > t_click_any AS s3
    FROM per_user
)
SELECT COUNT(*) AS n_users,
       CAST(SUM(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT) AS n_viewed,
       CAST(SUM(CASE WHEN s2 THEN 1 ELSE 0 END) AS BIGINT) AS n_clicked_after_view,
       CAST(SUM(CASE WHEN s3 THEN 1 ELSE 0 END) AS BIGINT) AS n_purchased_after_click
FROM staged
"""


def q_dead_stock_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aging buckets over days-since-last-movement (the report a planner
    actually reads: how stale is the stale stock) — CASE bucketing + rollup
    on top of the dead-stock annotations."""
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    report = inv.dead_stock_report(
        ad.stock_from_lineitem(li, part),
        ad.movements_from_lineitem(li),
        as_of=ad.LINEITEM_AS_OF,
        dead_stock_days=ad.DEAD_STOCK_DAYS,
    )
    d = F.col("days_since_last_movement")
    bucket = (
        F.when(d <= 30, "000-030")
        .when(d <= 90, "031-090")
        .when(d <= 180, "091-180")
        .when(d < inv.NEVER_MOVED_DAYS, "181+")
        .otherwise("never_moved")
    )
    return (
        report.groupBy(bucket.alias("age_bucket"))
        .agg(
            F.count("*").alias("n_positions"),
            F.sum(F.col("quantity_on_hand").cast("long")).alias("total_units"),
        )
    )


AGING_SQL = f"""
WITH stock AS ({ad.STOCK_SQL}),
mv AS ({ad.MOVEMENTS_SQL}),
last AS (
    SELECT product_id, warehouse_id, MAX(movement_date) AS movement_date
    FROM mv GROUP BY 1, 2
),
annotated AS (
    SELECT s.quantity_on_hand,
           COALESCE(datediff('day', l.movement_date::DATE,
                             TIMESTAMP '{ad.LINEITEM_AS_OF}'::DATE),
                    {inv.NEVER_MOVED_DAYS}) AS d
    FROM stock s LEFT JOIN last l USING (product_id, warehouse_id)
)
SELECT CASE WHEN d <= 30 THEN '000-030'
            WHEN d <= 90 THEN '031-090'
            WHEN d <= 180 THEN '091-180'
            WHEN d < {inv.NEVER_MOVED_DAYS} THEN '181+'
            ELSE 'never_moved' END AS age_bucket,
       COUNT(*) AS n_positions,
       CAST(SUM(quantity_on_hand) AS BIGINT) AS total_units
FROM annotated GROUP BY 1
"""


def q_transfer_receipts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7: the JSON result envelopes of the reference's SQL routines
    (json_build_object success/error, dbfn/functions.sql:43-49,122-126) —
    validated transfers rendered as one JSON string per request."""
    validated = q_transfer_validation(spark, sf_dir)
    receipt = F.to_json(
        F.struct(
            (F.col("status") == "OK").alias("success"),
            F.col("transfer_id").alias("transfer_id"),
            F.col("status").alias("status"),
        )
    )
    return validated.select("transfer_id", receipt.alias("receipt"))


RECEIPTS_SQL = f"""
SELECT transfer_id,
       to_json(struct_pack(
           success := status = 'OK',
           transfer_id := transfer_id,
           status := status)) AS receipt
FROM ({TRANSFER_VALIDATION_SQL})
"""


def q_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key concentration profile (the 80/20 skew the warehouse data
    model bakes in, FIXTURES.md): revenue share captured by the top 1/5/20%
    of products. Single pass: one groupBy, one ranked frame, three
    CONDITIONAL sums in one final aggregate — round 1 re-derived `ranked`
    per share() branch, i.e. 3 fact scans + 3 window passes for the same
    answer. The skew diagnostic that tells you whether salting
    (wsspark.skew) is needed downstream."""
    li = read_table(spark, sf_dir, "lineitem")
    so = ad.so_details_from_lineitem(li)
    rev = so.groupBy("product_id").agg(
        F.sum(ex.cents(F.col("quantity") * F.col("unit_price"))).alias("rev_cents")
    )
    w_rank = Window.orderBy(F.desc("rev_cents"), F.asc("product_id"))
    ranked = rev.select(
        "rev_cents",
        F.row_number().over(w_rank).alias("rk"),
        F.count("*").over(Window.partitionBy()).alias("n"),
        F.sum("rev_cents").over(Window.partitionBy()).alias("total"),
    )

    def share(pct: float) -> F.Column:
        top_sum = F.sum(
            F.when(F.col("rk") <= F.ceil(F.col("n") * pct), F.col("rev_cents"))
        )
        return F.round(top_sum.cast("double") / F.first("total"), 4)

    return ranked.agg(
        share(0.01).alias("top1pct_share"),
        share(0.05).alias("top5pct_share"),
        share(0.20).alias("top20pct_share"),
    )


CONCENTRATION_SQL = f"""
WITH so AS ({ad.SO_DETAILS_SQL}),
rev AS (
    SELECT product_id,
           SUM(CAST(ROUND((quantity * unit_price) * 100, 0) AS BIGINT)) AS rev_cents
    FROM so GROUP BY product_id
),
ranked AS (
    SELECT rev_cents,
           ROW_NUMBER() OVER (ORDER BY rev_cents DESC, product_id) AS rk,
           COUNT(*) OVER () AS n,
           SUM(rev_cents) OVER () AS total
    FROM rev
)
SELECT
    (SELECT ROUND(CAST(SUM(rev_cents) AS DOUBLE) / ANY_VALUE(total), 4)
     FROM ranked WHERE rk <= CEIL(n * 0.01)) AS top1pct_share,
    (SELECT ROUND(CAST(SUM(rev_cents) AS DOUBLE) / ANY_VALUE(total), 4)
     FROM ranked WHERE rk <= CEIL(n * 0.05)) AS top5pct_share,
    (SELECT ROUND(CAST(SUM(rev_cents) AS DOUBLE) / ANY_VALUE(total), 4)
     FROM ranked WHERE rk <= CEIL(n * 0.20)) AS top20pct_share
"""


def q_movement_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume anomaly detection: per-warehouse daily movement counts
    z-scored against that warehouse's own mean/stddev; days with |z| >= 2
    are flagged. Native window aggregates over the (warehouse, day) grain —
    no UDF; at scale the only shuffle is the daily rollup, and the window
    runs within warehouse partitions."""
    li = read_table(spark, sf_dir, "lineitem")
    mvs = ad.movements_from_lineitem(li)
    daily = mvs.groupBy(
        "warehouse_id", F.to_date("movement_date").alias("bucket_date")
    ).agg(F.count("*").alias("n"))
    w = Window.partitionBy("warehouse_id")
    z = (F.col("n") - F.avg("n").over(w)) / F.stddev_samp("n").over(w)
    return (
        daily.withColumn("z", F.round(z, 4))
        .filter(F.abs(F.col("z")) >= 2)
        .select("warehouse_id", "bucket_date", F.col("n").alias("n_movements"), "z")
    )


ANOMALIES_SQL = f"""
WITH mv AS ({ad.MOVEMENTS_SQL}),
daily AS (
    SELECT warehouse_id, CAST(movement_date AS DATE) AS bucket_date,
           COUNT(*) AS n
    FROM mv GROUP BY 1, 2
),
scored AS (
    SELECT warehouse_id, bucket_date, n,
           ROUND((n - AVG(n) OVER (PARTITION BY warehouse_id))
                 / stddev_samp(n) OVER (PARTITION BY warehouse_id), 4) AS z
    FROM daily
)
SELECT warehouse_id, bucket_date, CAST(n AS BIGINT) AS n_movements, z
FROM scored WHERE abs(z) >= 2
"""


def q_movement_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-level totals in one pass: ROLLUP(warehouse_id, movement_type)
    gives per-(warehouse, type), per-warehouse, and grand totals from a
    single shuffle — the hierarchy the reference assembles with separate
    pandas groupbys (§2.4 has no grouping sets; Catalyst provides them)."""
    li = read_table(spark, sf_dir, "lineitem")
    mvs = ad.movements_from_lineitem(li)
    return (
        mvs.rollup("warehouse_id", "movement_type")
        .agg(
            F.count("*").alias("n_movements"),
            F.sum(F.col("quantity").cast("long")).alias("net_qty"),
        )
        .select(
            "warehouse_id",
            "movement_type",
            "n_movements",
            "net_qty",
        )
    )


ROLLUP_SQL = f"""
SELECT warehouse_id, movement_type, COUNT(*) AS n_movements,
       CAST(SUM(quantity) AS BIGINT) AS net_qty
FROM ({ad.MOVEMENTS_SQL})
GROUP BY ROLLUP (warehouse_id, movement_type)
"""


def q_movement_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE complement of q_movement_rollup: all four grouping sets of
    (warehouse_id, movement_type) — including the per-type marginals ROLLUP
    omits — still from a single shuffle (Catalyst expands grouping sets
    map-side; the reference would need four separate pandas groupbys)."""
    li = read_table(spark, sf_dir, "lineitem")
    mvs = ad.movements_from_lineitem(li)
    return (
        mvs.cube("warehouse_id", "movement_type")
        .agg(
            F.count("*").alias("n_movements"),
            F.sum(F.col("quantity").cast("long")).alias("net_qty"),
        )
        .select("warehouse_id", "movement_type", "n_movements", "net_qty")
    )


CUBE_SQL = f"""
SELECT warehouse_id, movement_type, COUNT(*) AS n_movements,
       CAST(SUM(quantity) AS BIGINT) AS net_qty
FROM ({ad.MOVEMENTS_SQL})
GROUP BY CUBE (warehouse_id, movement_type)
"""

def q_pagerank_transfer_routes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the warehouse transfer network (ops.graph):
    edges are paired transfer legs aggregated per route with received qty
    as weight; 5 fixed iterations, damping 0.85, dangling mass spread
    uniformly. The oracle unrolls the identical iteration as chained
    DuckDB CTEs, so the driver hash pins the whole fixpoint loop — joins,
    dangling handling, normalization — not just one step."""
    from wsspark.ops import graph

    li = read_table(spark, sf_dir, "lineitem")
    t = ad.transfer_movements_from_lineitem(li)
    out = t.filter(F.col("quantity") < 0).select(
        "reference_id", "pair_id", F.col("warehouse_id").alias("src")
    )
    inn = t.filter(F.col("quantity") > 0).select(
        "reference_id",
        "pair_id",
        F.col("warehouse_id").alias("dst"),
        "quantity",
    )
    edges = (
        out.join(inn, ["reference_id", "pair_id"])
        .groupBy("src", "dst")
        .agg(F.sum("quantity").cast("double").alias("w"))
    )
    ranks = graph.pagerank(edges, n_iter=5, damping=0.85)
    return ranks.select(
        F.col("node").alias("warehouse_id"), F.round("rank", 6).alias("rank")
    )


def _pagerank_sql(n_iter: int = 5, d: float = 0.85) -> str:
    from wsspark.adapters import TRANSFER_MOVEMENTS_SQL

    iters = []
    for k in range(1, n_iter + 1):
        prev = f"r{k - 1}"
        iters.append(f"""
r{k} AS MATERIALIZED (
    SELECT n.node,
           (1 - {d}) / (SELECT cnt FROM nn)
           + {d} * (COALESCE(c.contrib, 0)
                    + dg.m / (SELECT cnt FROM nn)) AS rank
    FROM nodes n
    LEFT JOIN (
        SELECT e.dst AS node, SUM(r.rank * e.w / ow.ow) AS contrib
        FROM edges e
        JOIN {prev} r ON r.node = e.src
        JOIN outw ow ON ow.src = e.src
        GROUP BY e.dst
    ) c ON c.node = n.node
    CROSS JOIN (
        SELECT COALESCE(SUM(r.rank), 0) AS m FROM {prev} r
        WHERE r.node NOT IN (SELECT src FROM outw)
    ) dg
)""")
    return f"""
WITH legs AS ({TRANSFER_MOVEMENTS_SQL}),
edges AS (
    SELECT o.warehouse_id AS src, i.warehouse_id AS dst,
           CAST(SUM(i.quantity) AS DOUBLE) AS w
    FROM legs o
    JOIN legs i ON o.reference_id = i.reference_id AND o.pair_id = i.pair_id
    WHERE o.quantity < 0 AND i.quantity > 0
    GROUP BY 1, 2
),
nodes AS (
    SELECT DISTINCT src AS node FROM edges
    UNION SELECT DISTINCT dst FROM edges
),
nn AS (SELECT COUNT(*) AS cnt FROM nodes),
outw AS (SELECT src, SUM(w) AS ow FROM edges GROUP BY src),
r0 AS (
    SELECT node, 1.0 / (SELECT cnt FROM nn) AS rank FROM nodes
),{",".join(iters)}
SELECT node AS warehouse_id, ROUND(rank, 6) AS rank FROM r{n_iter}
"""


PAGERANK_SQL = _pagerank_sql()

def q_dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative table-level expectations audit (quality.expectation_report):
    six completeness/uniqueness/domain/range constraints evaluated in ONE
    aggregate pass (plan-asserted single scan in tests/test_plans.py) and
    unpivoted via stack — the deequ-style batch gate the reference's
    row-level DQ flags (P1/P2) don't cover."""
    li = read_table(spark, sf_dir, "lineitem")
    from wsspark.quality import expectation_report

    return expectation_report(ad.movements_from_lineitem(li))


_DQ_EXPECT_METRICS = [
    ("completeness_ship_date",
     "ROUND(CAST(COUNT(movement_date) AS DOUBLE) / COUNT(*), 6)", ">=", 0.99),
    ("uniqueness_reference_line",
     "ROUND(CAST(COUNT(DISTINCT (reference_id, product_id, "
     "warehouse_id, movement_date)) AS DOUBLE) / COUNT(*), 6)", ">=", 0.95),
    ("non_degenerate_quantity",
     "ROUND(AVG(CASE WHEN ABS(quantity) > 0 THEN 1.0 ELSE 0.0 END), 6)",
     ">=", 0.999),
    ("quantity_within_bounds",
     "ROUND(CAST(MAX(ABS(quantity)) AS DOUBLE), 6)", "<=", 60.0),
    ("movement_type_in_domain",
     "ROUND(AVG(CASE WHEN movement_type IN ('A','N','R') THEN 1.0 "
     "ELSE 0.0 END), 6)", ">=", 1.0),
    ("mean_abs_quantity_sane", "ROUND(AVG(ABS(quantity)), 6)", "<=", 40.0),
]


def _dq_expectations_sql() -> str:
    metrics = ", ".join(
        f"{expr} AS m{i}" for i, (_, expr, _, _) in enumerate(_DQ_EXPECT_METRICS)
    )
    rows = "\nUNION ALL\n".join(
        f"SELECT '{name}' AS check_name, m{i} AS metric, '{op}' AS op, "
        f"CAST({thr} AS DOUBLE) AS threshold, "
        f"m{i} {op} {thr} AS passed FROM a"
        for i, (name, _, op, thr) in enumerate(_DQ_EXPECT_METRICS)
    )
    return f"WITH m AS ({ad.MOVEMENTS_SQL}),\na AS (SELECT {metrics} FROM m)\n{rows}"


DQ_EXPECTATIONS_SQL = _dq_expectations_sql()

_PROFILE_COLS = [
    "o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderdate", "o_orderpriority",
]


def q_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass deequ-style column profiler (quality.profile_table) over the
    orders table: per column (n_nonnull, n_null, n_distinct, min, max) from
    ONE aggregate over ONE scan, unpivoted via stack. exact_distinct=True so
    the oracle comparison is bit-for-bit (the HLL++ default is the 100 TB
    path; its error band is certified separately by
    approx_distinct_accuracy)."""
    from wsspark.quality import profile_table

    return profile_table(
        read_table(spark, sf_dir, "orders"),
        columns=_PROFILE_COLS,
        exact_distinct=True,
    )


def _profile_table_sql() -> str:
    aggs = ", ".join(
        f"CAST(COUNT({c}) AS BIGINT) AS _nn{i}, "
        f"CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS _nu{i}, "
        f"CAST(COUNT(DISTINCT {c}) AS BIGINT) AS _nd{i}, "
        f"CAST(MIN({c}) AS VARCHAR) AS _mn{i}, "
        f"CAST(MAX({c}) AS VARCHAR) AS _mx{i}"
        for i, c in enumerate(_PROFILE_COLS)
    )
    rows = "\nUNION ALL\n".join(
        f"SELECT '{c}' AS \"column\", _nn{i} AS n_nonnull, _nu{i} AS n_null, "
        f"_nd{i} AS n_distinct, _mn{i} AS min_value, _mx{i} AS max_value FROM a"
        for i, c in enumerate(_PROFILE_COLS)
    )
    return f"WITH a AS (SELECT {aggs} FROM orders)\n{rows}"


PROFILE_TABLE_SQL = _profile_table_sql()

MV_CUTOFF = "2001-06-01 00:00:00"


def q_incremental_mv_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view refresh (ops.incremental): the movement
    rollup MV is maintained by aggregating ONLY the delta past the refresh
    watermark and merging it into the kept aggregate state by key — COUNT/
    SUM add, MAX takes greatest (insert-only log), AVG re-derives. The
    oracle is the FULL recompute over the whole log, so the driver hash
    proves the incremental algebra exact — the property that lets a 100 TB
    deployment refresh daily at O(delta) instead of O(corpus). The
    reference re-aggregates its entire extract every run even in
    incremental mode (etl/extract/data_extractor.py high-watermark refeeds
    the full transform); this is the Spark-native upgrade."""
    from wsspark.ops import incremental as ivm

    li = read_table(spark, sf_dir, "lineitem")
    mvs = ad.movements_from_lineitem(li)
    return ivm.incremental_refresh(mvs, MV_CUTOFF)


INCREMENTAL_MV_SQL = f"""
SELECT warehouse_id, product_id,
       CAST(COUNT(*) AS BIGINT) AS n_movements,
       CAST(SUM(CAST(quantity AS BIGINT)) AS BIGINT) AS net_qty,
       MAX(movement_date) AS last_movement_at,
       ROUND(CAST(SUM(CAST(quantity AS BIGINT)) AS DOUBLE) / COUNT(*), 4)
           AS avg_qty
FROM ({ad.MOVEMENTS_SQL})
GROUP BY warehouse_id, product_id
"""


def q_lifo_valuation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4's LIFO branch — the mirror of q_fifo_valuation: on-hand stock is
    valued at the OLDEST receipt layers (ops.functions.lifo_stock_value),
    completing the AVG/FIFO/LIFO method set the reference declares but only
    implements for AVG (dbfn/functions.sql:233-238)."""
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    stock = ad.stock_from_lineitem(li, part)
    return wfn.lifo_stock_value(stock, ad.po_receipts_from_lineitem(li))


LIFO_VALUATION_SQL = f"""
WITH stock AS ({ad.STOCK_SQL}),
receipts AS ({ad.PO_RECEIPTS_SQL}),
totals AS (
    SELECT product_id, SUM(quantity_on_hand) AS total_quantity
    FROM stock GROUP BY product_id HAVING SUM(quantity_on_hand) > 0
),
layers AS (
    SELECT r.product_id, t.total_quantity, r.unit_price,
           GREATEST(0, LEAST(r.quantity,
               t.total_quantity
               - (SUM(r.quantity) OVER (PARTITION BY r.product_id
                      ORDER BY r.receipt_date ASC, r.po_id ASC, r.line_no ASC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  - r.quantity))) AS take
    FROM receipts r JOIN totals t USING (product_id)
)
SELECT product_id, total_quantity, SUM(take) AS covered_quantity,
       ROUND(CAST(SUM(CAST(ROUND(take * unit_price * 100, 0) AS BIGINT))
             AS DOUBLE) / 100, 2) AS lifo_value
FROM layers GROUP BY product_id, total_quantity
"""


MOVING_AVG_DAYS = 7


def q_moving_avg_trends(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day mean over the gap-filled daily trend — the standard
    smoothed-trend report (pandas ``.rolling(7).mean()``). Because the
    input calendar is gap-filled (W1), a ROWS frame of 6 preceding is
    exactly the calendar week — no RANGE/interval frame needed, which keeps
    the window codegen-friendly. Single-partition window over the bounded
    day grain (same call as the Pareto cumsum: day cardinality, not fact
    cardinality)."""
    daily = q_daily_trends(spark, sf_dir)
    w = Window.orderBy("bucket_date").rowsBetween(-(MOVING_AVG_DAYS - 1), 0)
    return daily.select(
        "bucket_date",
        "daily_movements",
        F.round(F.avg("daily_movements").over(w), 4).alias("moving_avg_7d"),
        F.sum("daily_movements")
        .over(Window.orderBy("bucket_date").rowsBetween(Window.unboundedPreceding, 0))
        .alias("cumulative_movements"),
    )


MOVING_AVG_SQL = f"""
WITH daily AS ({DAILY_TRENDS_SQL})
SELECT bucket_date, daily_movements,
       ROUND(AVG(daily_movements) OVER (
           ORDER BY bucket_date
           ROWS BETWEEN {MOVING_AVG_DAYS - 1} PRECEDING AND CURRENT ROW), 4)
           AS moving_avg_7d,
       CAST(SUM(daily_movements) OVER (
           ORDER BY bucket_date
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cumulative_movements
FROM daily
"""


N_DECILES = 10


def q_revenue_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue decile table: ntile(10) over per-product revenue, then one
    combinable agg per decile (n products, cents-exact revenue, share of
    total). The ntile window and the Pareto cumsum share the same bounded
    single-partition sort (product cardinality); the share denominator is a
    window-total, not a second scan."""
    li = read_table(spark, sf_dir, "lineitem")
    so = ad.so_details_from_lineitem(li)
    rev = so.groupBy("product_id").agg(
        F.sum(ex.cents(F.col("quantity") * F.col("unit_price"))).alias("rev_cents")
    )
    w = Window.orderBy(F.desc("rev_cents"), F.asc("product_id"))
    deciles = rev.withColumn("decile", F.ntile(N_DECILES).over(w))
    agg = deciles.groupBy("decile").agg(
        F.count("*").alias("n_products"),
        F.sum("rev_cents").alias("_cents"),
    )
    total = F.sum("_cents").over(Window.partitionBy())
    return (
        agg.select(
            "decile",
            "n_products",
            (F.col("_cents").cast("double") / 100).alias("revenue"),
            F.round(F.col("_cents") / total, 6).alias("revenue_share"),
        )
        .orderBy("decile")
    )


REVENUE_DECILES_SQL = f"""
WITH so AS ({ad.SO_DETAILS_SQL}),
rev AS (
    SELECT product_id,
           SUM(CAST(ROUND((quantity * unit_price) * 100, 0) AS BIGINT)) AS rev_cents
    FROM so GROUP BY product_id
),
d AS (
    SELECT product_id, rev_cents,
           NTILE({N_DECILES}) OVER (ORDER BY rev_cents DESC, product_id) AS decile
    FROM rev
),
agg AS (
    SELECT decile, COUNT(*) AS n_products, SUM(rev_cents) AS cents
    FROM d GROUP BY decile
)
SELECT decile, n_products,
       CAST(cents AS DOUBLE) / 100 AS revenue,
       ROUND(CAST(cents AS DOUBLE) / SUM(cents) OVER (), 6) AS revenue_share
FROM agg ORDER BY decile
"""

# ---------------------------------------------------------------------------
# RFM customer segmentation: the triple-ntile quantile cut over the order
# fact. One combinable groupBy(customer) then three window passes over the
# customer-dimension-sized frame; pinned custkey tiebreaks + cents-exact
# monetary make the tile cuts byte-identical across engines.
# ---------------------------------------------------------------------------

RFM_AS_OF = "2001-09-01"  # > max(o_orderdate) in the testdata; deterministic


def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (wsspark.ops.financial.rfm_segments): Recency /
    Frequency / Monetary each ntile(5)'d with customer-id tiebreaks, plus
    the concatenated segment label."""
    return fin.rfm_segments(read_table(spark, sf_dir, "orders"), as_of=RFM_AS_OF)


RFM_SQL = f"""
WITH per_cust AS (
    SELECT o_custkey AS custkey,
           CAST(DATE '{RFM_AS_OF}' - CAST(o_orderdate_max AS DATE) AS BIGINT)
               AS recency_days,
           frequency, monetary_cents
    FROM (
        SELECT o_custkey, MAX(o_orderdate) AS o_orderdate_max,
               CAST(COUNT(*) AS BIGINT) AS frequency,
               CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                    AS BIGINT) AS monetary_cents
        FROM orders GROUP BY o_custkey
    )
)
SELECT custkey, recency_days, frequency, monetary_cents,
       NTILE(5) OVER (ORDER BY recency_days ASC, custkey ASC) AS r,
       NTILE(5) OVER (ORDER BY frequency DESC, custkey ASC) AS f,
       NTILE(5) OVER (ORDER BY monetary_cents DESC, custkey ASC) AS m,
       CAST(NTILE(5) OVER (ORDER BY recency_days ASC, custkey ASC) AS VARCHAR)
       || CAST(NTILE(5) OVER (ORDER BY frequency DESC, custkey ASC) AS VARCHAR)
       || CAST(NTILE(5) OVER (ORDER BY monetary_cents DESC, custkey ASC) AS VARCHAR)
           AS segment
FROM per_cust
"""

# ---------------------------------------------------------------------------
# Skew paths (wsspark.skew) as driver-falsifiable rows: the reference bakes
# in 80/20 hot-product skew (gen/generate_data.py:114-117), so the salted
# two-phase agg and the replicated skew join are first-class operators, not
# just pytest-covered helpers. Both are semantically identical to their
# unsalted forms — which is exactly what the oracle verifies.
# ---------------------------------------------------------------------------


def q_salted_product_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-product movement totals via skew.salted_agg: stage 1 partials on
    (product_id, salt) so a hot product spreads over 16 reducers, stage 2
    merges partials per product. Quantities are integral doubles, so the
    two-phase sum is exact and order-independent (= the single-pass oracle).
    Plan shape (asserted in tests/test_plans.py): xxhash64 salt, two
    HashAggregate pairs, ONE exchange keyed by product alone."""
    from wsspark import skew

    li = read_table(spark, sf_dir, "lineitem")
    m = ad.movements_from_lineitem(li)
    out = skew.salted_agg(
        m,
        keys=["product_id"],
        aggs={
            "total_qty": "sum(quantity)",
            "n_moves": "count(*)",
            "max_qty": "max(quantity)",
        },
        salt_source=["warehouse_id", "reference_id"],
    )
    return out.select(
        "product_id",
        F.col("total_qty").cast("double").alias("total_qty"),
        F.col("n_moves").cast("long").alias("n_moves"),
        F.col("max_qty").cast("double").alias("max_qty"),
    )


SALTED_TOTALS_SQL = f"""
WITH m AS ({ad.MOVEMENTS_SQL})
SELECT product_id,
       CAST(SUM(quantity) AS DOUBLE) AS total_qty,
       COUNT(*) AS n_moves,
       CAST(MAX(quantity) AS DOUBLE) AS max_qty
FROM m GROUP BY product_id
"""


def q_skew_join_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Movement revenue per part brand via skew.replicated_skew_join:
    the part side replicates 8x and the (hot-keyed) movement side salts,
    so no single reducer owns a hot product's rows even when the build
    side exceeds the broadcast threshold. Cents-exact revenue keeps the
    result bit-identical to the plain-join oracle."""
    from wsspark import skew

    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("product_id"), "p_brand", "p_retailprice"
    )
    m = ad.movements_from_lineitem(li).withColumn(
        "abs_qty", F.abs(F.col("quantity"))
    )
    joined = skew.replicated_skew_join(
        m,
        part,
        keys=["product_id"],
        n_salts=8,
        probe_salt_source=["warehouse_id", "reference_id"],
    )
    cents = ex.cents(F.col("abs_qty") * F.col("p_retailprice"))
    return (
        joined.groupBy("p_brand")
        .agg(
            F.sum(cents).alias("_c"),
            F.count("*").cast("long").alias("n_moves"),
        )
        .select(
            "p_brand",
            (F.col("_c").cast("double") / 100).alias("gross_value"),
            "n_moves",
        )
    )


SKEW_JOIN_SQL = f"""
WITH m AS ({ad.MOVEMENTS_SQL})
SELECT p.p_brand,
       CAST(SUM(CAST(ROUND(ABS(m.quantity) * p.p_retailprice * 100, 0)
                AS BIGINT)) AS DOUBLE) / 100 AS gross_value,
       COUNT(*) AS n_moves
FROM m JOIN part p ON m.product_id = p.p_partkey
GROUP BY p.p_brand
"""


QUERIES = [
    Query("abc_analysis", q_abc_analysis, ABC_SQL,
          "Pareto/ABC revenue classification (P4 A4 A5 W2 F1)"),
    Query("dq_expectations", q_dq_expectations, DQ_EXPECTATIONS_SQL,
          "one-pass declarative expectations audit (deequ-style gate)"),
    Query("dq_flag_summary", q_dq_flag_summary, DQ_FLAG_SQL,
          "sequential DQ rule precedence + reject tally (P1)"),
    Query("incremental_valid_events", q_incremental_valid_events, INCREMENTAL_SQL,
          "high-watermark incremental scan + valid filter (S2 P2)"),
    Query("inventory_summary", q_inventory_summary, INVENTORY_SUMMARY_SQL,
          "turnover/DOH KPIs with div-by-zero guards (A2 A3 F8)"),
    Query("transfer_patterns", q_transfer_patterns, TRANSFER_PATTERNS_SQL,
          "paired transfer-leg self-join + route aggregation (P8 J4 A9)"),
    Query("warehouse_io_pivot", q_warehouse_io_pivot, IO_PIVOT_SQL,
          "activity pivot with explicit values (A10)"),
    Query("warehouse_fill_matrix", q_warehouse_fill_matrix, FILL_MATRIX_SQL,
          "dimension cross product zero-filled (J8)"),
    Query("snapshot_recompute", q_snapshot_recompute, SNAPSHOT_SQL,
          "stock snapshot = signed sum of movements (M1 A12)"),
    Query("reorder_report", q_reorder_report, REORDER_SQL,
          "reorder-point report, 3-way join (M3 J5 P9 P11)"),
    Query("stock_valuation_all", q_stock_valuation_all, VALUATION_ALL_SQL,
          "weighted-avg valuation, pipeline variant (M4 A6 J6)"),
    Query("fifo_valuation", q_fifo_valuation, FIFO_VALUATION_SQL,
          "FIFO valuation: newest-first window over dated receipt layers (M4 FIFO)"),
    Query("audit_diff", q_audit_diff, AUDIT_DIFF_SQL,
          "trigger/audit semantics as snapshot diff (M5 F12)"),
    Query("transfer_validation", q_transfer_validation, TRANSFER_VALIDATION_SQL,
          "transfer_stock validation rules (M2)"),
    # movement_quantity_quantiles retired to the folded tier in r11;
    # daily_trend_windows, transfer_receipts, movement_rollup retired in
    # r13 (slot swaps — see llm.py FOLDED_QUERIES); implementations + SQL
    # stay here.
    Query("event_funnel", q_event_funnel, FUNNEL_SQL,
          "ordered view->click->purchase funnel, one user-grain shuffle"),
    Query("dead_stock_aging", q_dead_stock_aging, AGING_SQL,
          "aging buckets over days-since-last-movement"),
    Query("movement_anomalies", q_movement_anomalies, ANOMALIES_SQL,
          "per-warehouse daily volume z-score anomalies"),
    Query("incremental_mv_refresh", q_incremental_mv_refresh,
          INCREMENTAL_MV_SQL,
          "O(delta) materialized-view refresh; oracle = full recompute"),
    Query("pagerank_transfer_routes", q_pagerank_transfer_routes,
          PAGERANK_SQL,
          "weighted PageRank fixpoint over transfer routes (5 iterations)"),
    # moving_avg_trends retired to the folded tier in r14 (slot swap —
    # see llm.py FOLDED_QUERIES); implementation + SQL stay here.
    Query("revenue_deciles", q_revenue_deciles, REVENUE_DECILES_SQL,
          "ntile(10) revenue decile table with cents-exact shares"),
    Query("rfm_segments", q_rfm_segments, RFM_SQL,
          "RFM triple-ntile customer segmentation, pinned tiebreaks"),
    Query("salted_product_totals", q_salted_product_totals, SALTED_TOTALS_SQL,
          "hot-key-safe two-phase salted aggregation (skew.salted_agg)"),
    Query("skew_join_brand_revenue", q_skew_join_brand_revenue, SKEW_JOIN_SQL,
          "replicated-build salted equi-join (skew.replicated_skew_join)"),
]
