"""Table-level expectations audit (wsspark/quality.py expectation_report)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# expectations audit
# ---------------------------------------------------------------------------


def test_expectation_report_flags_violations(spark):
    """Doctored frame: null dates, a duplicate row, an out-of-domain type
    and an out-of-bounds quantity must flip exactly the right checks."""
    import datetime as dt

    from wsspark.quality import expectation_report

    d = dt.datetime(2001, 1, 1)
    rows = [
        (1, 10, 100, 5.0, d, "A"),
        (1, 10, 100, 5.0, d, "A"),          # exact duplicate
        (2, 11, 100, 900.0, d, "XX"),       # out-of-bounds qty + bad type
        (3, 12, 101, 1.0, None, "N"),       # null movement_date
        (4, 13, 101, 1.0, d, "R"),
    ]
    df = spark.createDataFrame(
        rows,
        "reference_id long, product_id long, warehouse_id long, "
        "quantity double, movement_date timestamp, movement_type string",
    )
    got = {r.check_name: r for r in expectation_report(df).collect()}
    assert len(got) == 6
    assert got["completeness_ship_date"].metric == 0.8
    assert not got["completeness_ship_date"].passed
    assert got["uniqueness_reference_line"].metric == 0.8
    assert not got["quantity_within_bounds"].passed
    assert got["quantity_within_bounds"].metric == 900.0
    assert not got["movement_type_in_domain"].passed
    assert got["non_degenerate_quantity"].passed


def test_expectation_report_all_green_on_clean_frame(spark):
    import datetime as dt

    from wsspark.quality import expectation_report

    d = dt.datetime(2001, 1, 1)
    rows = [
        (i, i, 100 + i, float(1 + i % 50), d, "ANR"[i % 3]) for i in range(60)
    ]
    df = spark.createDataFrame(
        rows,
        "reference_id long, product_id long, warehouse_id long, "
        "quantity double, movement_date timestamp, movement_type string",
    )
    assert all(r.passed for r in expectation_report(df).collect())


def test_profile_table_matches_duckdb_oracle(spark, sf_dir):
    """The one-pass profiler (exact-distinct form) must agree bit-for-bit
    with the same per-column arithmetic in DuckDB, including the
    cast-to-string rendering of min/max across long, double, string and
    timestamp columns."""
    import os

    import duckdb

    from wsspark.io import read_table
    from wsspark.quality import profile_table

    got = {
        r.column: (r.n_nonnull, r.n_null, r.n_distinct, r.min_value, r.max_value)
        for r in profile_table(
            read_table(spark, sf_dir, "orders"), exact_distinct=True
        ).collect()
    }
    path = os.path.join(sf_dir, "orders.parquet")
    con = duckdb.connect()
    cols = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM '{path}'").fetchall()]
    for c in cols:
        nn, nu, nd, mn, mx = con.execute(
            f"""SELECT COUNT({c}), SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END),
                       COUNT(DISTINCT {c}),
                       CAST(MIN({c}) AS VARCHAR), CAST(MAX({c}) AS VARCHAR)
                FROM '{path}'"""
        ).fetchone()
        assert got[c] == (nn, nu or 0, nd, mn, mx), c
    assert set(got) == set(cols)


def test_profile_table_single_scan_and_null_accounting(spark):
    """One aggregate job over one scan regardless of column count, and
    null/non-null counts that sum to the row count."""
    import re

    from wsspark.quality import profile_table

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "c"), (None, "d")],
        "k long, v string",
    )
    prof = profile_table(df, exact_distinct=True)
    plan = prof._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert len(re.findall(r"\(\d+\) Scan", plan)) <= 1
    rows = {r.column: r for r in prof.collect()}
    assert rows["k"].n_nonnull == 3 and rows["k"].n_null == 1
    assert rows["v"].n_nonnull == 3 and rows["v"].n_null == 1
    assert rows["k"].min_value == "1" and rows["k"].max_value == "3"


def test_rfm_segments_match_duckdb_oracle(spark, sf_dir):
    """RFM segmentation must be byte-identical to the same triple-ntile
    SQL in DuckDB — the pinned customer-id tiebreaks make every tile cut
    deterministic, and monetary is exact integer cents."""
    import os

    import duckdb

    from wsspark.io import read_table
    from wsspark.ops.financial import rfm_segments

    as_of = "2001-09-01"
    got = sorted(
        map(
            tuple,
            rfm_segments(
                read_table(spark, sf_dir, "orders"), as_of=as_of
            ).collect(),
        )
    )
    path = os.path.join(sf_dir, "orders.parquet")
    con = duckdb.connect()
    want = sorted(
        map(
            tuple,
            con.execute(
                f"""
                WITH per_cust AS (
                    SELECT o_custkey AS custkey,
                           CAST(DATE '{as_of}' - CAST(MAX(o_orderdate) AS DATE)
                                AS BIGINT) AS recency_days,
                           CAST(COUNT(*) AS BIGINT) AS frequency,
                           CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                                AS BIGINT) AS monetary_cents
                    FROM '{path}' GROUP BY 1
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
            ).fetchall(),
        )
    )
    assert got == want and len(got) > 0
    # every tile value in range, best segment present on this corpus
    assert all(1 <= r[4] <= 5 and 1 <= r[5] <= 5 and 1 <= r[6] <= 5 for r in got)


def test_rfm_percentile_method_matches_ntile_modulo_boundary_ties(spark, sf_dir):
    """The scalable two-pass percentile cut (method='percentile') must agree
    with the driver-verified ntile cut everywhere except tied runs that
    straddle an ntile boundary — the one documented semantic difference
    (value-based cuts keep equal metrics together; ntile splits them by
    custkey) — and even there by at most one tile. On a metric with
    distinct values at every boundary (monetary_cents here) the two methods
    must be row-exact, which pins the percentile index convention
    (ascending '>', descending '<=') against ntile's split points."""
    from wsspark.io import read_table
    from wsspark.ops.financial import rfm_segments

    as_of = "2001-09-01"
    orders = read_table(spark, sf_dir, "orders")
    nt = {
        r["custkey"]: r
        for r in rfm_segments(orders, as_of=as_of).collect()
    }
    pc = {
        r["custkey"]: r
        for r in rfm_segments(orders, as_of=as_of, method="percentile").collect()
    }
    assert set(nt) == set(pc) and len(nt) > 0
    for tile_col, metric in (
        ("r", "recency_days"),
        ("f", "frequency"),
        ("m", "monetary_cents"),
    ):
        # metric values whose tied run straddles an ntile boundary: the
        # same value maps to >1 tile in the ntile output
        tiles_by_value: dict[int, set[int]] = {}
        for row in nt.values():
            tiles_by_value.setdefault(row[metric], set()).add(row[tile_col])
        straddling = {v for v, tiles in tiles_by_value.items() if len(tiles) > 1}
        for k, row in nt.items():
            if row[metric] in straddling:
                assert abs(row[tile_col] - pc[k][tile_col]) <= 1, (tile_col, k)
            else:
                assert row[tile_col] == pc[k][tile_col], (tile_col, k)


def test_rfm_percentile_plan_has_no_window_or_global_sort(spark, sf_dir):
    """The percentile path is the billions-of-customers shape: no Window
    operator, no global Sort, and the only single-partition exchange is the
    sketch-merge of the 1-row boundary aggregate (carries one GK sketch per
    partition, never customer rows). The boundary frame must come back via a
    broadcast join."""
    from wsspark.io import read_table
    from wsspark.ops.financial import rfm_segments

    df = rfm_segments(
        read_table(spark, sf_dir, "orders"),
        as_of="2001-09-01",
        method="percentile",
    )
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "Window" not in plan, plan
    assert "Sort" not in plan.split("== Physical Plan ==")[-1].split(
        "===== Subqueries"
    )[0] or "SortAggregate" in plan, plan
    assert plan.count("Exchange SinglePartition") <= 1, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan
    # and the default ntile path keeps its exact semantics (Window present)
    nt_plan = rfm_segments(
        read_table(spark, sf_dir, "orders"), as_of="2001-09-01"
    )._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "Window" in nt_plan


def test_abc_partitioned_matches_window_form(spark, sf_dir):
    """abc_analysis_partitioned (two-level bucket prefix sum — the
    billions-of-products shape) must agree with the global-window form
    row for row: identical class labels, cumulative sums within 1e-9
    relative (float summation-order is the only difference), and its
    plan must contain no global-sort Window (every Window partitioned by
    bucket) with single-partition exchanges only for the 1-row scalar
    aggregates."""
    from wsspark.io import read_table
    from wsspark.ops.financial import (
        abc_analysis,
        abc_analysis_partitioned,
        revenue_per_product,
    )
    from wsspark import adapters

    li = read_table(spark, sf_dir, "lineitem")
    revenue = revenue_per_product(adapters.so_details_from_lineitem(li))
    want = {
        r["product_id"]: r for r in abc_analysis(revenue).collect()
    }
    got_df = abc_analysis_partitioned(revenue, n_buckets=16)
    got = {r["product_id"]: r for r in got_df.collect()}
    assert set(got) == set(want) and len(got) > 100
    for k, g in got.items():
        w = want[k]
        assert g["abc_class"] == w["abc_class"], k
        assert abs(g["revenue_cumsum"] - w["revenue_cumsum"]) <= 1e-9 * max(
            1.0, abs(w["revenue_cumsum"])
        ), k
        assert abs(g["revenue_percent"] - w["revenue_percent"]) <= 1e-9, k
        assert g["revenue"] == w["revenue"] and abs(
            g["total_revenue"] - w["total_revenue"]
        ) <= 1e-6, k

    plan = got_df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    import re

    # every Window must be partitioned (by _bucket) — no global window
    for spec in re.findall(r"Arguments: \[sum[^\]]*windowspec[^\n]*", plan):
        assert "_bucket" in spec, spec
    # SinglePartition exchanges only feed the 1-row scalar aggregates
    assert plan.count("Exchange SinglePartition") <= 2, plan


def test_referential_integrity_planted_orphans(spark):
    """Planted: 2 orphans and 1 null key on fk1; fk2 clean. One scan,
    one row per FK, null keys never counted as orphans."""
    from wsspark.quality import referential_integrity_report

    fact = spark.createDataFrame(
        [(1, 10), (2, 10), (99, 20), (98, 20), (None, 30)],
        "k1 int, k2 int",
    )
    dim1 = spark.createDataFrame([(1,), (2,), (3,)], "d int")
    dim2 = spark.createDataFrame([(10,), (20,), (30,)], "d int")
    got = {
        r.fk_name: r
        for r in referential_integrity_report(
            fact, [("fk1", "k1", dim1, "d"), ("fk2", "k2", dim2, "d")]
        ).collect()
    }
    assert got["fk1"].n_orphans == 2 and got["fk1"].n_null_fk == 1
    assert got["fk1"].passed is False
    assert got["fk2"].n_orphans == 0 and got["fk2"].passed is True
    assert got["fk2"].n_rows == 5


def test_referential_integrity_one_scan_plan(spark):
    """All FK dims must ride one plan: a single fact scan, every dim
    join a BroadcastHashJoin, no BatchEvalPython."""
    from tests.test_plans import plan_of
    from wsspark.quality import referential_integrity_report

    fact = spark.range(100).select(
        (F.col("id") % 10).alias("a"), (F.col("id") % 7).alias("b")
    )
    d1 = spark.range(5).select(F.col("id").alias("d"))
    d2 = spark.range(3).select(F.col("id").alias("d"))
    plan = plan_of(
        referential_integrity_report(
            fact, [("a", "a", d1, "d"), ("b", "b", d2, "d")]
        )
    )
    tree = plan.split("\n\n")[0]
    assert tree.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in tree
    assert "BatchEvalPython" not in plan


def test_referential_integrity_requires_specs(spark):
    import pytest as _pytest

    from wsspark.quality import referential_integrity_report

    with _pytest.raises(ValueError):
        referential_integrity_report(spark.range(1), [])


def test_drift_report_planted_shift_and_stability(spark):
    """A planted mean shift on one column must alert while an identically
    distributed column stays stable; categorical mix change alerts."""
    from wsspark.quality import drift_report

    base = spark.createDataFrame(
        [(float(i % 100), float(i % 7), "A" if i % 10 else "B")
         for i in range(2000)],
        "x double, stable double, flag string",
    )
    cur = spark.createDataFrame(
        [(float(i % 100) + 60.0, float((i + 3) % 7), "B" if i % 3 else "A")
         for i in range(1500)],
        "x double, stable double, flag string",
    )
    out = {
        r.column: r
        for r in drift_report(
            base, cur, numeric_cols=["x", "stable"], cat_cols=["flag"]
        ).collect()
    }
    assert out["x"].drifted and out["x"].psi > 0.2
    assert not out["stable"].drifted and out["stable"].psi < 0.05
    assert out["flag"].drifted and out["flag"].kind == "categorical"
    assert out["x"].n_base == 2000 and out["x"].n_current == 1500


def test_drift_report_nulls_clamping_and_degenerate(spark):
    from wsspark.quality import drift_report

    # NULLs form their own bucket: a NULL-rate change is drift
    base = spark.createDataFrame(
        [(float(i),) for i in range(100)], "v double"
    )
    cur_nulls = spark.createDataFrame(
        [(None,)] * 80 + [(float(i),) for i in range(20)], "v double"
    )
    r = drift_report(base, cur_nulls, numeric_cols=["v"]).collect()[0]
    assert r.drifted
    # out-of-range current values clamp into edge buckets, not crash
    cur_wide = spark.createDataFrame(
        [(-1e9,), (1e9,)] + [(50.0,)] * 98, "v double"
    )
    r = drift_report(base, cur_wide, numeric_cols=["v"]).collect()[0]
    assert r.n_current == 100 and r.psi > 0
    # degenerate base (constant column): single bucket, zero psi vs itself
    const = spark.createDataFrame([(5.0,)] * 50, "v double")
    r = drift_report(const, const, numeric_cols=["v"]).collect()[0]
    assert r.psi == 0.0 and not r.drifted
    import pytest

    with pytest.raises(ValueError, match="at least one"):
        drift_report(base, cur_nulls)


def test_drift_report_identical_snapshots_zero(spark):
    from wsspark.quality import drift_report

    df = spark.createDataFrame(
        [(float(i % 40), str(i % 5)) for i in range(500)],
        "v double, c string",
    )
    for r in drift_report(df, df, numeric_cols=["v"], cat_cols=["c"]).collect():
        assert r.psi == 0.0 and not r.drifted


def test_drift_report_categorical_cardinality_guard(spark):
    """A user-id-like categorical column must raise eagerly (naming the
    column) instead of silently collecting one driver row per distinct
    value — and the collect itself is limit-capped, so the oversized
    transfer never happens. Bounded columns are unaffected."""
    import pytest

    from wsspark.quality import drift_report

    df = spark.createDataFrame(
        [(float(i % 40), str(i), str(i % 5)) for i in range(500)],
        "v double, user_id string, c string",
    )
    with pytest.raises(ValueError, match="user_id.*max_cat_buckets"):
        drift_report(
            df, df, numeric_cols=["v"], cat_cols=["user_id", "c"],
            max_cat_buckets=100,
        )
    # raising the bound deliberately works, and bounded cols never trip
    out = drift_report(
        df, df, numeric_cols=["v"], cat_cols=["user_id", "c"],
        max_cat_buckets=500,
    ).collect()
    assert all(r.psi == 0.0 for r in out)
    out2 = drift_report(
        df, df, numeric_cols=["v"], cat_cols=["c"], max_cat_buckets=100
    ).collect()
    assert {r.column for r in out2} == {"v", "c"}


def test_drift_collect_is_transfer_capped(spark):
    """The guard must bound the driver TRANSFER, not post-check it: the
    count aggregation is collected through limit(cap+1), so the plan
    itself carries the cap (CollectLimit / GlobalLimit in the collect)."""
    from wsspark.quality import _drift_bucket_col, _drift_counts

    df = spark.createDataFrame(
        [(str(i),) for i in range(50)], "user_id string"
    )
    import pytest

    with pytest.raises(ValueError, match="max_cat_buckets=10"):
        _drift_counts(df, [], ["user_id"], {}, 10, max_cat_buckets=10)
    # sanity: bucket expr for categorical is the raw value
    assert "user_id" in str(_drift_bucket_col("user_id", {}, 10))


def test_drift_topk_matches_drift_report_when_under_k(spark):
    """With cardinality <= k no value folds into OTHER, so drift_topk must
    reproduce drift_report's categorical PSI exactly (same smoothing, same
    bucket union semantics)."""
    from wsspark.quality import drift_report, drift_topk

    base = spark.createDataFrame(
        [(str(i % 7),) for i in range(700)], "c string"
    )
    cur = spark.createDataFrame(
        [(str(i % 5),) for i in range(500)], "c string"
    )
    a = drift_report(base, cur, cat_cols=["c"]).collect()[0]
    b = drift_topk(base, cur, ["c"], k=50).collect()[0]
    assert (a.psi, a.n_base, a.n_current, a.drifted) == (
        b.psi, b.n_base, b.n_current, b.drifted,
    )


def test_drift_topk_novel_value_flood_alerts_via_other(spark):
    """Buckets are pinned to the BASE top-k: a current-side flood of novel
    values lands in OTHER and must alert, while a stationary feed with the
    same top-k mass stays quiet."""
    from wsspark.quality import drift_topk

    base = spark.createDataFrame(
        [(f"u{i % 10}",) for i in range(1000)], "c string"
    )
    flood = spark.createDataFrame(
        [(f"new{i}",) for i in range(1000)], "c string"
    )
    r = drift_topk(base, flood, ["c"], k=5).collect()[0]
    assert r.drifted and r.kind == "categorical"
    quiet = drift_topk(base, base, ["c"], k=5).collect()[0]
    assert quiet.psi == 0.0 and not quiet.drifted


def test_drift_topk_bounded_collect_and_nulls(spark):
    """High-cardinality column: driver state stays O(k), NULL rides as its
    own bucket value, and the guard errors are honest."""
    import pytest

    from wsspark.quality import drift_topk

    base = spark.createDataFrame(
        [(str(i) if i % 3 else None,) for i in range(3000)], "c string"
    )
    cur = spark.createDataFrame(
        [(str(i * 2) if i % 4 else None,) for i in range(3000)], "c string"
    )
    out = drift_topk(base, cur, ["c"], k=10).collect()
    assert len(out) == 1 and out[0].n_base == 3000 and out[0].n_current == 3000
    with pytest.raises(ValueError, match="k must be"):
        drift_topk(base, cur, ["c"], k=0)
    with pytest.raises(ValueError, match="at least one"):
        drift_topk(base, cur, [])


def _ks_exact(xs, ys):
    """Pure-python exact two-sample KS (sup over pooled distinct values of
    right-continuous ECDF difference) — the definitional oracle."""
    import bisect

    xs, ys = sorted(xs), sorted(ys)
    d = 0.0
    for v in sorted(set(xs) | set(ys)):
        fb = bisect.bisect_right(xs, v) / len(xs)
        fc = bisect.bisect_right(ys, v) / len(ys)
        d = max(d, abs(fb - fc))
    return d


def test_ks_drift_matches_definitional_oracle(spark):
    import math as m
    import random

    from wsspark.quality import ks_drift

    random.seed(7)
    xs = [round(random.gauss(0, 1), 2) for _ in range(800)]
    ys = [round(random.gauss(0.4, 1.3), 2) for _ in range(600)]
    base = spark.createDataFrame([(v,) for v in xs], "v double")
    cur = spark.createDataFrame([(v,) for v in ys], "v double")
    r = ks_drift(base, cur, ["v"]).collect()[0]
    assert r.ks_stat == round(_ks_exact(xs, ys), 6)
    assert r.n_base == 800 and r.n_current == 600
    c = m.sqrt(-m.log(0.025) / 2)
    assert r.threshold == round(c * m.sqrt((800 + 600) / (800 * 600)), 6)
    assert r.drifted  # a 0.4-sigma shift at n=800/600 is decisive


def test_ks_drift_identical_and_multicolumn_and_nulls(spark):
    from wsspark.quality import ks_drift

    df = spark.createDataFrame(
        [(float(i % 50), float(i % 7) if i % 11 else None)
         for i in range(2000)],
        "a double, b double",
    )
    rows = {r.column: r for r in ks_drift(df, df, ["a", "b"]).collect()}
    assert set(rows) == {"a", "b"}
    for r in rows.values():
        assert r.ks_stat == 0.0 and not r.drifted
    # NULLs excluded from the ECDF: counts reflect non-null rows only
    assert rows["b"].n_base == 2000 - len([i for i in range(2000) if i % 11 == 0])
    import pytest

    with pytest.raises(ValueError, match="at least one"):
        ks_drift(df, df, [])
    with pytest.raises(ValueError, match="alpha"):
        ks_drift(df, df, ["a"], alpha=1.5)


def test_ks_drift_plan_is_distinct_value_bounded(spark):
    """The only sort in the plan must be over the pooled distinct-value
    frame (post-aggregation), never the fact: the Sort's child side
    carries the count aggregation."""
    from wsspark.quality import ks_drift

    df = spark.createDataFrame([(float(i % 10),) for i in range(100)], "v double")
    plan = ks_drift(df, df, ["v"])._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan


def test_embedding_drift_planted_shift_and_quiet(spark):
    import random

    from wsspark.quality import embedding_drift

    random.seed(13)
    rows = [([random.gauss(0, 1) for _ in range(16)],) for _ in range(400)]
    df = spark.createDataFrame(rows, "embedding array<double>")
    even = df.limit(200)
    # quiet: two random halves of the same population
    half_a = spark.createDataFrame(rows[:200], "embedding array<double>")
    half_b = spark.createDataFrame(rows[200:], "embedding array<double>")
    quiet = embedding_drift(half_a, half_b).collect()[0]
    assert not quiet.drifted and quiet.dim == 16
    assert quiet.n_base == 200 and quiet.n_current == 200
    # planted shift on dim 3 only: +1 sigma, decisive at n=200
    shifted = spark.createDataFrame(
        [([v + (1.0 if i == 3 else 0.0) for i, v in enumerate(e)],)
         for (e,) in rows[200:]],
        "embedding array<double>",
    )
    loud = embedding_drift(half_a, shifted).collect()[0]
    assert loud.drifted and loud.max_dim_z > loud.z_crit
    _ = even  # silence lint


def test_embedding_drift_welch_z_matches_definition(spark):
    """One dimension, hand-computable: the max_dim_z must equal the
    textbook Welch z of the two samples."""
    import math as m

    from wsspark.quality import embedding_drift

    xs = [1.0, 2.0, 3.0, 4.0, 5.0]
    ys = [2.0, 4.0, 6.0, 8.0]
    a = spark.createDataFrame([([v],) for v in xs], "embedding array<double>")
    b = spark.createDataFrame([([v],) for v in ys], "embedding array<double>")
    r = embedding_drift(a, b).collect()[0]
    meb, mec = sum(xs) / 5, sum(ys) / 4
    vb = sum((v - meb) ** 2 for v in xs) / 4
    vc = sum((v - mec) ** 2 for v in ys) / 3
    z = abs(meb - mec) / m.sqrt(vb / 5 + vc / 4)
    assert r.max_dim_z == round(z, 6)


def test_embedding_drift_validation(spark):
    import pytest

    from wsspark.quality import embedding_drift

    a = spark.createDataFrame([([1.0, 2.0],)] * 3, "embedding array<double>")
    b3 = spark.createDataFrame([([1.0, 2.0, 3.0],)] * 3, "embedding array<double>")
    with pytest.raises(ValueError, match="dimension mismatch"):
        embedding_drift(a, b3)
    ragged = spark.createDataFrame(
        [([1.0, 2.0],), ([1.0],)], "embedding array<double>"
    )
    with pytest.raises(ValueError, match="ragged"):
        embedding_drift(a, ragged)
    empty = spark.createDataFrame([], "embedding array<double>")
    with pytest.raises(ValueError, match="empty"):
        embedding_drift(a, empty)


def test_ks_drift_two_phase_bucketed_path_is_exact(spark):
    """Forcing the bucketed two-phase ECDF (small_distinct below the
    cardinality) must reproduce the single-window path and the
    definitional oracle EXACTLY — the bucket offsets are exclusive
    prefix sums, so every cumulative value is identical."""
    import random

    from wsspark.quality import ks_drift

    random.seed(21)
    xs = [round(random.gauss(0, 1), 3) for _ in range(3000)]
    ys = [round(random.gauss(0.25, 1.1), 3) for _ in range(2500)]
    base = spark.createDataFrame([(v,) for v in xs], "v double")
    cur = spark.createDataFrame([(v,) for v in ys], "v double")
    simple = ks_drift(base, cur, ["v"]).collect()[0]
    bucketed = ks_drift(base, cur, ["v"], small_distinct=10).collect()[0]
    assert tuple(simple) == tuple(bucketed)
    assert bucketed.ks_stat == round(_ks_exact(xs, ys), 6)
    # degenerate single-value column rides the bucketed path safely too
    one = spark.createDataFrame([(7.0,)] * 100, "v double")
    r = ks_drift(one, one, ["v"], small_distinct=0).collect()[0]
    assert r.ks_stat == 0.0 and not r.drifted


def test_ks_drift_outlier_skew_keeps_buckets_populated(spark):
    """Adversarial skew: one outlier at 1e12 with the bulk in [0, 1].
    Pure equal-width edges would send every bulk value to bucket 1 and
    degenerate the two-phase design back to a single-task sort; the
    quantile-derived span edges must keep the bulk spread over many
    buckets — and the statistic must stay exact either way."""
    import random

    from wsspark.quality import _ks_bucket_spread, ks_drift

    random.seed(7)
    xs = [round(random.random(), 6) for _ in range(4000)] + [1e12]
    ys = [round(random.random() * 0.8 + 0.1, 6) for _ in range(3500)]
    base = spark.createDataFrame([(v,) for v in xs], "v double")
    cur = spark.createDataFrame([(v,) for v in ys], "v double")
    r = ks_drift(base, cur, ["v"], small_distinct=10).collect()[0]
    assert r.ks_stat == round(_ks_exact(xs, ys), 6)
    # the bucket-population probe: with the outlier present, the bulk
    # must still land in many distinct buckets (equal-width would give 2)
    spread = _ks_bucket_spread(base, cur, ["v"])
    assert spread["v"] > 100


def test_ks_drift_big_path_failure_releases_grouped_cache(spark, monkeypatch):
    """A failure AFTER the big path persisted its grouped frame (here:
    the fold) must not leak the cached blocks — the persistent-RDD count
    returns to its value from before the call."""
    from wsspark import quality

    def _boom(grouped):
        raise RuntimeError("fold failed")

    base = spark.range(0, 600).select((F.col("id") / 7).alias("v"))
    cur = spark.range(200, 800).select((F.col("id") / 7).alias("v"))
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    monkeypatch.setattr(quality, "_ks_fold_best", _boom)
    with pytest.raises(RuntimeError, match="fold failed"):
        quality.ks_drift(base, cur, ["v"], small_distinct=10)
    assert jsc.getPersistentRDDs().size() == before


def test_drift_topk_salted_rank_matches_plain(spark):
    """The two-phase salted top-k must select the same deterministic
    bucket set as a driver-side plain rank (count desc, value asc)."""
    import random

    from wsspark.quality import _cat_value_counts, _topk_values

    random.seed(5)
    vals = [str(random.randint(0, 300)) for _ in range(5000)]
    df = spark.createDataFrame([(v,) for v in vals], "c string")
    counts = _cat_value_counts(df, ["c"])
    got = sorted(_topk_values(counts, 25))
    from collections import Counter

    freq = Counter(vals)
    expect = sorted(
        ("c", v)
        for v, _ in sorted(freq.items(), key=lambda kv: (-kv[1], kv[0]))[:25]
    )
    assert got == expect


def test_drift_suite_matches_standalone_family_and_shares_scan(spark, sf_dir):
    """drift_suite fuses PSI + KS + top-k + embedding drift over ONE
    cached projection per snapshot. Statistic parity vs each standalone
    function must be EXACT (same code paths), and every family's
    aggregation plan must read the in-memory projection, not the fact."""
    from wsspark.io import read_table
    from wsspark.quality import (
        drift_report,
        drift_suite,
        drift_topk,
        embedding_drift,
        ks_drift,
    )

    li = read_table(spark, sf_dir, "lineitem")
    split = F.lit("1997-01-01").cast("timestamp")
    b = li.filter(F.col("l_shipdate") < split)
    c = li.filter(F.col("l_shipdate") >= split)
    plans: dict = {}
    rows = drift_suite(
        b,
        c,
        numeric_cols=["l_quantity", "l_extendedprice"],
        cat_cols=["l_returnflag"],
        plans_out=plans,
    ).collect()
    fams = {(r.family, r.column) for r in rows}
    assert fams == {
        ("psi", "l_quantity"),
        ("psi", "l_extendedprice"),
        ("ks", "l_quantity"),
        ("ks", "l_extendedprice"),
        ("topk_psi", "l_returnflag"),
    }
    dr = {
        r["column"]: r
        for r in drift_report(b, c, ["l_quantity", "l_extendedprice"]).collect()
    }
    ks = {
        r["column"]: r
        for r in ks_drift(b, c, ["l_quantity", "l_extendedprice"]).collect()
    }
    tk = {r["column"]: r for r in drift_topk(b, c, ["l_returnflag"]).collect()}
    for r in rows:
        if r.family == "psi":
            assert (r.n_base, r.n_current, r.statistic, r.drifted) == (
                dr[r.column].n_base,
                dr[r.column].n_current,
                dr[r.column].psi,
                dr[r.column].drifted,
            )
        elif r.family == "ks":
            assert (r.n_base, r.n_current, r.statistic, r.threshold, r.drifted) == (
                ks[r.column].n_base,
                ks[r.column].n_current,
                ks[r.column].ks_stat,
                ks[r.column].threshold,
                ks[r.column].drifted,
            )
        else:
            assert (r.statistic, r.drifted) == (
                tk[r.column].psi,
                tk[r.column].drifted,
            )
    # scan economy: the numeric pooled aggregation reads the cached
    # projection of BOTH snapshot sides; the (base-side) categorical
    # counts frame reads the cache too
    assert plans["pooled"].count("InMemoryTableScan") >= 2
    assert plans["cat"].count("InMemoryTableScan") >= 1

    # embedding family: parity + cached-scan plan
    emb = read_table(spark, sf_dir, "embeddings")
    eb = emb.filter(F.col("vec_id") % 2 == 0)
    ec = emb.filter(F.col("vec_id") % 2 == 1)
    plans2: dict = {}
    suite = {
        r.family: r
        for r in drift_suite(
            eb, ec, embedding_col="embedding", plans_out=plans2
        ).collect()
    }
    ref = embedding_drift(eb, ec, "embedding").collect()[0]
    got = suite["embedding"]
    assert (got.n_base, got.n_current, got.statistic, got.threshold, got.drifted) == (
        ref.n_base,
        ref.n_current,
        ref.max_dim_z,
        ref.z_crit,
        ref.drifted,
    )
    assert plans2["emb"].count("InMemoryTableScan") >= 1


def test_drift_suite_validation_and_null_buckets(spark):
    """Input validation + PSI NULL-bucket parity with drift_report when a
    numeric column carries NULLs (the pooled frame excludes them; the
    suite restores them from row totals)."""
    from wsspark.quality import drift_report, drift_suite

    b = spark.createDataFrame(
        [(1.0,), (2.0,), (None,), (None,)], "x double"
    )
    c = spark.createDataFrame([(1.0,), (None,), (8.0,), (9.0,)], "x double")
    with pytest.raises(ValueError, match="at least one column"):
        drift_suite(b, c)
    with pytest.raises(ValueError, match="alpha"):
        drift_suite(b, c, numeric_cols=["x"], alpha=2.0)
    got = {
        r.family: r for r in drift_suite(b, c, numeric_cols=["x"]).collect()
    }
    ref = drift_report(b, c, ["x"]).collect()[0]
    assert (got["psi"].n_base, got["psi"].n_current, got["psi"].statistic) == (
        ref.n_base,
        ref.n_current,
        ref.psi,
    )
    # KS ignores NULLs by contract: counts are the non-null totals
    assert (got["ks"].n_base, got["ks"].n_current) == (2, 3)


# ---------------------------------------------------------------------------
# incremental drift via the change feed (r16)
# ---------------------------------------------------------------------------


def _ivm_fact(spark, n=400):
    return spark.createDataFrame(
        [
            (i, i % 7, float((i * 13) % 50), f"T{i % 4}")
            for i in range(n)
        ],
        "reference_id long, warehouse_id long, quantity double, "
        "movement_type string",
    )


def test_drift_ivm_matches_full_recompute_across_dml(spark, tmp_path):
    """The signed-retraction invariant: after ANY CDF-covered DML mix
    (COW update, DV delete, append), the maintained counts' PSI rows
    equal drift_report(fact@baseline, fact@current) exactly — same
    pinned edges, same buckets, same smoothing."""
    from wsspark import snapstore as ss
    from wsspark.quality import (
        drift_report,
        snapstore_drift_ivm_refresh,
        snapstore_drift_ivm_report,
    )

    fact = str(tmp_path / "fact")
    state = str(tmp_path / "state")
    ss.snap_commit(_ivm_fact(spark).repartition(4), fact)
    ss.snap_enable_cdf(fact)
    v0 = snapstore_drift_ivm_refresh(
        spark, fact, state,
        numeric_cols=["quantity"], cat_cols=["movement_type"],
    )
    base_snap = ss.snap_read(spark, fact, v0)

    def check():
        got = snapstore_drift_ivm_report(spark, state).collect()
        want = drift_report(
            base_snap,
            ss.snap_read(spark, fact),
            numeric_cols=["quantity"],
            cat_cols=["movement_type"],
        ).collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, want))

    check()  # identical snapshots: psi == 0 rows both ways
    # COW update: quantities shift buckets (pre-image retracts, post adds)
    ss.snap_update_where(
        spark, fact, "quantity > 25", {"quantity": "quantity + 100"}
    )  # +100 pushes past the base max -> clamps into the edge bucket
    snapstore_drift_ivm_refresh(
        spark, fact, state,
        numeric_cols=["quantity"], cat_cols=["movement_type"],
    )
    check()
    # DV delete: whole-row retraction
    ss.snap_delete_dv(spark, fact, "reference_id % 5 = 2")
    # append: inserts, including a NOVEL category -> a fresh cur bucket
    spark.createDataFrame(
        [(10_000 + i, i % 7, 3.0, "T9") for i in range(40)],
        "reference_id long, warehouse_id long, quantity double, "
        "movement_type string",
    ).createOrReplaceTempView("_ivm_new")
    ss.snap_commit(spark.table("_ivm_new"), fact)
    # one refresh covers the multi-commit span
    snapstore_drift_ivm_refresh(
        spark, fact, state,
        numeric_cols=["quantity"], cat_cols=["movement_type"],
    )
    check()
    # idempotent cursor: a re-refresh at the same fact version is a no-op
    head_before = ss.snap_current_version(state)
    snapstore_drift_ivm_refresh(
        spark, fact, state,
        numeric_cols=["quantity"], cat_cols=["movement_type"],
    )
    assert ss.snap_current_version(state) == head_before


def test_drift_ivm_lineage_reset_keeps_baseline(spark, tmp_path):
    """A fact overwrite breaks the feed span: the refresh must fall back
    to a full 'cur' recompute with the PINNED edges and FROZEN base —
    the monitor's baseline never moves with its subject."""
    from wsspark import snapstore as ss
    from wsspark.quality import (
        snapstore_drift_ivm_refresh,
        snapstore_drift_ivm_report,
    )

    fact = str(tmp_path / "fact")
    state = str(tmp_path / "state")
    ss.snap_commit(_ivm_fact(spark, 200), fact)
    ss.snap_enable_cdf(fact)
    snapstore_drift_ivm_refresh(
        spark, fact, state, numeric_cols=["quantity"]
    )
    base_rows = {
        (r.side, r.col, r.bucket): r.n
        for r in ss.snap_read(spark, state).collect()
        if r.side in ("base", "edge")
    }
    # lineage reset: overwrite the fact with a shifted distribution
    ss.snap_commit(
        spark.createDataFrame(
            [(i, 0, 49.0, "T0") for i in range(300)],
            "reference_id long, warehouse_id long, quantity double, "
            "movement_type string",
        ),
        fact,
        mode="overwrite",
    )
    ss.snap_enable_cdf(fact)
    snapstore_drift_ivm_refresh(
        spark, fact, state, numeric_cols=["quantity"]
    )
    after = {
        (r.side, r.col, r.bucket): r.n
        for r in ss.snap_read(spark, state).collect()
        if r.side in ("base", "edge")
    }
    assert after == base_rows, "baseline and edges must survive the reset"
    rep = {r.column: r for r in snapstore_drift_ivm_report(spark, state).collect()}
    assert rep["quantity"].drifted, "the shifted rewrite must alert"
    assert rep["quantity"].n_current == 300
