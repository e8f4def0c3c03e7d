"""Pipeline orchestration tests: full run writes all 12 reports; incremental
with a future watermark early-exits; summary row merges the right scalars."""

from __future__ import annotations

import datetime as dt
import os

import pytest

from wsspark import pipeline


def test_full_pipeline_writes_all_reports(spark, sf_dir, tmp_path):
    out = str(tmp_path / "reports")
    written = pipeline.run_pipeline(spark, sf_dir, out, load_type="full")
    assert set(written) == set(pipeline.REPORT_NAMES)
    for name, path in written.items():
        df = spark.read.parquet(path)
        assert df.count() > 0, name


def test_incremental_early_exit(spark, sf_dir, tmp_path):
    out = str(tmp_path / "reports")
    written = pipeline.run_pipeline(
        spark,
        sf_dir,
        out,
        load_type="incremental",
        incremental_since="2100-01-01 00:00:00",
    )
    assert written == {}
    assert not os.path.exists(os.path.join(out, "abc_analysis"))


def test_run_summary_row_shape(spark, sf_dir):
    reports = pipeline.build_reports(spark, sf_dir)
    try:
        ts = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
        row = pipeline.run_summary_row(reports, ts).collect()
        assert len(row) == 1
        r = row[0]
        assert r["abc_a"] + r["abc_b"] + r["abc_c"] > 0
        assert r["total_inventory_value"] > 0
        assert r["run_timestamp"] == dt.datetime(2026, 1, 1)
    finally:
        # Cached report frames must not outlive the test: Spark's cache
        # manager substitutes cached sub-plans into any later query sharing
        # the lineage, which flips join strategies and breaks the hermetic
        # shuffle-budget assertions in test_plans.py.
        reports.release()


def test_bad_load_type_rejected(spark, sf_dir, tmp_path):
    with pytest.raises(ValueError, match="load_type"):
        pipeline.run_pipeline(spark, sf_dir, str(tmp_path), load_type="nope")


def test_build_reports_from_native_warehouse_frames(spark):
    """A reference user's own warehouse-schema tables drive the same 12
    reports (no TPC-H adapter in the loop)."""
    import datetime as dt

    from wsspark.pipeline import REPORT_NAMES, build_reports_from_frames

    now = dt.datetime(2026, 1, 1)
    mv = spark.createDataFrame(
        [
            (1, 1, 100, now - dt.timedelta(days=400), "IN", 11),
            (1, 1, -5, now - dt.timedelta(days=200), "OUT", 12),
            (2, 1, 50, now - dt.timedelta(days=10), "IN", 13),
            (2, 1, -20, now - dt.timedelta(days=5), "TRANSFER", 14),
            (2, 2, 20, now - dt.timedelta(days=5), "TRANSFER", 14),
        ],
        ["product_id", "warehouse_id", "quantity", "movement_date",
         "movement_type", "reference_id"],
    )
    stock = spark.createDataFrame(
        [(1, 1, 95), (2, 1, 30), (2, 2, 20)],
        ["product_id", "warehouse_id", "quantity_on_hand"],
    )
    so = spark.createDataFrame(
        [(1, 5, 10.0), (2, 20, 4.0)], ["product_id", "quantity", "unit_price"]
    )
    po = spark.createDataFrame(
        [(1, 100, 6.0), (2, 50, 2.0)], ["product_id", "quantity", "unit_price"]
    )
    reports = build_reports_from_frames(mv, stock, so, po, as_of=now)
    try:
        assert set(reports) == set(REPORT_NAMES)
        # Report keeps only dead rows (reference inventory_metrics.py:78);
        # product 1 last moved 200d ago, product 2 is active.
        dead = [r["product_id"] for r in reports["dead_stock_report"].collect()]
        assert dead == [1]
        tp = reports["transfer_patterns"].collect()
        assert len(tp) == 1 and tp[0]["from_warehouse_id"] == 1 \
            and tp[0]["to_warehouse_id"] == 2 and tp[0]["total_qty"] == 20
        summary = reports["inventory_summary"].collect()[0]
        assert summary["total_dead_stock_items"] == 1
    finally:
        reports.release()


def _codegen_cache(spark):
    """Spark's JVM-wide cache of compiled generated classes. It is private,
    so it is reached by reflection; the test empties it to start cold."""
    gw = spark.sparkContext._gateway
    jvm = gw.jvm
    owner = jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$"
    )
    getter = owner.getDeclaredMethod("cache", gw.new_array(jvm.java.lang.Class, 0))
    getter.setAccessible(True)
    return getter.invoke(
        owner.getField("MODULE$").get(None), gw.new_array(jvm.java.lang.Object, 0)
    )


def test_warm_incremental_run_reuses_compiled_code(spark, sf_dir, tmp_path):
    """The reference runs as a repeated incremental job. A cold run compiles
    ~150 generated classes; the session's codegen cache holds them all, so
    the next run in the same JVM recompiles almost none (Spark's default
    100-entry cache evicted and recompiled 138-146 of them every run)."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    _codegen_cache(spark).invalidateAll()
    out = str(tmp_path / "reports")
    compiles = []
    for _ in range(2):
        before = metrics.METRIC_COMPILATION_TIME().getCount()
        pipeline.run_pipeline(
            spark,
            sf_dir,
            out,
            load_type="incremental",
            incremental_since="2001-01-01 00:00:00",
        )
        compiles.append(metrics.METRIC_COMPILATION_TIME().getCount() - before)
    assert compiles[1] <= 0.1 * compiles[0], compiles
