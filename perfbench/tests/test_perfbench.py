"""The benchmark's own tests, at a tiny size.

    python3 -m pytest perfbench/tests -q

- the same seed gives identical inputs, and different seeds different ones;
- the generated inputs have the stated properties;
- each correctness check rejects a deliberately corrupted output;
- a smoke run of every workload at its stated size, untraced and traced,
  completes and prints exactly the metric names of BENCHMARK.json;
- without the program next to it, the command fails without a result.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, workloads  # noqa: E402

TINY = 6_000


def _digest(path: str) -> str:
    return hashlib.sha256(pq.read_table(path).to_pandas().to_csv().encode()).hexdigest()


def _lineitem_digests(tmp_path, seed: int, tag: str) -> list[str]:
    d = tmp_path / tag
    gen.write_lineitem_tables(str(d), seed, TINY)
    return [_digest(str(d / f"{t}.parquet")) for t in ("lineitem", "part")]


def test_same_seed_same_inputs(tmp_path):
    assert _lineitem_digests(tmp_path, 7, "a") == _lineitem_digests(tmp_path, 7, "b")
    a = gen.movement_rows(np.random.default_rng([7, 3]), 0, TINY, 100, 5)
    b = gen.movement_rows(np.random.default_rng([7, 3]), 0, TINY, 100, 5)
    assert all(np.array_equal(a[k], b[k]) for k in a)


def test_different_seed_different_inputs(tmp_path):
    a, b = _lineitem_digests(tmp_path, 7, "a"), _lineitem_digests(tmp_path, 8, "b")
    assert a[0] != b[0] and a[1] != b[1]


def test_lineitem_properties(tmp_path):
    gen.write_lineitem_tables(str(tmp_path), 3, 60_000)
    f = pq.ParquetFile(str(tmp_path / "lineitem.parquet"))
    assert f.schema_arrow == gen.LINEITEM_SCHEMA.remove_metadata()
    assert f.metadata.num_row_groups == gen.ROW_GROUPS
    li = f.read().to_pandas()
    assert li["l_shipdate"].is_monotonic_increasing
    # Zipf: the top fifth of the products carries most of the lines
    counts = np.sort(li["l_partkey"].value_counts().to_numpy())[::-1]
    n_parts = round(60_000 * gen.PARTS_PER_ROW)
    assert counts[: n_parts // 5].sum() / counts.sum() > 0.7
    tail = (li["l_shipdate"] > np.datetime64(gen.INCREMENTAL_SINCE.replace(" ", "T"))).mean()
    assert 0.01 < tail < 0.05
    assert li["l_quantity"].between(1, 50).all()
    assert set(li["l_returnflag"]) == {"A", "N", "R"}


# --- correctness checks reject corrupted outputs ----------------------------


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("WSSPARK_DRIVER_MEM", "1g")
    from wsspark.session import get_session

    return get_session(app_name="perfbench-tests", master="local[2]", shuffle_partitions=2)


def _rewrite_report(out_dir: str, name: str, mutate) -> None:
    path = os.path.join(out_dir, name)
    df = pq.read_table(path).to_pandas()
    mutate(df)
    shutil.rmtree(path)
    os.makedirs(path)
    df.to_parquet(os.path.join(path, "part-0.parquet"), index=False)


@pytest.fixture(scope="module")
def etl_run(spark, tmp_path_factory):
    wl = workloads.EtlWorkload(5, n_rows=20_000)
    wl.generate(str(tmp_path_factory.mktemp("etl")))
    wl.first(spark)
    wl.drift_gate(spark)
    assert wl.check(spark) == []
    return wl


def _first_row(col, value):
    def mutate(df):
        df.loc[df.index[0], col] = value

    return mutate


@pytest.mark.parametrize(
    "report, mutate, needle",
    [
        ("abc_analysis", _first_row("revenue", 1.0), "abc_analysis.revenue"),
        ("transfer_patterns", _first_row("total_qty", -1.0), "transfer_patterns"),
        ("daily_trends", lambda df: df.drop(df.index[-1], inplace=True), "daily_trends"),
        ("warehouse_io_summary", _first_row("IN", 3), "warehouse_io_summary.IN"),
    ],
)
def test_etl_check_rejects_corruption(etl_run, report, mutate, needle):
    from perfbench import checks

    saved = os.path.join(etl_run.out_dir, report + ".saved")
    shutil.copytree(os.path.join(etl_run.out_dir, report), saved)
    try:
        _rewrite_report(etl_run.out_dir, report, mutate)
        errors = checks.check_etl_reports(etl_run.sf_dir, etl_run.out_dir, etl_run.since)
        assert any(e.startswith(needle) for e in errors), errors
    finally:
        shutil.rmtree(os.path.join(etl_run.out_dir, report))
        shutil.move(saved, os.path.join(etl_run.out_dir, report))


def test_drift_snapshot_properties(etl_run):
    base, cur = (pq.read_table(p).to_pandas() for p in etl_run.drift_paths)
    assert len(base) == len(cur) == workloads.DRIFT_ROWS
    extreme = (cur["quantity"].abs() == gen.DRIFT_OUTLIER_QTY).mean()
    assert 0.0 < extreme < 0.005 and (base["quantity"].abs() <= 50).all()
    top = cur["warehouse_id"].value_counts(normalize=True).iloc[0]
    assert top > gen.DRIFT_HOT_FRAC > base["warehouse_id"].value_counts(normalize=True).iloc[0]


def test_drift_check_rejects_a_wrong_ks_statistic(etl_run):
    from perfbench import checks

    rows = [r.asDict() for r in etl_run.drift_rows]
    ks = next(r for r in rows if r["family"] == "ks")
    ks["statistic"] += 1e-3
    errors = checks.check_drift(*etl_run.drift_paths, rows)
    assert any(e.startswith(f"drift.ks.{ks['column']}: statistic") for e in errors), errors


@pytest.fixture(scope="module")
def dml_run(spark, tmp_path_factory):
    wl = workloads.DmlWorkload(5, n_rows=20_000)
    wl.generate(str(tmp_path_factory.mktemp("dml")))
    wl.first(spark)
    wl.unit(spark)
    assert wl.check(spark) == []
    return wl


def test_dml_check_rejects_a_write_missing_from_the_log(spark, dml_run):
    from wsspark import snapstore as ss

    live = int(np.flatnonzero(dml_run.alive)[0])
    ss.snap_update_where(
        spark, dml_run.fact_root, f"movement_id = {live}", {"quantity": "quantity + 1000"}
    )
    errors = dml_run.check(spark)
    assert any(e.startswith("fact.quantity") for e in errors), errors
    # the MV was not refreshed after that write, so it is stale too
    assert any(e.startswith("mv.") for e in errors), errors


def test_dml_check_rejects_a_corrupted_stock_table(spark, dml_run):
    from pyspark.sql import functions as F

    from wsspark import snapstore as ss

    stock = ss.snap_read(spark, dml_run.stock_root)
    bad = stock.withColumn("quantity_on_hand", F.col("quantity_on_hand") + 1)
    ss.snap_commit(bad.localCheckpoint(), dml_run.stock_root, mode="overwrite")
    errors = dml_run.check(spark)
    assert any(e.startswith("stock.quantity_on_hand") for e in errors), errors


# --- command-line runs --------------------------------------------------------


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(cwd: str, *args: str, env: dict | None = None) -> tuple[int, str, str, int]:
    """(exit code, stdout, stderr, pid) of one benchmark command."""
    proc = subprocess.Popen(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, env=env,
    )
    out, err = proc.communicate(timeout=600)
    return proc.returncode, out, err, proc.pid


@pytest.mark.parametrize("trace", ["0", "1"])
@pytest.mark.parametrize("workload", [w["name"] for w in _spec()["workloads"]])
def test_smoke_run_prints_the_listed_metrics(workload, trace):
    code, stdout, stderr, pid = _run(
        ROOT, "--workload", workload, "--seed", "3", "--seconds", "1",
        "--trace", trace,
    )
    assert code == 0, stderr[-3000:]
    out = json.loads(stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    listed = _spec()["per_layer" if trace == "1" else "end_to_end"]
    assert list(out["metrics"]) == [m["name"] for m in listed]
    for m in listed:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and isinstance(got["value"], (int, float))
    # inputs, stores and the event log are gone
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_tmp", f"{workload}-{pid}"))


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    code, stdout, _, _ = _run(
        str(tmp_path), "--workload", "table_dml", "--seed", "1", "--seconds", "1",
        "--trace", "0", env=env,
    )
    assert code != 0
    assert '"metrics"' not in stdout
