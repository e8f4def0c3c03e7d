"""The execution primitives (``wsspark.exec``): ``overlap`` result order,
waiting and failure semantics, the caller's job group reaching every
overlapped job, ``persisted`` scoping — plus a source scan that keeps
hand-rolled thread pools and caches from coming back."""

from __future__ import annotations

import pathlib
import re
import threading
import time

import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from wsspark import quality
from wsspark import snapstore as ss
from wsspark.exec import overlap, persisted

_WSSPARK = pathlib.Path(__file__).resolve().parent.parent / "wsspark"


def _sleep_then(seconds: float, value):
    def thunk():
        time.sleep(seconds)
        return value

    return thunk


def test_overlap_returns_results_in_argument_order(spark):
    # the later arguments finish first
    got = overlap(
        _sleep_then(0.3, "a"), _sleep_then(0.2, "b"), _sleep_then(0.0, "c")
    )
    assert got == ["a", "b", "c"]
    assert overlap(lambda: 1) == [1]
    assert overlap() == []


def test_overlap_runs_first_thunk_on_the_calling_thread(spark):
    threads = overlap(threading.get_ident, threading.get_ident)
    assert threads[0] == threading.get_ident()
    assert threads[1] != threading.get_ident()


def test_overlap_waits_for_all_and_raises_first_failure_in_argument_order(
    spark,
):
    done = threading.Event()

    def late_fail():
        time.sleep(0.2)
        raise KeyError("second")

    def early_fail():
        raise ValueError("third")

    def slow_ok():
        time.sleep(0.4)
        done.set()

    with pytest.raises(KeyError, match="second"):
        overlap(lambda: None, late_fail, early_fail, slow_ok)
    assert done.is_set()

    done.clear()

    def head_fail():
        raise RuntimeError("first")

    with pytest.raises(RuntimeError, match="first"):
        overlap(head_fail, early_fail, slow_ok)
    assert done.is_set()


def test_persisted_releases_on_every_exit(spark):
    df = spark.range(10)
    with persisted(df) as got:
        assert got is df
        assert df.is_cached
    assert not df.is_cached
    assert df.storageLevel == StorageLevel.NONE

    a, b = spark.range(5), spark.range(6)
    with pytest.raises(RuntimeError):
        with persisted(a, b) as got:
            assert got[0] is a and got[1] is b
            a.count()
            raise RuntimeError("boom")
    assert a.storageLevel == b.storageLevel == StorageLevel.NONE

    # an early release inside the scope is allowed; the exit is a no-op
    c = spark.range(7)
    with persisted(c):
        c.count()
        c.unpersist()
    assert not c.is_cached


def test_persisted_leaves_a_caller_cached_frame_alone(spark):
    mine = spark.range(20).persist()
    try:
        level = mine.storageLevel
        other = spark.range(30)
        with persisted(mine, other):
            assert other.is_cached
            mine.count()
        assert mine.is_cached and mine.storageLevel == level
        assert other.storageLevel == StorageLevel.NONE
    finally:
        mine.unpersist()


def _jobs_outside_group(spark, fn) -> set[int]:
    """Run ``fn`` under a job group; return the ids of the jobs it started
    that carry no group."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("exec-test", "overlapped jobs stay in the caller's group")
    try:
        fn()
    finally:
        for key in (
            "spark.jobGroup.id",
            "spark.job.description",
            "spark.job.interruptOnCancel",
        ):
            sc.setLocalProperty(key, None)
    assert tracker.getJobIdsForGroup("exec-test")
    return set(tracker.getJobIdsForGroup(None)) - before


def _drift_pair(spark):
    base = spark.range(0, 400).select(
        (F.col("id") % 37).cast("double").alias("q"),
        (F.col("id") % 5).cast("string").alias("w"),
    )
    cur = spark.range(100, 500).select(
        (F.col("id") % 41).cast("double").alias("q"),
        (F.col("id") % 6).cast("string").alias("w"),
    )
    return base, cur


def test_drift_jobs_stay_in_the_callers_job_group(spark):
    base, cur = _drift_pair(spark)
    assert not _jobs_outside_group(
        spark,
        lambda: quality.drift_suite(
            base, cur, numeric_cols=["q"], cat_cols=["w"]
        ).collect(),
    )
    assert not _jobs_outside_group(
        spark,
        lambda: quality.drift_report(
            base, cur, numeric_cols=["q"], cat_cols=["w"]
        ).collect(),
    )


def test_snapstore_dml_jobs_stay_in_the_callers_job_group(spark, tmp_path):
    root = str(tmp_path / "store")
    ss.snap_commit(
        spark.range(0, 40).select(F.col("id"), (F.col("id") * 2).alias("val")),
        root,
    )
    ss.snap_enable_cdf(root)
    source = spark.range(30, 50).select(
        F.col("id"), (F.col("id") * 3).alias("val")
    )
    # the key-bounds probe path (and the CDF rewrite overlap behind it)
    assert not _jobs_outside_group(
        spark, lambda: ss.snap_merge(spark, root, source, on=["id"])
    )
    assert not _jobs_outside_group(
        spark, lambda: ss.snap_delete_dv(spark, root, "id < 5")
    )
    assert sorted(r.id for r in ss.snap_read(spark, root).collect()) == list(
        range(5, 50)
    )


# ``pipeline.Reports`` hands its caches to the caller, who releases them
# with ``Reports.release`` — the one cache not scoped to a block.
_ALLOWED = {("pipeline.py", "cached.append(df.cache())")}


def test_no_thread_pool_or_cache_outside_exec():
    pattern = re.compile(r"ThreadPoolExecutor|\.persist\(|\.cache\(\)")
    found = []
    for path in sorted(_WSSPARK.rglob("*.py")):
        if path.name == "exec.py" and path.parent == _WSSPARK:
            continue
        for no, line in enumerate(path.read_text().splitlines(), 1):
            if pattern.search(line) and (path.name, line.strip()) not in _ALLOWED:
                found.append(f"{path.relative_to(_WSSPARK)}:{no}: {line.strip()}")
    assert not found, "use wsspark.exec.overlap / persisted:\n" + "\n".join(found)
