"""The execution primitives (``wsspark.exec``): ``overlap`` result order,
waiting and failure semantics, the caller's job group reaching every
overlapped job, ``persisted``, ``rounds`` and ``scratch_dir`` scoping, the
iterative operators leaving O(1) checkpoints registered, ``local_frame``
building the list path's frame as a local relation — plus source scans
that keep hand-rolled thread pools, caches, temp dirs, checkpoint loops and
list-built frames from coming back."""

from __future__ import annotations

import ast
import datetime as dt
import decimal
import os
import pathlib
import re
import threading
import time

import pytest
from pyspark import StorageLevel
from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from wsspark import quality
from wsspark import snapstore as ss
from wsspark.exec import local_frame, overlap, persisted, rounds, scratch_dir
from wsspark.llmops import dedup, similarity
from wsspark.ops import graph

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


_MATRIX = T.StructType(
    [
        T.StructField("s", T.StringType()),
        T.StructField("i", T.IntegerType()),
        T.StructField("l", T.LongType(), nullable=False),
        T.StructField("d", T.DoubleType()),
        T.StructField("dec", T.DecimalType(10, 2)),
        T.StructField("ts", T.TimestampType()),
        T.StructField("ntz", T.TimestampNTZType()),
        T.StructField("day", T.DateType()),
        T.StructField("b", T.BooleanType()),
        T.StructField("arr", T.ArrayType(T.LongType())),
        T.StructField(
            "st",
            T.StructType(
                [
                    T.StructField("x", T.LongType()),
                    T.StructField("t", T.TimestampType()),
                ]
            ),
        ),
        T.StructField("m", T.MapType(T.StringType(), T.DoubleType())),
    ]
)
_MATRIX_ROWS = [
    (
        "a", 1, 2, 1.5, decimal.Decimal("3.14"),
        dt.datetime(2024, 3, 10, 2, 30, 0, 123456), dt.datetime(2024, 1, 1, 5),
        dt.date(2024, 2, 29), True, [1, 2], (5, dt.datetime(2020, 1, 1)),
        {"k": 1.0},
    ),
    # a decimal past its scale rounds half-up on both paths
    (
        "", -7, 3, -0.0, decimal.Decimal("-2.345"),
        dt.datetime(2024, 11, 3, 1, 30, tzinfo=dt.timezone.utc),
        dt.datetime(1969, 12, 31, 23, 59, 59), dt.date(1969, 12, 31), False,
        [], (None, None), {},
    ),
    (None, None, 4, None, None, None, None, None, None, None, None, None),
    Row(
        s="row", i=2**31 - 1, l=-(2**63), d=float("inf"),
        dec=decimal.Decimal("0.10"), ts=dt.datetime(1900, 1, 1),
        ntz=None, day=dt.date(9999, 12, 31), b=None, arr=[None, 3],
        st=None, m={"x": None},
    ),
    {"s": "dict", "l": 9},
]


def _same_as_list_path(spark, rows, schema):
    want = spark.createDataFrame(rows, schema)
    got = local_frame(spark, rows, schema)
    assert got.schema == want.schema
    assert repr(got.collect()) == repr(want.collect())
    return got, want


@pytest.mark.parametrize(
    "rows",
    [_MATRIX_ROWS, [(None,) * 2 + (1,) + (None,) * 9] * 2, []],
    ids=["values", "all-null", "empty"],
)
def test_local_frame_matches_the_list_path(spark, rows):
    got, _ = _same_as_list_path(spark, rows, _MATRIX)
    assert got.count() == len(rows)
    assert not got.schema["l"].nullable
    _same_as_list_path(spark, [(1, 2, 0.5)], "i int, j int, cov double")


def test_local_frame_naive_timestamps_follow_the_process_zone(
    spark, monkeypatch
):
    """A naive datetime is read in the Python process's local zone on
    both paths, whatever the session zone: the Spark-side micros agree."""
    rows = [
        (dt.datetime(2024, 3, 10, 2, 30), dt.datetime(2024, 3, 10, 2, 30)),
        (dt.datetime(2024, 7, 1, 12, 0, 0, 5), None),
    ]
    schema = "ts timestamp, ntz timestamp_ntz"
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        got, want = _same_as_list_path(spark, rows, schema)
        micros = [F.unix_micros("ts"), F.col("ntz").cast("string")]
        assert got.select(micros).collect() == want.select(micros).collect()
        # 12:00 EDT is 16:00 UTC
        assert got.select(F.unix_micros("ts")).collect()[1][0] == 1719849600000005
    finally:
        monkeypatch.undo()
        time.tzset()


def _executed_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_local_frame_is_a_local_table_scan(spark, tmp_path):
    plan = _executed_plan(local_frame(spark, [(1, "a")], "k long, v string"))
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan
    empty = _executed_plan(local_frame(spark, [], "k long, v string"))
    assert "LocalTableScan" in empty and "ExistingRDD" not in empty
    # the (path -> commit version) map of the change feed
    root = str(tmp_path / "cdf")
    ss.snap_commit(spark.range(0, 20), root)
    since = ss.snap_enable_cdf(root)
    ss.snap_commit(spark.range(20, 30), root)
    ss.snap_update_where(spark, root, "id < 3", {"id": "id + 100"})
    feed = ss.snap_read_changes_cdf(spark, root, since)
    plan = _executed_plan(feed)
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan
    assert feed.count() == 16


def _registered(spark, frames) -> int:
    """How many of ``frames`` (local checkpoints) are still registered."""
    ids = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    return sum(
        f._jdf.queryExecution().analyzed().rdd().id() in ids for f in frames
    )


@pytest.fixture
def checkpoints(spark, monkeypatch):
    """Every frame ``localCheckpoint`` returns while the test runs. Holding
    them keeps a JVM GC from dropping a leaked round behind the test's
    back."""
    made: list[DataFrame] = []
    frame_type = type(spark.range(0))
    original = frame_type.localCheckpoint

    def recording(self, *args, **kwargs):
        made.append(original(self, *args, **kwargs))
        return made[-1]

    monkeypatch.setattr(frame_type, "localCheckpoint", recording)
    return made


def test_rounds_keep_the_previous_round_for_the_convergence_check(spark):
    made = []
    with rounds() as barrier:
        prev = barrier(spark.range(4).select("id", F.col("id").alias("v")))
        made.append(prev)
        for _ in range(3):
            new = barrier(prev.select("id", (F.col("v") + 1).alias("v")))
            made.append(new)
            # the check reads the round before the newest one
            diff = new.alias("n").join(prev.alias("o"), "id")
            assert diff.filter("n.v != o.v + 1").count() == 0
            prev = new
        out = prev.select("id", (F.col("v") * 10).alias("v"))
    assert sorted(r.v for r in out.collect()) == [30, 40, 50, 60]
    assert _registered(spark, made) == 1
    with pytest.raises(Exception, match="CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"):
        made[0].collect()


def test_rounds_release_every_round_on_a_raising_exit(spark):
    made = []
    with pytest.raises(RuntimeError, match="boom"):
        with rounds() as barrier:
            made.append(barrier(spark.range(3)))
            made.append(barrier(spark.range(5)))
            raise RuntimeError("boom")
    assert _registered(spark, made) == 0


def test_scratch_dir_is_removed_on_every_exit():
    with scratch_dir("exec-test-") as d:
        os.mkdir(os.path.join(d, "sub"))
        open(os.path.join(d, "sub", "f"), "w").close()
        assert os.path.basename(d).startswith("exec-test-")
    assert not os.path.exists(d)
    with pytest.raises(KeyError):
        with scratch_dir("exec-test-") as d:
            raise KeyError("x")
    assert not os.path.exists(d)


def _chain(spark, n, cols="src long, dst long"):
    return spark.createDataFrame([(i, i + 1) for i in range(n)], cols)


def test_connected_components_leaves_one_round(spark, checkpoints):
    pairs = _chain(spark, 12, "doc_a long, doc_b long")
    got = dedup.connected_components(pairs, driver_threshold=0)
    assert {r.cluster_id for r in got.collect()} == {0}
    assert _registered(spark, checkpoints) == 1


def test_connected_components_exhausted_releases_every_round(
    spark, checkpoints
):
    pairs = _chain(spark, 40, "doc_a long, doc_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(pairs, max_iter=1, driver_threshold=0)
    assert checkpoints and _registered(spark, checkpoints) == 0


def _left_after(spark, checkpoints, run, sizes) -> list[int]:
    """The checkpoints still registered after ``run(n).collect()``, per
    ``n`` in ``sizes``."""
    left = []
    for n in sizes:
        checkpoints.clear()
        run(n).collect()
        left.append(_registered(spark, checkpoints))
    return left


def test_pagerank_checkpoints_do_not_grow_with_iterations(spark, checkpoints):
    edges = _chain(spark, 3).withColumn("w", F.lit(1.0))
    short, long = _left_after(
        spark,
        checkpoints,
        lambda n: graph.pagerank(edges, n_iter=n, checkpoint_interval=1),
        (2, 6),
    )
    assert short == long


def test_shortest_paths_checkpoints_do_not_grow_with_depth(spark, checkpoints):
    short, long = _left_after(
        spark,
        checkpoints,
        lambda n: graph.shortest_paths(
            _chain(spark, n), 0, max_iter=n + 2, checkpoint_interval=2
        ),
        (4, 10),
    )
    assert short == long


def test_kmeans_checkpoints_do_not_grow_with_iterations(spark, checkpoints):
    emb = spark.createDataFrame(
        [(i, [float(i % 5), float(i // 5)]) for i in range(20)],
        ["vec_id", "embedding"],
    )
    short, long = _left_after(
        spark,
        checkpoints,
        lambda n: similarity.kmeans_embeddings(emb, k=3, n_iter=n),
        (2, 6),
    )
    assert short == long


# ``pipeline.Reports`` hands its caches to the caller, who releases them
# with ``Reports.release`` — the one cache not scoped to a block.
_ALLOWED = {("pipeline.py", "cached.append(df.cache())")}


def _library_sources():
    for path in sorted(_WSSPARK.rglob("*.py")):
        if not (path.name == "exec.py" and path.parent == _WSSPARK):
            yield path


def test_no_thread_pool_or_cache_outside_exec():
    pattern = re.compile(
        r"ThreadPoolExecutor|\.persist\(|\.cache\(\)|mkdtemp\(|\batexit\b"
    )
    found = []
    for path in _library_sources():
        for no, line in enumerate(path.read_text().splitlines(), 1):
            if pattern.search(line) and (path.name, line.strip()) not in _ALLOWED:
                found.append(f"{path.relative_to(_WSSPARK)}:{no}: {line.strip()}")
    assert not found, (
        "use wsspark.exec.overlap / persisted / scratch_dir:\n" + "\n".join(found)
    )


def test_no_create_dataframe_outside_exec():
    """A frame built from a Python list runs a Python-worker job; the
    library builds its driver-side frames with ``exec.local_frame``."""
    found = [
        f"{path.relative_to(_WSSPARK)}:{no}: {line.strip()}"
        for path in _library_sources()
        for no, line in enumerate(path.read_text().splitlines(), 1)
        if "createDataFrame(" in line
    ]
    assert not found, "use wsspark.exec.local_frame:\n" + "\n".join(found)


def test_no_checkpoint_in_a_loop_outside_exec():
    """A one-shot ``localCheckpoint`` barrier is fine; one in a loop body
    makes a round per iteration and belongs in ``exec.rounds``."""
    found = []
    for path in _library_sources():
        for loop in ast.walk(ast.parse(path.read_text())):
            if not isinstance(loop, (ast.For, ast.While)):
                continue
            for node in ast.walk(loop):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "localCheckpoint"
                ):
                    found.append(f"{path.relative_to(_WSSPARK)}:{node.lineno}")
    assert not found, "use wsspark.exec.rounds:\n" + "\n".join(found)


# Library behaviour is set by arguments and module constants, not by the
# process environment or a contextvar that a thread may not inherit.
# Allowed: ``session.py`` reads deployment settings (cores, driver
# memory, UI); ``narrative.py`` reads an API credential.
_ENV_ALLOWED = {
    "session.py": "",
    "report/narrative.py": "OPENAI_API_KEY",
}


def test_no_env_read_or_contextvar_in_the_library():
    pattern = re.compile(r"\b(environ|getenv|contextvars)\b")
    found = []
    for path in sorted(_WSSPARK.rglob("*.py")):
        rel = path.relative_to(_WSSPARK).as_posix()
        for no, line in enumerate(path.read_text().splitlines(), 1):
            if not pattern.search(line):
                continue
            allowed = _ENV_ALLOWED.get(rel)
            if allowed is None or allowed not in line:
                found.append(f"{rel}:{no}: {line.strip()}")
    assert not found, "pass a parameter or use a module constant:\n" + "\n".join(
        found
    )
