"""The execution primitives (``wsspark.exec``): ``overlap`` result order,
waiting and failure semantics, the caller's job group reaching every
overlapped job, ``persisted``, ``rounds`` and ``scratch_dir`` scoping, the
iterative operators leaving O(1) checkpoints registered — plus source scans
that keep hand-rolled thread pools, caches, temp dirs and checkpoint loops
from coming back."""

from __future__ import annotations

import ast
import os
import pathlib
import re
import threading
import time

import pytest
from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wsspark import quality
from wsspark import snapstore as ss
from wsspark.exec import overlap, persisted, rounds, scratch_dir
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
