"""Execution primitives shared by every module that runs Spark jobs.

``overlap`` runs independent driver-side job chains concurrently. Spark
schedules the jobs of one application concurrently only when the driver
submits them from different threads, and in PySpark's pinned-thread mode a
plain new thread starts with none of the caller's local properties (job
group, job description, scheduler pool) or job tags — so a job it starts
could not be cancelled through the caller's group nor attributed to the
caller's span. ``overlap`` carries them into every thread it uses.

``persisted`` scopes a cache to a ``with`` block: the frames are released
on every exit, raising ones included.

``rounds`` scopes the checkpoints of an iterative operator. Each
``barrier(df)`` is an eager local checkpoint, one round. A local checkpoint
is not a cache: ``df.unpersist()`` does not release it, and until a JVM GC
lets Spark's ContextCleaner drop it every round stays in the block store,
so the memory held grows with the round count. ``rounds`` releases rounds
itself, by unpersisting the checkpointed RDD under the frame's analyzed
plan (a private API, used nowhere else). Those blocks are the only copy of
a round: its lineage is cut, so a released round can no longer be read
(``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``). Round *k* is computed from round
*k-1*'s blocks until it has materialized, and the loop's convergence check
then compares the two. So round *k-1* may go only after round *k* has
materialized and that check has run: ``barrier`` keeps the two newest
rounds and releases every older one, because the next round it is handed
reads only the newest. A raising exit releases every round; a normal exit
keeps the newest, which the returned frame reads.

``scratch_dir`` scopes a temporary directory to a ``with`` block. A query
that needs several directories takes subdirectories of one.

``local_frame`` builds a small driver-side frame (a lookup map, a report
row, an empty frame of a stored schema) as a JVM local relation. Given a
Python list, ``createDataFrame`` parallelizes the rows as an RDD, and the
frame then runs a Python-worker job when it executes, with one task per
core: 250-360 ms for 6 rows and 170-235 ms for an empty list at
``local[4]``, 480-585 / 380-435 ms at ``local[8]`` (4-vCPU VM). Handed an
Arrow table instead, Spark plans a ``LocalTableScan`` that runs in the
JVM: 13-22 ms (8-17 ms empty). The rows are converted with the schema's
own type verifier and ``toInternal``, as the list path does, so the values
are the same: naive datetimes are read in the Python process's local time
zone, and decimals, dates and nested types are carried as Spark's
internal values.
"""

from __future__ import annotations

import decimal
import shutil
import tempfile
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from typing import Any, Callable, Iterable, Iterator

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DecimalType, StructType


def _inheriting(thunk: Callable[[], Any]) -> Callable[[], Any]:
    """``thunk`` wrapped to run with the calling thread's local properties
    and tags. Must be called on the calling thread: the wrapper copies
    them when it is made, not when it runs."""
    # active() falls back to the default session in a thread that has no
    # active one of its own, such as a thread of an enclosing overlap
    session = SparkSession.active()
    wrap = inheritable_thread_target(session)
    # without pinned threads PySpark hands the session back: there is no
    # per-thread JVM state to carry then
    return thunk if wrap is session else wrap(thunk)


def overlap(*thunks: Callable[[], Any]) -> list:
    """Run zero-argument callables concurrently and return their results
    in argument order. The first runs on the calling thread, the others on
    one pool thread each. Every callable finishes before this returns; if
    any raised, the exception of the first failing one in argument order
    is raised."""
    if len(thunks) < 2:
        return [t() for t in thunks]
    pooled = [_inheriting(t) for t in thunks[1:]]
    with ThreadPoolExecutor(max_workers=len(pooled)) as pool:
        futures = [pool.submit(t) for t in pooled]
        head = thunks[0]()
    return [head] + [f.result() for f in futures]


@contextmanager
def persisted(*dfs: DataFrame) -> Iterator[Any]:
    """Persist ``dfs`` (default storage level) for the ``with`` block and
    unpersist them when it exits, however it exits. Yields the frame, or
    the tuple of frames when given several. A frame the caller had already
    cached is left alone: neither persisted nor released here. The block
    may release a frame early with ``unpersist()``; the exit call is then a
    no-op."""
    owned = []
    try:
        for df in dfs:
            if not df.is_cached:
                df.persist()
                owned.append(df)
        yield dfs[0] if len(dfs) == 1 else dfs
    finally:
        for df in owned:
            df.unpersist()


def _release_checkpoint(df: DataFrame) -> None:
    """Drop the blocks of a local checkpoint made by ``localCheckpoint``;
    reading ``df`` afterwards fails."""
    df._jdf.queryExecution().analyzed().rdd().unpersist(False)


@contextmanager
def rounds() -> Iterator[Callable[[DataFrame], DataFrame]]:
    """Yield ``barrier(df)``, which returns ``df`` eagerly local-checkpointed
    as the next round. Once the next round has materialized, the round
    before the previous one is released; on a raising exit every round is,
    on a normal exit every round but the newest."""
    made: list[DataFrame] = []

    def barrier(df: DataFrame) -> DataFrame:
        made.append(df.localCheckpoint())
        while len(made) > 2:
            _release_checkpoint(made.pop(0))
        return made[-1]

    try:
        yield barrier
    except BaseException:
        for df in made:
            _release_checkpoint(df)
        raise
    for df in made[:-1]:
        _release_checkpoint(df)


@contextmanager
def scratch_dir(prefix: str) -> Iterator[str]:
    """Yield a new temporary directory, removed with everything in it when
    the block exits, however it exits."""
    path = tempfile.mkdtemp(prefix=prefix)
    try:
        yield path
    finally:
        shutil.rmtree(path, ignore_errors=True)


def local_frame(
    spark: SparkSession, rows: Iterable, schema: StructType | str
) -> DataFrame:
    """``spark.createDataFrame(rows, schema)`` with the same schema and
    values, built as a local relation. ``schema`` is a ``StructType`` or a
    DDL string; each row is a tuple, list, dict or ``Row``, verified
    against it. Meant for driver-sized row counts: the rows are held in
    the driver and shipped in the plan. A decimal nested in an array, map
    or struct must fit its scale: Arrow refuses to round it."""
    # pyarrow is imported here, not at module import: most processes that
    # import wsspark never build a local frame
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import (
        _create_converter,
        _make_type_verifier,
        _parse_datatype_string,
    )

    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    verify = _make_type_verifier(schema)
    to_tuple = _create_converter(schema)
    internal = []
    for row in rows:
        verify(row)
        internal.append(schema.toInternal(to_tuple(row)))
    arrow = to_arrow_schema(schema)
    # internal values are what Arrow stores: epoch microseconds for
    # timestamps (UTC-stamped for TimestampType, so Spark does not shift
    # them again), epoch days for dates
    columns = [list(c) for c in zip(*internal)] or [[] for _ in arrow]
    for i, field in enumerate(schema.fields):
        if isinstance(field.dataType, DecimalType):
            columns[i] = _rounded(columns[i], field.dataType.scale)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)


def _rounded(values: list, scale: int) -> list:
    """Decimals rounded half-up to ``scale``, as the JVM rounds a Python
    decimal on the list path (Arrow refuses a lossy rescale instead)."""
    quantum = decimal.Decimal(1).scaleb(-scale)
    ctx = decimal.Context(prec=decimal.MAX_PREC)
    return [
        None if v is None else v.quantize(quantum, decimal.ROUND_HALF_UP, ctx)
        for v in values
    ]
