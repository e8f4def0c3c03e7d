"""``format("snapstore")`` — the snapshot store as a first-class Spark
data source via the Python Data Source API (``pyspark.sql.datasource``,
Spark 4), so the table format plugs into the reader surfaces users
already hold instead of requiring the ``snap_read*`` helpers:

- **batch**: ``spark.read.format("snapstore").load(root)`` reads CURRENT
  (or ``.option("version", n)`` for time travel) — and because the API
  hands pushed filters to the reader, manifest data skipping happens
  INSIDE Catalyst: an ``EqualTo``/``In`` prunes files through the
  per-file Bloom bitmaps + min/max stats, a range predicate through
  min/max, before a single partition is planned. Every filter is
  returned to Spark as unhandled (pruning is a superset optimization;
  Spark re-applies the exact predicate), so a false positive costs a
  scanned file, never a wrong row — the same soundness contract as
  ``snap_read_where_eq``/``snap_read_between``.
- **streaming**: ``spark.readStream.format("snapstore").load(root)``
  turns the manifest lineage into an exactly-once incremental source:
  offsets ARE versions, each micro-batch is the manifest file-list
  delta (only NEW files are ever planned — resident data is not re-read,
  not even to filter), and restart replays deterministically from the
  checkpointed version because manifests are immutable. An overwrite
  inside a consumed range is refused mid-stream (the delta is not an
  append set — same honesty as ``snap_read_changes``); start from the
  beginning (initial snapshot + appends) with the default, or from a
  cursor with ``.option("sinceVersion", n)``.

- **writing**: ``df.write.format("snapstore").mode(...).save(root)``
  runs the distributed two-phase commit the helper API performs on the
  driver: tasks stream Arrow batches into staged parquet files and
  return (path, rows, bytes, min/max) commit messages; the driver
  publishes the manifest atomically via the same resolve/publish phases
  as ``snap_commit`` — stats ride for free (no second job, no footer
  re-reads), aborts never publish, races lose cleanly.
  ``df.writeStream.format("snapstore")`` is the exactly-once streaming
  sink: commits tagged with the micro-batch id; replays delete their
  re-staged files and no-op (the ``snap_sink`` contract through the
  public writer API).

Scale shape: offset/planning work is O(files) driver-side manifest
dict-diffing (no listing, no footer reads); file bytes are read by
executors as Arrow record batches, one partition per file. The Python
read path trades the JVM parquet scanner for API integration — for
raw-throughput batch scans ``snap_read`` (native reader) remains the
fast path and is documented as such; the streaming source has no native
equivalent and is the real win here.

Vacuum contract for streams: a live stream's checkpointed version must
stay retained (``snap_vacuum(keep_last=...)`` covering the cursor) —
manifests older than the cursor may be vacuumed freely.
"""

from __future__ import annotations

import json
from typing import Iterator, Sequence

import os
import uuid
from dataclasses import dataclass, field

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    EqualNullSafe,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)

from wsspark import snapstore as ss


def _parse_ts(raw: str) -> float:
    """timestampAsOf literal -> epoch seconds: a float string, else an
    ISO datetime (naive = local time, matching datetime.timestamp()).
    An 8-digit string is the compact ISO date ('20240105'), not epoch
    seconds — real epoch values are 9+ digits this century."""
    import datetime
    import re as _re

    if _re.fullmatch(r"\d{8}", raw):
        return datetime.datetime.fromisoformat(raw).timestamp()
    try:
        return float(raw)
    except ValueError:
        return datetime.datetime.fromisoformat(raw).timestamp()


class SnapFilePartition(InputPartition):
    """One manifest file per partition; carries the target schema so the
    worker can align evolved files (missing columns -> NULL) and the
    file's positional-delete row indices (deletion vectors) so the
    worker masks deleted rows — the Iceberg positional-delete reader
    shape: the driver plans which rows are dead, workers never see
    them."""

    def __init__(
        self, file: str, schema_json: str, deleted: list[int] | None = None
    ) -> None:
        self.file = file
        self.schema_json = schema_json
        self.deleted = deleted or []


def _load_dv_map(manifest: dict) -> dict[str, list[int]]:
    """Deletion-vector sidecars -> {normalized file path: sorted dead row
    indices}. Driver-side, delete-count-sized."""
    dv_paths = manifest.get("dv_files") or []
    if not dv_paths:
        return {}
    import os as _os

    import pyarrow.parquet as pq

    # origins whose recorded paths dangle under this manifest (store
    # moved away) rebase; origins still anchoring live files (shallow
    # clones) stay — the same classification the batch read uses
    rmap = ss._dv_rebase_map(manifest)
    out: dict[str, list[int]] = {}
    for p in dv_paths:
        t = pq.read_table(p)
        for f_, i_, origin in zip(
            t.column("file").to_pylist(),
            t.column("idx").to_pylist(),
            t.column("root").to_pylist(),
        ):
            # full URI normalization (scheme strip + percent-decode) so
            # encoded paths (spaces etc.) still mask their deleted rows
            k = ss._norm_dv_path(f_)
            target = rmap.get(origin)
            if target is not None and k.startswith(origin + _os.sep):
                k = target + k[len(origin):]
            out.setdefault(k, []).append(i_)
    return {k: sorted(v) for k, v in out.items()}


def _read_file_as_batches(
    file: str, schema_json: str, deleted: list[int] | None = None
) -> Iterator:
    """Worker-side parquet read aligned to the manifest schema: columns
    cast to the manifest's Arrow types, columns the file predates filled
    with NULL (add-column evolution), order normalized. Streams via
    ``iter_batches`` so a task's memory is one record batch, not the
    whole file — a store compacted to 256 MB files must not need
    file-sized executor headroom on this path."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    target = to_arrow_schema(T.StructType.fromJson(json.loads(schema_json)))
    pf = pq.ParquetFile(file)
    present = [n for n in target.names if n in pf.schema_arrow.names]
    dead = set(deleted or [])
    offset = 0
    for batch in pf.iter_batches(batch_size=1 << 16, columns=present):
        n = batch.num_rows
        if dead:
            # positional deletes: iter_batches preserves the file's
            # physical row order, so batch-local index = global - offset
            local = [i - offset for i in dead if offset <= i < offset + n]
            if local:
                keep = [True] * n
                for i in local:
                    keep[i] = False
                batch = batch.filter(pa.array(keep))
        offset += n
        columns = []
        for fld in target:
            if fld.name in batch.schema.names:
                col = batch.column(batch.schema.names.index(fld.name))
                if col.type != fld.type:
                    col = col.cast(fld.type)
                columns.append(col)
            else:
                columns.append(pa.nulls(batch.num_rows, fld.type))
        yield pa.RecordBatch.from_arrays(columns, schema=target)


def _prune(manifest: dict, filters: list) -> list[str]:
    """Driver-side file pruning from pushed filters, through the
    snapstore planner: equality/IN become IN atoms (min/max + Bloom),
    comparisons become half-open ranges with strict bounds widened to
    inclusive. Unknown filter shapes and stat-less files prune nothing
    (superset contract: Spark re-applies every filter exactly)."""
    atoms = []
    for flt in filters:
        col = ".".join(flt.attribute) if hasattr(flt, "attribute") else None
        if isinstance(flt, (EqualTo, EqualNullSafe)):
            atoms.append((col, [flt.value]))
        elif isinstance(flt, In):
            atoms.append((col, list(flt.value)))
        elif isinstance(flt, (GreaterThan, GreaterThanOrEqual)):
            atoms.append((col, flt.value, None))
        elif isinstance(flt, (LessThan, LessThanOrEqual)):
            atoms.append((col, None, flt.value))
    return ss._plan_files(manifest, atoms)


class SnapstoreBatchReader(DataSourceReader):
    def __init__(self, root: str, version: int | None) -> None:
        v = version if version is not None else ss.snap_current_version(root)
        if v is None:
            raise FileNotFoundError(f"no committed version in {root}")
        self._manifest = ss._read_manifest(root, v)
        self._filters: list[Filter] = []

    def pushFilters(self, filters: list[Filter]) -> Sequence[Filter]:
        self._filters = list(filters)
        return filters  # all unhandled: skipping is a superset, Spark re-filters

    def partitions(self) -> Sequence[InputPartition]:
        files = _prune(self._manifest, self._filters)
        dv_map = _load_dv_map(self._manifest)
        return [
            SnapFilePartition(f, self._manifest["schema"], dv_map.get(f))
            for f in files
        ]

    def read(self, partition: SnapFilePartition) -> Iterator:
        return _read_file_as_batches(
            partition.file, partition.schema_json, partition.deleted
        )


class SnapstoreStreamReader(DataSourceStreamReader):
    """Offsets are manifest versions ({"version": N} = delivered through
    N; -1 = nothing yet). Deterministic replay: the (start, end] delta
    is a pure function of immutable manifests, so a restarted query
    re-plans the identical micro-batch from its checkpointed offset."""

    def __init__(self, root: str, since: int | None) -> None:
        self._root = root
        self._since = -1 if since is None else since
        # The query's schema is FIXED at stream start; pin the manifest
        # schema here so files landing after a mid-stream add-column
        # evolution stay aligned to it (extra columns ignored until the
        # stream restarts and re-reads the evolved schema).
        cur = ss.snap_current_version(root)
        if cur is None:
            raise FileNotFoundError(f"no committed version in {root}")
        self._schema_json = ss._read_manifest(root, cur)["schema"]

    def initialOffset(self) -> dict:
        return {"version": self._since}

    def latestOffset(self) -> dict:
        cur = ss.snap_current_version(self._root)
        return {"version": self._since if cur is None else max(cur, self._since)}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        lo, hi = int(start["version"]), int(end["version"])
        if hi <= lo:
            return []
        m = ss._read_manifest(self._root, hi)
        if lo < 0:
            new_files = m["files"]  # initial snapshot
        else:
            for v in range(lo + 1, hi + 1):
                if ss._read_manifest(self._root, v)["mode"] != "append":
                    raise ValueError(
                        f"snapstore stream over {self._root}: version {v} is "
                        "an overwrite — the delta is not an append set; "
                        "restart the stream from a fresh checkpoint (initial "
                        "snapshot) to pick up the rewritten table"
                    )
            base = set(ss._read_manifest(self._root, lo)["files"])
            new_files = [f for f in m["files"] if f not in base]
        return [SnapFilePartition(f, self._schema_json) for f in new_files]

    def read(self, partition: SnapFilePartition) -> Iterator:
        return _read_file_as_batches(partition.file, partition.schema_json)

    def commit(self, end: dict) -> None:
        pass  # the checkpoint owns the cursor; manifests are immutable


class CdfFilePartition(InputPartition):
    """One change-feed file per partition: either a data file whose rows
    all share one ``change_type`` (an append's insert delta, or the
    initial snapshot), or a DML commit's cdf sidecar (``change_type``
    None — the rows carry their own ``_change_type`` column)."""

    def __init__(
        self,
        file: str,
        schema_json: str,
        commit_version: int,
        change_type: str | None,
        deleted: list[int] | None = None,
    ) -> None:
        self.file = file
        self.schema_json = schema_json
        self.commit_version = commit_version
        self.change_type = change_type
        self.deleted = deleted or []


def _plan_cdf_partitions(
    root: str, lo: int, hi: int, schema_json: str, cdf_schema_json: str
) -> list[CdfFilePartition]:
    """Span planner shared by the CDF stream and batch readers: one
    partition per change file for versions in (lo, hi] (lo < 0 = the
    DV-applied snapshot at hi as inserts), refusing lineage resets and
    pre-enable DML — the same contract as snap_read_changes_cdf."""
    if hi <= lo:
        return []
    parts: list[CdfFilePartition] = []
    if lo < 0:
        m = ss._read_manifest(root, hi)
        dv = _load_dv_map(m)
        for f in m["files"]:
            parts.append(
                CdfFilePartition(f, schema_json, hi, "insert", dv.get(f))
            )
        return parts
    prev_files = set(ss._read_manifest(root, lo)["files"])
    for v in range(lo + 1, hi + 1):
        m = ss._read_manifest(root, v)
        files = set(m["files"])
        if m["mode"] == "append":
            for f in sorted(files - prev_files):
                parts.append(CdfFilePartition(f, schema_json, v, "insert"))
        elif m["mode"] == "merge":
            if not m.get("cdf"):
                raise ValueError(
                    f"snapstore change feed: version {v} is a DML commit "
                    "recorded before snap_enable_cdf — no sidecar exists; "
                    "start the cursor after the enable version"
                )
            for f in m.get("cdf_files") or []:
                parts.append(CdfFilePartition(f, cdf_schema_json, v, None))
        elif m["mode"] == "overwrite" and m.get("content_preserving"):
            pass  # compact/optimize: zero logical change
        else:
            raise ValueError(
                f"snapstore change feed: version {v} is a lineage reset "
                f"({m['mode']}) — re-read from a fresh snapshot instead"
            )
        prev_files = files
    return parts


def _read_cdf_partition(partition: CdfFilePartition) -> Iterator:
    """Worker-side read of one change partition: align the file to its
    schema, then attach the constant _change_type (append / initial-
    snapshot partitions; sidecar rows carry their own) and
    _commit_version columns."""
    import pyarrow as pa

    for batch in _read_file_as_batches(
        partition.file, partition.schema_json, partition.deleted
    ):
        n = batch.num_rows
        cols = list(batch.columns)
        names = list(batch.schema.names)
        if partition.change_type is not None:
            cols.append(pa.array([partition.change_type] * n, pa.string()))
            names.append("_change_type")
        cols.append(pa.array([partition.commit_version] * n, pa.int64()))
        names.append("_commit_version")
        yield pa.RecordBatch.from_arrays(cols, names=names)


class SnapstoreCdfBatchReader(DataSourceReader):
    """Batch form of the change feed (Delta's ``table_changes``):
    ``spark.read.format("snapstore").option("readChangeFeed", "true")
    .option("sinceVersion", N)[.option("untilVersion", M)].load(root)``
    — the same span contract as ``snap_read_changes_cdf``, planned as
    one partition per change file."""

    def __init__(self, root: str, since: int, until: int | None) -> None:
        self._root = root
        cur = ss.snap_current_version(root)
        if cur is None:
            raise FileNotFoundError(f"no committed version in {root}")
        self._since = since
        self._until = cur if until is None else until
        self._schema_json = ss._read_manifest(root, self._until)["schema"]
        self._cdf_schema_json = ss._cdf_schema(
            T.StructType.fromJson(json.loads(self._schema_json))
        ).json()

    def partitions(self) -> Sequence[InputPartition]:
        return _plan_cdf_partitions(
            self._root,
            self._since,
            self._until,
            self._schema_json,
            self._cdf_schema_json,
        )

    def read(self, partition: CdfFilePartition) -> Iterator:
        return _read_cdf_partition(partition)


class SnapstoreCdfStreamReader(DataSourceStreamReader):
    """``readStream.format("snapstore").option("readChangeFeed", "true")``
    — the CHANGE FEED as a stream (Delta's CDF streaming): each
    micro-batch delivers the row-level changes of the versions in
    (start, end] with ``_change_type`` + ``_commit_version``, so a
    downstream pipeline (a dedup index, an incremental MV, a feature
    store) reacts to UPDATEs and DELETEs instead of refusing at the
    first DML commit. Offsets are manifest versions (deterministic
    replay — the delta is a pure function of immutable manifests +
    sidecars). The initial snapshot (sinceVersion unset) streams the
    DV-applied current state as ``insert`` rows, then changes follow.
    A user overwrite / restore / pre-enable DML version raises — same
    honest refusal as ``snap_read_changes_cdf``."""

    def __init__(self, root: str, since: int | None) -> None:
        self._root = root
        self._since = -1 if since is None else since
        cur = ss.snap_current_version(root)
        if cur is None:
            raise FileNotFoundError(f"no committed version in {root}")
        self._schema_json = ss._read_manifest(root, cur)["schema"]
        self._cdf_schema_json = ss._cdf_schema(
            T.StructType.fromJson(json.loads(self._schema_json))
        ).json()

    def initialOffset(self) -> dict:
        return {"version": self._since}

    def latestOffset(self) -> dict:
        cur = ss.snap_current_version(self._root)
        return {"version": self._since if cur is None else max(cur, self._since)}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        return _plan_cdf_partitions(
            self._root,
            int(start["version"]),
            int(end["version"]),
            self._schema_json,
            self._cdf_schema_json,
        )

    def read(self, partition: CdfFilePartition) -> Iterator:
        return _read_cdf_partition(partition)

    def commit(self, end: dict) -> None:
        pass  # the checkpoint owns the cursor; manifests are immutable


@dataclass
class SnapWriteMessage(WriterCommitMessage):
    """Per-task commit message: the staged file plus the metadata the
    driver folds into the manifest — footer-equivalent rows/bytes and
    per-column min/max, computed WHILE writing, so the publish phase
    needs no extra job and no footer re-reads."""

    file: str | None
    rows: int = 0
    nbytes: int = 0
    stats: dict = field(default_factory=dict)


def _write_task_file(
    iterator, commit_dir: str, stats_cols: list[str]
) -> SnapWriteMessage:
    """Executor-side half of the two-phase commit: stream this task's
    Arrow batches into ONE parquet file under the staged commit dir,
    folding min/max stats batch-by-batch. Empty tasks stage nothing."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from wsspark.snapstore import _json_stat

    os.makedirs(commit_dir, exist_ok=True)
    path = os.path.join(commit_dir, f"part-{uuid.uuid4().hex}.parquet")
    writer = None
    rows = 0
    mins: dict = {}
    maxs: dict = {}
    for batch in iterator:
        if writer is None:
            writer = pq.ParquetWriter(path, batch.schema)
        writer.write_batch(batch)
        rows += batch.num_rows
        for c in stats_cols:
            idx = batch.schema.get_field_index(c)
            if idx < 0:
                raise ValueError(f"statsCols column {c!r} not in data")
            mm = pc.min_max(batch.column(idx))
            lo, hi = mm["min"].as_py(), mm["max"].as_py()
            if lo is not None and (c not in mins or lo < mins[c]):
                mins[c] = lo
            if hi is not None and (c not in maxs or hi > maxs[c]):
                maxs[c] = hi
    if writer is None:
        return SnapWriteMessage(file=None)
    writer.close()

    def _norm(v):
        # Arrow hands back tz-AWARE datetimes (timestamp[us, tz=...]);
        # the helper path's Spark collect() yields naive session-UTC
        # datetimes. Normalize to naive UTC so both writers' manifest
        # stats live in one comparable string space — an offset-suffixed
        # isoformat would break the lexicographic==temporal invariant
        # range pruning relies on.
        if hasattr(v, "tzinfo") and getattr(v, "tzinfo", None) is not None:
            import datetime as _dt

            return v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return v

    stats = {
        c: [_json_stat(_norm(mins.get(c))), _json_stat(_norm(maxs.get(c)))]
        for c in stats_cols
    }
    return SnapWriteMessage(
        file=path, rows=rows, nbytes=os.path.getsize(path), stats=stats
    )


def _gather_messages(messages) -> tuple[list[str], dict, dict]:
    files, new_stats, new_meta = [], {}, {}
    for m in messages:
        if m is not None and m.file:
            files.append(m.file)
            new_meta[m.file] = {"rows": m.rows, "bytes": m.nbytes}
            if m.stats:
                new_stats[m.file] = m.stats
    files.sort()
    return files, new_stats, new_meta


def _cleanup_staged(messages) -> None:
    import shutil

    dirs = {os.path.dirname(m.file) for m in messages if m is not None and m.file}
    for d in dirs:
        shutil.rmtree(d, ignore_errors=True)


class SnapstoreBatchWriter(DataSourceArrowWriter):
    """``df.write.format("snapstore").mode(...).save(root)`` — the
    distributed two-phase commit: every task streams its partition into
    one staged parquet file and returns (path, rows, bytes, min/max) as
    its commit message; the DRIVER then publishes the manifest atomically
    through the same ``_resolve/_publish`` phases as ``snap_commit``.
    Stats cost nothing extra (folded during the write — no footer
    re-reads, no second job), a failed job stages but never publishes
    (abort removes the staging dir), and a lost O_EXCL race cleans up
    and raises ``SnapshotConflict`` like every other committer."""

    def __init__(
        self,
        root: str,
        schema: T.StructType,
        overwrite: bool,
        stats_cols: list[str],
        evolve: bool,
    ) -> None:
        self._root = root
        self._schema = schema
        self._mode = "overwrite" if overwrite else "append"
        self._stats_cols = stats_cols
        self._evolve = evolve
        self._commit_dir = os.path.join(
            ss._data_dir(root), f"commit-w-{uuid.uuid4().hex[:8]}"
        )
        # fail fast on an invalid append before any executor writes
        ss._resolve_commit(root, self._mode, schema, None, 0, 0, evolve)

    def write(self, iterator) -> SnapWriteMessage:
        return _write_task_file(iterator, self._commit_dir, self._stats_cols)

    def commit(self, messages) -> None:
        files, new_stats, new_meta = _gather_messages(messages)
        try:
            ctx = ss._resolve_commit(
                self._root, self._mode, self._schema, None, 0, 0, self._evolve
            )
            if ctx["props"]["constraints"] and files:
                # table CHECK constraints gate this writer too: one scan
                # of the staged files before the manifest publishes
                from pyspark.sql import SparkSession

                spark = (
                    SparkSession.getActiveSession()
                    or SparkSession.builder.getOrCreate()
                )
                ss._check_constraints(
                    spark.read.schema(self._schema).parquet(*files),
                    ctx["props"]["constraints"],
                )
            ss._publish_commit(
                self._root,
                ctx,
                self._mode,
                None,
                files,
                new_stats,
                {},
                {},
                new_meta,
                cleanup_dir=self._commit_dir,
            )
        except ss.SnapshotConflict:
            raise
        except BaseException:
            _cleanup_staged(messages)
            raise

    def abort(self, messages) -> None:
        import shutil

        shutil.rmtree(self._commit_dir, ignore_errors=True)
        _cleanup_staged(messages)


class SnapstoreStreamWriter(DataSourceStreamArrowWriter):
    """``df.writeStream.format("snapstore")`` — exactly-once streaming
    publish through the same manifest machinery as ``snap_sink``: each
    micro-batch appends a commit tagged with its batch id, and a
    replayed batch (crash between sink write and checkpoint commit)
    sees its id at-or-below the published tag, deletes its re-staged
    files, and no-ops — the tag rides IN the atomic manifest publish, so
    there is no side-log crash window."""

    def __init__(
        self, root: str, schema: T.StructType, stats_cols: list[str]
    ) -> None:
        self._root = root
        self._schema = schema
        self._stats_cols = stats_cols

    def write(self, iterator) -> SnapWriteMessage:
        commit_dir = os.path.join(
            ss._data_dir(self._root), f"commit-s-{uuid.uuid4().hex[:8]}"
        )
        return _write_task_file(iterator, commit_dir, self._stats_cols)

    def commit(self, messages, batchId: int) -> None:
        # scan back for the last INT tag: an interleaved untagged commit
        # (compaction, a batch append) must not reset replay detection
        last = ss.snap_last_int_tag(self._root)
        if last is not None and batchId <= last:
            _cleanup_staged(messages)  # replayed batch: already published
            return
        files, new_stats, new_meta = _gather_messages(messages)
        try:
            ctx = ss._resolve_commit(
                self._root, "append", self._schema, None, 0, 0, False
            )
            if ctx["props"]["constraints"] and files:
                # table CHECK constraints gate the streaming writer too:
                # one scan of the staged files BEFORE the tagged manifest
                # publishes — on violation the cursor never advances (the
                # tag rides in the publish), the staged files are cleaned
                # below, and a post-fix replay of the batch is clean
                from pyspark.sql import SparkSession

                spark = (
                    SparkSession.getActiveSession()
                    or SparkSession.builder.getOrCreate()
                )
                ss._check_constraints(
                    spark.read.schema(self._schema).parquet(*files),
                    ctx["props"]["constraints"],
                )
            ss._publish_commit(
                self._root,
                ctx,
                "append",
                int(batchId),
                files,
                new_stats,
                {},
                {},
                new_meta,
                cleanup_dir=None,
            )
        except BaseException:
            _cleanup_staged(messages)
            raise

    def abort(self, messages, batchId: int) -> None:
        _cleanup_staged(messages)


class SnapstoreDataSource(DataSource):
    """``spark.dataSource.register(SnapstoreDataSource)`` then
    ``spark.read.format("snapstore").load(root)`` /
    ``spark.readStream.format("snapstore").load(root)``.

    Options: ``path`` (the store root, required), ``version`` (batch
    time travel), ``sinceVersion`` (stream cursor: deliver changes
    AFTER this version; default -1 = initial snapshot then appends),
    ``readChangeFeed`` ("true" = row-level CHANGE FEED: rows carry
    ``_change_type`` + ``_commit_version`` and DML commits are served
    from their cdf sidecars instead of refusing — on a stream read with
    versions-as-offsets, or on a batch read with ``sinceVersion``
    (required) and optional ``untilVersion``, Delta's table_changes)."""

    def _read_change_feed(self) -> bool:
        raw = self.options.get("readchangefeed") or self.options.get(
            "readChangeFeed"
        )
        return str(raw).lower() == "true" if raw is not None else False

    @classmethod
    def name(cls) -> str:
        return "snapstore"

    def _root(self) -> str:
        root = self.options.get("path")
        if not root:
            raise ValueError(
                "snapstore source needs a store root: .load(root) or "
                ".option('path', root)"
            )
        return root

    def _ts_opt(self) -> float | None:
        """timestampAsOf parsed to epoch seconds (float string or ISO
        datetime), or None. Refused outright with readChangeFeed — the
        feed's span is version-addressed (sinceVersion/untilVersion)."""
        raw = self.options.get("timestampAsOf") or self.options.get(
            "timestampasof"
        )
        if raw is None:
            return None
        if self._read_change_feed():
            raise ValueError(
                "timestampAsOf is not supported with readChangeFeed — "
                "address the span with sinceVersion/untilVersion"
            )
        return _parse_ts(raw)

    def _version_opt(self, root: str, strict: bool = True) -> int | None:
        """The pinned BATCH read version: .option("version", n), or
        .option("timestampAsOf", ts) resolved through the manifests'
        recorded publish instants (Delta's reader option). Giving both
        is ambiguous and refuses. ``strict=False`` (the schema() probe)
        returns None for a pre-table timestamp instead of raising, so
        the declared schema falls back to CURRENT and the precise error
        surfaces at read time. The resolution is cached — one read
        resolves the manifests once, not once per schema()/reader()."""
        v = self.options.get("version")
        when = self._ts_opt()
        if v is not None and when is not None:
            raise ValueError(
                "pass either version or timestampAsOf, not both"
            )
        if v is not None:
            return int(v)
        if when is None:
            return None
        cached = getattr(self, "_asof_cache", None)
        if cached is not None:
            return cached
        try:
            resolved = ss.snap_version_asof(root, when)
        except ValueError:
            if strict:
                raise
            return None
        self._asof_cache = resolved
        return resolved

    def schema(self) -> T.StructType:
        root = self._root()
        v = self._version_opt(root, strict=False)
        if v is None and self._read_change_feed():
            # batch CDF aligns to the span-end schema
            v = self.options.get("untilVersion") or self.options.get(
                "untilversion"
            )
        v = int(v) if v is not None else ss.snap_current_version(root)
        if v is None:
            raise FileNotFoundError(f"no committed version in {root}")
        schema = T.StructType.fromJson(
            json.loads(ss._read_manifest(root, v)["schema"])
        )
        if self._read_change_feed():
            return T.StructType(
                ss._cdf_schema(schema).fields
                + [T.StructField("_commit_version", T.LongType(), False)]
            )
        return schema

    def reader(self, schema: T.StructType) -> DataSourceReader:
        if self._read_change_feed():
            since = self.options.get("sinceVersion") or self.options.get(
                "sinceversion"
            )
            if since is None:
                raise ValueError(
                    "batch readChangeFeed needs sinceVersion (changes are "
                    "delivered for versions AFTER it; -1 = initial "
                    "snapshot + all changes)"
                )
            until = self.options.get("untilVersion") or self.options.get(
                "untilversion"
            )
            return SnapstoreCdfBatchReader(
                self._root(),
                int(since),
                int(until) if until is not None else None,
            )
        return SnapstoreBatchReader(self._root(), self._version_opt(self._root()))

    def streamReader(self, schema: T.StructType) -> DataSourceStreamReader:
        if self.options.get("version") is not None:
            # a pinned version would declare the historical schema while
            # the stream delivers current-schema batches — the same
            # misalignment the timestampAsOf path refuses; streams are
            # cursor-addressed
            raise ValueError(
                "the version option does not apply to readStream — "
                "start the cursor with sinceVersion (or timestampAsOf)"
            )
        v = self.options.get("sinceVersion") or self.options.get(
            "sinceversion"
        )
        when = self._ts_opt()
        if v is not None and when is not None:
            raise ValueError(
                "pass either sinceVersion or timestampAsOf, not both"
            )
        root = self._root()
        if when is not None:
            # Delta's startingTimestamp: deliver every version published
            # AT-or-after the instant — since = the latest version
            # strictly before it. A pre-table timestamp streams the
            # whole table (since=None -> initial snapshot). The declared
            # schema came from schema()'s at-or-before resolution, so a
            # schema evolution between the pin and CURRENT would
            # misalign delivered batches: refuse it honestly.
            since: int | None = None
            pinned_schema = None
            cur_schema = None
            for sv in ss.snap_versions(root):
                m_sv = ss._read_manifest(root, sv)
                cur_schema = m_sv["schema"]
                m_ts = m_sv.get("ts")
                if m_ts is not None and m_ts < when:
                    since = sv
                if m_ts is not None and m_ts <= when:
                    pinned_schema = m_sv["schema"]
            if pinned_schema is not None and pinned_schema != cur_schema:
                raise ValueError(
                    "timestampAsOf stream across a schema evolution — "
                    "the declared schema is the as-of version's; start "
                    "with sinceVersion instead"
                )
        else:
            since = int(v) if v is not None else None
        if self._read_change_feed():
            return SnapstoreCdfStreamReader(root, since)
        return SnapstoreStreamReader(root, since)

    def _stats_cols(self) -> list[str]:
        raw = self.options.get("statscols") or self.options.get("statsCols")
        return [c.strip() for c in raw.split(",") if c.strip()] if raw else []

    def writer(self, schema: T.StructType, overwrite: bool) -> SnapstoreBatchWriter:
        evolve = str(self.options.get("evolve", "false")).lower() == "true"
        return SnapstoreBatchWriter(
            self._root(), schema, overwrite, self._stats_cols(), evolve
        )

    def streamWriter(
        self, schema: T.StructType, overwrite: bool
    ) -> SnapstoreStreamWriter:
        return SnapstoreStreamWriter(self._root(), schema, self._stats_cols())


def register(spark) -> None:
    """Idempotent session registration of the snapstore format. Also
    enables Python-data-source filter pushdown (off by default in Spark
    4.1; runtime-settable) — without it the engine refuses a reader that
    implements ``pushFilters`` rather than silently skipping pruning."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(SnapstoreDataSource)
