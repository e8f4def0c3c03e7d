"""Versioned snapshot store over parquet — manifest-pinned atomic commits
with time travel, the lightweight table-format layer the repo's
stage-then-swap sinks generalize into.

Why an engine needs it at 100 TB: plain ``spark.read.parquet(dir)``
couples readers to a DIRECTORY LISTING — concurrent writers, partial
failures, and compaction all leak in-flight files into queries, and the
listing itself is O(files) metadata calls on object stores. Here every
commit publishes an immutable MANIFEST (the explicit file list + schema
+ parent version) and readers plan from the manifest alone:

- snapshot isolation: a query pinned to version N sees exactly N's
  files, forever — later commits, orphaned task outputs, and in-flight
  writes are invisible by construction (no listing happens);
- atomic publish: data files land under a per-commit directory first,
  the manifest is created with O_EXCL (optimistic concurrency — the
  SECOND committer of version N+1 fails cleanly and must re-read +
  retry), and the CURRENT pointer advances via ``os.replace`` (atomic
  on POSIX/HDFS; on S3-like stores swap this single pointer write for a
  conditional put — the manifests themselves are already immutable);
- O(1)-ish planning: the file list rides in one small JSON, not a
  recursive listing;
- time travel: any retained version remains readable (incremental
  reprocessing, audits, reproducible training snapshots);
- ``snap_vacuum`` deletes data files no retained manifest references —
  compaction/rewrite garbage collection with readers still safe on
  retained versions;
- incremental (CDC) reads: for an append-only lineage the delta between
  two versions is exactly the manifest file-list difference, so
  ``snap_read_changes`` yields the new rows without a watermark column
  and without scanning resident data (``snap_tail`` is the one-arg
  "everything since my last checkpoint" form);
- data skipping: ``snap_commit(stats_cols=[...])`` records per-FILE
  min/max for the named columns in the manifest (one aggregation over
  the just-written files — no footer reads at query time), and
  ``snap_read_between`` plans only the files whose [min, max] overlaps
  the predicate range, applying the exact residual filter after. With a
  range-clustered write (``repartitionByRange`` / ``layout.write_zordered``)
  this is the Delta/Iceberg skipping story in one JSON field. For
  EQUALITY predicates on high-cardinality columns — where min/max is
  useless unless the layout happens to cluster that column —
  ``snap_commit(bloom_cols=[...])`` additionally records a per-file
  Bloom bitmap (the repo's portable md5 double-hashing scheme,
  ``llmops.bloom``), and ``snap_read_where_eq`` plans a point lookup
  from the manifest alone: the driver-side probe is bit-exact with the
  distributed build, so a dropped file provably cannot contain the
  value, and blooms prune on ANY layout (hash-clustered included —
  bucket membership, not value locality, is what they record);
- exactly-once streaming publish: ``snap_sink(root)`` is a foreachBatch
  target that stamps each commit with the micro-batch id (``tag``) and
  skips any batch id at-or-below the last published tag, closing the
  replay window between sink write and checkpoint commit — the commit
  IS the idempotence marker, no side log.

Append commits validate the schema against the parent manifest (exact
StructType match — evolution is never an accident). The one sanctioned
evolution is ``snap_commit(evolve=True)``: ADD nullable columns on an
append, resident files reading them as NULL via the explicit-schema
parquet read — no rewrite, and time travel keeps each version's own
shape. Drops, renames, and type changes remain explicit overwrites.
This is deliberately a SINGLE-TABLE, linear-history format: no
partition-level conflict resolution, no branch merges — the 20% of a
lakehouse table format an analytics engine needs for exactly-once batch
publishing, in ~150 lines a reviewer can actually audit.
"""

from __future__ import annotations

import contextlib
import json
import re
import os
import threading
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from wsspark.exec import local_frame, overlap


class SnapshotConflict(RuntimeError):
    """Another committer published this version first — re-read and retry."""


class StagedCommitVacuumed(RuntimeError):
    """A concurrent ``snap_vacuum`` deleted this commit's staged data files
    before the manifest published (the stats/bloom jobs outlived the vacuum
    grace window). Retryable: the data must be re-written, which is exactly
    what ``snap_commit_with_retry`` does per attempt."""


class _SharedPartVanished(FileNotFoundError):
    """A SHARED parent detail-sidecar part disappeared during a manifest
    publish — a concurrent vacuum whose reference scan predates this
    commit collected it. Raised ONLY by the shared-part touch/verify
    hooks so ``_publish_commit`` can convert exactly this race (and not
    an unrelated FileNotFoundError — e.g. persistent store corruption,
    which must surface hard) into the retryable ``SnapshotConflict``."""


def _manifest_dir(root: str) -> str:
    # abspath: a RELATIVE store root would otherwise split between
    # Python's cwd (manifest/metadata IO) and the long-lived JVM's cwd
    # (Spark writes resolve against user.dir, not the driver's current
    # os.getcwd()) — every path the store derives is absolute instead
    return os.path.join(os.path.abspath(root), "_manifests")


def _data_dir(root: str) -> str:
    """``<root>/data``, absolute — commit dirs live under here (same
    relative-root rationale as ``_manifest_dir``)."""
    return os.path.join(os.path.abspath(root), "data")


def _manifest_path(root: str, version: int) -> str:
    return os.path.join(_manifest_dir(root), f"v{version:012d}.json")


def _current_path(root: str) -> str:
    return os.path.join(_manifest_dir(root), "CURRENT")


def snap_current_version(root: str) -> int | None:
    """The published version, or None for an empty/uninitialized store."""
    try:
        with open(_current_path(root)) as f:
            return int(f.read().strip())
    except FileNotFoundError:
        return None


def _rebase_path(p: str, recorded: str, actual: str) -> str:
    """Rewrite one recorded absolute path into the moved store's domain
    (prefix replace); paths outside the recorded root (externally-added
    files) pass through untouched."""
    pre = recorded + os.sep
    return actual + p[len(recorded):] if p.startswith(pre) else p


def _rebase_head(head: dict, recorded: str, actual: str) -> None:
    """In-place rebase of a loaded manifest head's path-carrying fields
    after a store relocation: the inline file list, dv/cdf sidecar
    lists, and (inline-mode) the per-file detail dict keys. Sidecar
    PARTS self-rebase at load (``_rebase_part``), so lazy heads need
    only their small lists touched. ``_rebase`` rides in-memory for the
    DV-content rebase and never serializes."""
    head["_rebase"] = (recorded, actual)
    for k in ("files", "dv_files", "cdf_files"):
        if head.get(k):
            head[k] = [_rebase_path(p, recorded, actual) for p in head[k]]
    for k in _DETAIL_KEYS:
        if head.get(k):
            head[k] = {
                _rebase_path(p, recorded, actual): v
                for p, v in head[k].items()
            }


# ON-DISK FORMAT: every manifest head and every staged JSON carries
# ``format: FORMAT``, stamped at its one serialization point
# (``_write_manifest_file``, ``snap_stage``). Readers accept exactly this
# version and refuse anything else with one error — a head has one shape,
# so no reader keeps a fallback for an earlier one (the protocol-version
# gate Delta and Iceberg use in place of per-field fallbacks).
FORMAT = 1


def _check_format(doc: dict, path: str) -> None:
    if doc.get("format") != FORMAT:
        raise ValueError(
            f"{path} has snapstore format {doc.get('format')!r}, but this "
            f"reader reads format {FORMAT} only — rewrite the table (or "
            "re-stage the data) with this version"
        )


def _read_manifest(root: str, version: int) -> dict:
    path = _manifest_path(root, version)
    with open(path) as f:
        head = json.load(f)
    _check_format(head, path)
    # RELOCATABILITY: a head published under a different root than it is
    # being read under (store moved/copied/remounted) rebases every
    # recorded path into the actual root's domain — all in-memory
    # invariants stay absolute-path-based and every compare site is
    # untouched.
    actual = os.path.abspath(root)
    if head["root"] != actual:
        _rebase_head(head, head["root"], actual)
    if "detail_files" in head:
        return _LazyManifest(head, root)
    return head


# ---------------------------------------------------------------------------
# Manifest DETAIL sidecar — the metadata plane at scale.
#
# The per-FILE metadata (min/max stats, Bloom bitmaps, rows/bytes) is
# O(files x cols x bloom_bits): at ~1M files with one 16-kbit bloom column
# it is GIGABYTES of hex inside the version JSON, parsed on the driver for
# EVERY read. Delta solves this with parquet checkpoints, Iceberg with avro
# manifest files; here, any commit whose file count exceeds
# ``DETAIL_INLINE_MAX`` (512) splits the three per-file dicts out of the JSON
# head into one PARQUET SIDECAR (``vNNN-<uuid>.detail.parquet``, one row
# per data file) next to the manifest. The head keeps only O(1) metadata
# plus the file LIST (paths — the minimum any reader needs) and a pointer.
#
# Readers get a ``_LazyManifest``: head keys answer from the JSON; the
# first touch of ``file_stats`` / ``file_blooms`` / ``file_meta``
# reconstructs the exact dicts from the sidecar (bit-identical round-trip:
# stats ride as their original JSON text, blooms as 63-bit words re-hexed
# with the same fixed width). Pruning never needs that reconstruction: the
# sidecar also carries a TYPED prune index (per-column min/max as widened
# float64 or string, bloom words as list<int64>), so ``_plan_files`` —
# the one planner behind every skipping read, DML discovery and the
# DataSource's pushed filters — runs VECTORIZED over the arrow table
# (C-speed, no per-file Python dict work).
#
# Soundness of the typed index: numeric mins are widened DOWN and maxes UP
# (``_widen_float``) when an exact int exceeds float64, so the stored
# [min, max] only ever contains the true range; probe values widen the
# same way on the query side. A drop therefore remains a proof of absence;
# widening can only KEEP more files, and the exact residual filter is
# always the semantics.
#
# MULTIPART sidecars (r14 — Iceberg's manifest-list / Delta's
# incremental-checkpoint precedent): the head's pointer is a LIST of
# part files (``detail_files``). An append atop a sidecar-backed
# parent writes ONE new part holding only the NEW files' rows and
# shares the parent's parts by name — O(new files) metadata I/O per append regardless of table size
# — until the chain exceeds ``DETAIL_PARTS_MAX`` (16) parts, when it
# compacts into a single part (amortized O(files / DETAIL_PARTS_MAX) per
# append, the same bound as Delta's every-N-commits checkpoint).
# Parts are path-disjoint and their concatenation, in order, is the
# manifest's detail table; readers align-concat lazily and cache.
#
# O(1) HEADS: when the part chain provably reconstructs the file list
# EXACTLY (``detail_exact`` — set when a part is built with the
# explicit file-list universe, and inductively preserved by appends/
# rewrites whose parent had it), a manifest with more than
# ``FILES_INLINE_MAX`` (10k) files drops the path list from the JSON head
# too (``files_in_detail`` + ``file_count``); ``files`` reconstructs
# from the parts' path column (a column-projected read, never the
# bloom bytes). The head is then O(schema + constraints + pointer) at
# ANY file count. The exactness gate matters because vacuum's
# referenced-set and every DML set-membership derive from the
# reconstructed list — a lossy sidecar must never be its source of
# truth, so a chain without the flag keeps its inline list. The
# serializer still builds such chains: detail dicts holding an entry
# outside the manifest's file list make ``_write_manifest_file`` keep
# every entry and forfeit the flag, and appends or rewrites atop a
# non-exact chain stay non-exact until a full rewrite re-earns it.
#
# Every head also records the store ``root`` it was published under
# and the on-disk ``format`` (see FORMAT above); both are stamped in
# ``_write_manifest_file``, the single serialization point.
# ---------------------------------------------------------------------------

_DETAIL_KEYS = ("file_stats", "file_blooms", "file_meta")

# head bookkeeping for the sidecar plane — stripped by _materialize
_DETAIL_HEAD_KEYS = (
    "detail_files",
    "detail_exact",
    "files_in_detail",
    "file_count",
)


# Metadata-plane thresholds (see the block comment above). The commit
# path reads them directly; tests patch them on this module to force the
# sidecar / O(1)-head layouts on small tables.
DETAIL_INLINE_MAX = 512  # files above which per-file metadata -> sidecar
FILES_INLINE_MAX = 10_000  # files above which an exact chain drops the path list
DETAIL_PARTS_MAX = 16  # chain length past which an append folds to one part


def _pointer_names(head: dict) -> list[str]:
    """The sidecar part names a manifest head references, in
    concatenation order."""
    return list(head.get("detail_files", ()))


def _widen_float(v, direction: int) -> float | None:
    """Exact directional float64 bound for an int/float value:
    ``direction=-1`` returns a float <= v, ``+1`` one >= v. Python
    compares int vs float exactly (arbitrary precision), so one
    ``nextafter`` step after the nearest-rounding cast is provably on
    the safe side — this is what keeps >2^53 integer stats from ever
    causing a false drop in the typed prune index."""
    import math

    if v is None:
        return None
    f = float(v)
    if direction < 0 and f > v:
        f = math.nextafter(f, -math.inf)
    elif direction > 0 and f < v:
        f = math.nextafter(f, math.inf)
    return f


def _bloom_hex_to_words(hx: str) -> list[int]:
    return [int(hx[i : i + 16], 16) for i in range(0, len(hx), 16)]


def _detail_table_from_dicts(manifest: dict, paths: list[str] | None = None):
    """The sidecar arrow table for a manifest's detail dicts.

    ``paths`` (optional) is the explicit row universe IN ORDER — passed
    as the manifest's file list (or an append's new-file list) so the
    part's path column reconstructs it exactly, which is what licenses
    dropping the list from the JSON head (``detail_exact``). Default:
    the sorted union of the dict keys (a non-exact part)."""
    import pyarrow as pa

    stats = manifest.get("file_stats") or {}
    blooms = manifest.get("file_blooms") or {}
    meta = manifest.get("file_meta") or {}
    if paths is None:
        paths = sorted(set(stats) | set(blooms) | set(meta))
    else:
        extra = (set(stats) | set(blooms) | set(meta)) - set(paths)
        if extra:
            # an entry outside the declared universe would be silently
            # DROPPED — callers must widen the universe or fall back to
            # the default; losing metadata quietly is never acceptable
            raise ValueError(
                f"{len(extra)} detail entries outside the declared path "
                f"universe (first: {sorted(extra)[0]})"
            )
    rows = [(meta.get(p) or {}).get("rows") for p in paths]
    nbytes = [(meta.get(p) or {}).get("bytes") for p in paths]
    stats_json = [
        json.dumps(stats[p], sort_keys=True) if p in stats else None
        for p in paths
    ]
    arrays = [
        pa.array(paths, pa.string()),
        pa.array(rows, pa.int64()),
        pa.array(nbytes, pa.int64()),
        pa.array(stats_json, pa.string()),
    ]
    names = ["path", "rows", "bytes", "stats_json"]
    # typed prune index: per stats column, decide ONE comparison domain
    # (float64 for numeric values, string for ISO/temporal/text); a
    # column with mixed domains (should not happen — one manifest, one
    # schema) gets no index and prunes nothing, mirroring the dict
    # path's TypeError->keep
    stat_cols = sorted({c for per in stats.values() for c in per})
    col_kind: dict[str, str] = {}
    for c in stat_cols:
        kinds = set()
        for per in stats.values():
            for v in per.get(c, (None, None)):
                if v is None:
                    continue
                kinds.add("str" if isinstance(v, str) else "num")
        if len(kinds) == 1:
            col_kind[c] = kinds.pop()
    if col_kind:
        smin_fields, smax_fields = [], []
        for c in sorted(col_kind):
            if col_kind[c] == "num":
                mn = [
                    _widen_float(stats.get(p, {}).get(c, (None, None))[0], -1)
                    for p in paths
                ]
                mx = [
                    _widen_float(stats.get(p, {}).get(c, (None, None))[1], 1)
                    for p in paths
                ]
                typ = pa.float64()
            else:
                mn = [stats.get(p, {}).get(c, (None, None))[0] for p in paths]
                mx = [stats.get(p, {}).get(c, (None, None))[1] for p in paths]
                typ = pa.string()
            smin_fields.append((c, pa.array(mn, typ)))
            smax_fields.append((c, pa.array(mx, typ)))
        arrays.append(
            pa.StructArray.from_arrays(
                [a for _, a in smin_fields], [c for c, _ in smin_fields]
            )
        )
        names.append("smin")
        arrays.append(
            pa.StructArray.from_arrays(
                [a for _, a in smax_fields], [c for c, _ in smax_fields]
            )
        )
        names.append("smax")
    bloom_cols = sorted({c for per in blooms.values() for c in per})
    if bloom_cols:
        barrs = []
        for c in bloom_cols:
            words = [
                _bloom_hex_to_words(blooms[p][c])
                if p in blooms and c in blooms[p]
                else None
                for p in paths
            ]
            barrs.append((c, pa.array(words, pa.list_(pa.int64()))))
        arrays.append(
            pa.StructArray.from_arrays(
                [a for _, a in barrs], [c for c, _ in barrs]
            )
        )
        names.append("bloom")
    t = pa.table(dict(zip(names, arrays)))
    # The COMPLETE profiled column list rides as schema metadata: the
    # typed index omits all-NULL / mixed-domain columns, so deriving a
    # rewrite config from its field names alone would silently stop
    # profiling those columns on every COW rewrite.
    return t.replace_schema_metadata(
        {b"wsspark_stats_cols": json.dumps(stat_cols).encode()}
    )


def _detail_stats_cols(table) -> list[str]:
    """The profiled stats columns recorded in the sidecar's schema
    metadata (every part is born in ``_detail_table_from_dicts``)."""
    return json.loads(table.schema.metadata[b"wsspark_stats_cols"].decode())


def _align_detail_tables(parent, new):
    """Schema-align two sidecar tables for concatenation: union the
    typed-index struct fields by name (rows from the table lacking a
    field get nulls — exactly what 'no stats recorded' means), plain
    columns as-is. Returns None when the same field name carries
    DIFFERENT types in the two tables (a domain conflict the append
    schema gate should make impossible — the caller materializes and
    rebuilds from dicts instead of guessing)."""
    import pyarrow as pa

    def _struct_fields(t, name):
        if name not in t.column_names:
            return {}
        return {f.name: f.type for f in t.column(name).type}

    out_cols: dict[str, list] = {}
    n_parent, n_new = parent.num_rows, new.num_rows
    # the four base columns exist unconditionally — every sidecar table
    # is born in _detail_table_from_dicts, which always builds them
    for name in ("path", "rows", "bytes", "stats_json"):
        out_cols[name] = pa.concat_arrays(
            [
                parent.column(name).combine_chunks(),
                new.column(name).combine_chunks(),
            ]
        )
    for name in ("smin", "smax", "bloom"):
        pf, nf = _struct_fields(parent, name), _struct_fields(new, name)
        if not pf and not nf:
            continue
        for c in set(pf) & set(nf):
            if pf[c] != nf[c]:
                return None  # domain conflict: rebuild from dicts
        fields = sorted(set(pf) | set(nf))
        # ONE chunk-combine per struct column, not one per field — the
        # parent side is the O(table) array on the per-append hot path
        p_struct = (
            parent.column(name).combine_chunks() if pf else None
        )
        n_struct = new.column(name).combine_chunks() if nf else None
        children = []
        for c in fields:
            typ = pf.get(c, nf.get(c))
            pc = p_struct.field(c) if c in pf else pa.nulls(n_parent, typ)
            nc = n_struct.field(c) if c in nf else pa.nulls(n_new, typ)
            children.append(pa.concat_arrays([pc.cast(typ), nc.cast(typ)]))
        out_cols[name] = pa.StructArray.from_arrays(children, fields)
    # profiled-column metadata: the union of both sides
    cols = set(_detail_stats_cols(parent)) | set(_detail_stats_cols(new))
    return pa.table(out_cols).replace_schema_metadata(
        {b"wsspark_stats_cols": json.dumps(sorted(cols)).encode()}
    )


_detail_cache: dict = {}  # abs detail path -> pyarrow Table (manifests are immutable)
_DETAIL_CACHE_MAX = 4


def _stamp_part_root(table, root: str):
    """Record the store root a sidecar part was written under in its
    schema metadata — the part's path rows are absolute, so a moved
    store rebases them at load by replacing exactly this prefix
    (``_rebase_part``)."""
    md = dict(table.schema.metadata or {})
    md[b"wsspark_part_root"] = os.path.abspath(root).encode()
    return table.replace_schema_metadata(md)


def _rebase_part(t, path: str):
    """Self-rebasing part load: the part lives in <root>/_manifests, so
    the root it is being read under is derivable from its own location;
    when that differs from the recorded origin root, rewrite the path
    column's prefix (vectorized, one pass). Rows outside the origin
    prefix pass through untouched — same policy as the head rebase."""
    md = t.schema.metadata or {}
    origin = md.get(b"wsspark_part_root")
    if origin is None:
        return t
    origin = origin.decode()
    actual = os.path.dirname(os.path.dirname(os.path.abspath(path)))
    if origin == actual:
        return t
    import pyarrow.compute as pc

    col = t.column("path").combine_chunks()
    pre = origin + os.sep
    starts = pc.starts_with(col, pre)
    rebased = pc.binary_join_element_wise(
        actual + os.sep, pc.utf8_slice_codeunits(col, len(pre)), ""
    )
    new_col = pc.if_else(starts, rebased, col)
    i = t.column_names.index("path")
    return t.set_column(i, "path", new_col)


def _load_detail_table(path: str):
    t = _detail_cache.pop(path, None)
    if t is None:
        import pyarrow.parquet as pq

        # single-chunk at load: every later combine_chunks() (prune
        # paths, append concat, per-value IN probes) becomes a no-op
        # instead of an O(table) copy each. The relocation rebase runs
        # here too, so every cached table is already in the domain of
        # the root it was loaded under.
        t = _rebase_part(pq.read_table(path).combine_chunks(), path)
        while len(_detail_cache) >= _DETAIL_CACHE_MAX:
            _detail_cache.pop(next(iter(_detail_cache)))
    # pop-and-reinsert makes eviction LRU, not FIFO: a working set
    # alternating over >max sidecars would otherwise re-read the
    # HOTTEST table from parquet on every touch
    _detail_cache[path] = t
    return t


def _load_detail_parts(paths: list[str]):
    """The detail table of a multipart chain: the parts align-concat'd
    in pointer order (cached per part AND per chain — manifests are
    immutable, so both keys are stable). A cross-part typed-index
    domain conflict (the append schema gate should make it impossible)
    rebuilds from the exact per-part dicts instead of guessing."""
    if len(paths) == 1:
        return _load_detail_table(paths[0])
    key = tuple(paths)
    t = _detail_cache.pop(key, None)
    if t is None:
        tables = [_load_detail_table(p) for p in paths]
        t = tables[0]
        for nxt in tables[1:]:
            combined = _align_detail_tables(t, nxt)
            if combined is None:
                stats: dict = {}
                blooms: dict = {}
                meta: dict = {}
                order: list[str] = []
                for tt in tables:
                    s, b, fm = _detail_to_dicts(tt)
                    stats.update(s)
                    blooms.update(b)
                    meta.update(fm)
                    order.extend(tt.column("path").to_pylist())
                t = _detail_table_from_dicts(
                    {
                        "file_stats": stats,
                        "file_blooms": blooms,
                        "file_meta": meta,
                    },
                    paths=order,
                )
                break
            t = combined
        while len(_detail_cache) >= _DETAIL_CACHE_MAX:
            _detail_cache.pop(next(iter(_detail_cache)))
    _detail_cache[key] = t
    return t


def _load_part_path_lists(paths: list[str]) -> list[str]:
    """The concatenated ``path`` column of a part chain WITHOUT loading
    the heavy columns (bloom words dominate part bytes) — the
    reconstruction path for ``files_in_detail`` heads. Uses a loaded
    part from the cache when present; otherwise a column-projected
    parquet read."""
    out: list[str] = []
    for p in paths:
        t = _detail_cache.get(p)
        if t is not None:
            out.extend(t.column("path").to_pylist())
        else:
            import pyarrow.parquet as pq

            out.extend(
                _rebase_part(pq.read_table(p, columns=["path"]), p)
                .column("path")
                .to_pylist()
            )
    return out


def _detail_to_dicts(table) -> tuple[dict, dict, dict]:
    """Exact reconstruction of (file_stats, file_blooms, file_meta) from
    the sidecar — bit-identical with what the inline JSON would have
    held (stats re-parse their original JSON text; bloom words re-hex at
    the same fixed 16-char width)."""
    paths = table.column("path").to_pylist()
    stats_json = table.column("stats_json").to_pylist()
    rows = table.column("rows").to_pylist()
    nbytes = table.column("bytes").to_pylist()
    stats = {
        p: json.loads(s) for p, s in zip(paths, stats_json) if s is not None
    }
    meta = {
        p: {"rows": r, "bytes": b}
        for p, r, b in zip(paths, rows, nbytes)
        if r is not None
    }
    blooms: dict = {}
    if "bloom" in table.column_names:
        bl = table.column("bloom").combine_chunks()
        for fld in bl.type:
            words_col = bl.field(fld.name).to_pylist()
            for p, words in zip(paths, words_col):
                if words is not None:
                    blooms.setdefault(p, {})[fld.name] = "".join(
                        f"{w:016x}" for w in words
                    )
    return stats, blooms, meta


class _LazyManifest(dict):
    """A manifest whose per-file detail lives in parquet sidecar parts:
    head keys answer from the JSON; first access to a detail key loads
    and reconstructs the exact dicts. ``files_in_detail`` heads also
    reconstruct ``files`` lazily, from a column-projected read of the
    parts' path column. ``dict(m)`` on an un-loaded instance would
    silently drop the lazy keys — re-serialization must go through
    ``_materialize``."""

    def __init__(self, head: dict, root: str):
        super().__init__(head)
        self._root = root
        self._loaded = False
        # files-in-detail head: the path list reconstructs from parts
        self._files_lazy = "files" not in head

    def _part_names(self) -> list[str]:
        return _pointer_names(self.head_copy())

    def _part_paths(self) -> list[str]:
        mdir = _manifest_dir(self._root)
        return [os.path.join(mdir, n) for n in self._part_names()]

    def _table(self):
        return _load_detail_parts(self._part_paths())

    def _ensure(self) -> None:
        if not self._loaded:
            stats, blooms, meta = _detail_to_dicts(self._table())
            self.update(
                {"file_stats": stats, "file_blooms": blooms, "file_meta": meta}
            )
            self._loaded = True

    def _ensure_files(self) -> None:
        if self._files_lazy and not super().__contains__("files"):
            super().__setitem__(
                "files", _load_part_path_lists(self._part_paths())
            )

    def __getitem__(self, k):
        if k in _DETAIL_KEYS and not self._loaded:
            self._ensure()
        elif k == "files":
            self._ensure_files()
        return super().__getitem__(k)

    def get(self, k, default=None):
        if k in _DETAIL_KEYS and not self._loaded:
            self._ensure()
        elif k == "files":
            self._ensure_files()
        return super().get(k, default)

    def __contains__(self, k):
        if k in _DETAIL_KEYS and not self._loaded:
            self._ensure()
        elif k == "files":
            self._ensure_files()
        return super().__contains__(k)

    def head_copy(self) -> dict:
        """A plain copy of the HEAD keys plus the sidecar pointer — the
        zero-copy base for a metadata-only commit or restore whose
        per-file detail is IDENTICAL to this manifest's (vacuum collects
        sidecar parts by reference, so sharing the pointer is safe).
        Lazily-loaded keys (detail dicts, a reconstructed ``files``
        list) are excluded — the pointer IS their representation."""
        drop = set(_DETAIL_KEYS)
        if self._files_lazy:
            drop.add("files")
        return {k: v for k, v in super().items() if k not in drop}


def _materialize(m: dict) -> dict:
    """A plain dict copy with the detail dicts AND file list PRESENT —
    the only safe way to re-serialize a possibly-lazy manifest
    (``dict(m)`` alone would drop un-loaded lazy keys). Sidecar-plane
    head bookkeeping is stripped: the result is a self-contained
    inline-form manifest."""
    if isinstance(m, _LazyManifest):
        m._ensure()
        m._ensure_files()
    d = dict(m)
    for k in _DETAIL_HEAD_KEYS:
        d.pop(k, None)
    return d


def _parts_fallback_to_dicts(
    parent_parts, deferred, files, materialize_files, merge_parent_dicts, mdir
):
    """Shared fallback for the two paths that must abandon the
    incremental part chain (out-of-universe dict entries; the inline
    threshold rising past the table size): materialize the path list if
    it was deferred, reconstruct the parent dicts from the chain, and
    merge them into the manifest. Returns the (possibly materialized)
    file list; the caller clears parent_parts/deferred."""
    if deferred:
        files = materialize_files(parent_parts)
    merge_parent_dicts(
        *_detail_to_dicts(
            _load_detail_parts([os.path.join(mdir, n) for n in parent_parts])
        )
    )
    return files


def _write_manifest_file(root: str, manifest: dict, pre_publish=None) -> None:
    """The single manifest serialization point: split the per-file
    detail into parquet sidecar PARTS above the inline threshold, then
    publish the head with O_EXCL (raises FileExistsError on a lost
    race, this call's parts removed). Part names carry a uuid so two
    racing committers of the same version can never cross-wire each
    other's detail files. A manifest that arrives with a pointer
    (``detail_files``) and NO detail dicts publishes
    the pointer as-is (shared parts — the metadata-commit / restore
    zero-copy path).

    Incremental appends (``_parent_detail_parts``) write ONE new part
    for the new files and share the parent's parts by name — O(new)
    metadata I/O — compacting the chain into a single part past
    ``DETAIL_PARTS_MAX``. Filtered/cross-root rewrites
    (``_parent_detail`` as an arrow table) write one fresh part. When
    the resulting chain is EXACT (its path rows reconstruct ``files``
    in order) and the file count exceeds ``FILES_INLINE_MAX``, the
    head drops the path list too (``files_in_detail``) — O(1) head.

    ``pre_publish`` (optional callable) runs IMMEDIATELY before the
    O_EXCL head write — i.e. AFTER the potentially multi-second sidecar
    serialization — so callers can narrow their vacuum-TOCTOU staged
    re-verify to the final syscall gap; if it raises, any parts this
    call wrote are removed first."""
    version = manifest["version"]
    mdir = _manifest_dir(root)
    # Every head records the on-disk FORMAT and the store root it was
    # published under. Readers refuse any other format, compare the
    # root against the one they were given and rebase the head's path
    # lists when the store has been moved (mv/cp/remount) — see
    # _read_manifest. Internal rebase bookkeeping never serializes.
    manifest.pop("_rebase", None)
    manifest["format"] = FORMAT
    manifest["root"] = os.path.abspath(root)

    def _touch_verify_shared(names: list[str]) -> None:
        # Touch first — the mtime refresh puts each shared part inside
        # vacuum's staged-grace window, so a concurrent sidecar sweep
        # (whose reference scan predates this head) cannot collect it
        # out from under the about-to-publish pointer — then verify.
        for name in names:
            shared = os.path.join(mdir, name)
            with contextlib.suppress(OSError):
                os.utime(shared, None)
            if not os.path.exists(shared):
                raise _SharedPartVanished(
                    f"detail sidecar {name} vanished before the manifest "
                    "publish — a concurrent vacuum collected it; re-run "
                    "against the current version"
                )

    def _post_verify_shared(names: list[str]) -> None:
        # Close the dangling-pointer window: a vacuum sweep whose
        # reference re-scan ran before the O_EXCL write may have
        # collected a shared part AFTER this head published. The head
        # is now visible to the sweep's re-scan, so a part that still
        # exists here is safe for good; one that vanished means this
        # publish lost the race — remove the head we just wrote
        # (CURRENT has not advanced yet, so no reader can have resolved
        # it) and surface the retryable conflict.
        gone = [n for n in names if not os.path.exists(os.path.join(mdir, n))]
        if gone:
            with contextlib.suppress(OSError):
                os.remove(_manifest_path(root, version))
            raise SnapshotConflict(
                f"detail sidecar {gone[0]} was vacuumed concurrently with "
                "the manifest publish — re-run against the current version"
            )

    pointer = _pointer_names(manifest)
    if pointer and not any(k in manifest for k in _DETAIL_KEYS):
        # Sharing EXISTING parts (metadata commit / restore).
        _touch_verify_shared(pointer)
        if pre_publish is not None:
            pre_publish()
        with open(_manifest_path(root, version), "x") as f:
            json.dump(manifest, f)
        _post_verify_shared(pointer)
        return
    parent_parts = manifest.pop("_parent_detail_parts", None)
    parent_detail = manifest.pop("_parent_detail", None)
    parent_exact = manifest.pop("_parent_detail_exact", False)
    new_files = manifest.pop("_new_files", None)
    deferred_count = manifest.pop("_file_count", None)
    # a detail-carrying write never inherits stale head bookkeeping
    # (e.g. a materialized restore source's pointer keys)
    for k in _DETAIL_HEAD_KEYS:
        manifest.pop(k, None)
    files = manifest.get("files")
    # DEFERRED list (append/dv-delete atop an exact O(1)-head parent):
    # the serializer plans from the COUNT and never materializes the
    # parent's path list — per-append metadata cost has no O(table)
    # term. Any path below that genuinely needs the list (threshold
    # changes, dict-rebuild fallbacks) reconstructs it from the parts.
    deferred = files is None and deferred_count is not None
    if files is None and not deferred:
        files = []
        manifest["files"] = files
    n_total = deferred_count if deferred else len(files)
    split = n_total > DETAIL_INLINE_MAX

    def _materialize_files(names: list[str]) -> list[str]:
        fl = _load_part_path_lists([os.path.join(mdir, n) for n in names]) + (
            list(new_files or [])
        )
        manifest["files"] = fl
        return fl
    part_names: list[str] = []
    exact = False
    wrote: list[str] = []  # parts THIS call wrote — cleaned up on failure

    def _read_shared(fn, parts):
        # Parent-part reads (compaction fold, dict fallbacks) can lose
        # the same vacuum race the touch-verify hook guards: type the
        # FNF as _SharedPartVanished ONLY when a genuinely shared part
        # is gone, so _publish_commit retries the race while unrelated
        # FileNotFoundErrors (corruption) stay hard errors.
        try:
            return fn()
        except FileNotFoundError as e:
            if any(
                n not in wrote
                and not os.path.exists(os.path.join(mdir, n))
                for n in parts
            ):
                raise _SharedPartVanished(str(e)) from e
            raise

    def _write_part(table) -> str:
        import pyarrow.parquet as pq

        name = f"v{version:012d}-{uuid.uuid4().hex[:8]}.detail.parquet"
        pq.write_table(
            _stamp_part_root(table, root), os.path.join(mdir, name)
        )
        wrote.append(name)
        return name

    def _merge_parent_dicts(p_stats: dict, p_blooms: dict, p_meta: dict):
        p_stats.update(manifest.get("file_stats") or {})
        for f, per in (manifest.get("file_blooms") or {}).items():
            p_blooms.setdefault(f, {}).update(per)
        p_meta.update(manifest.get("file_meta") or {})
        manifest["file_stats"] = p_stats
        manifest["file_blooms"] = p_blooms
        manifest["file_meta"] = p_meta

    if parent_parts is not None and split:
        # INCREMENTAL append: one O(new-files) part; the parent's parts
        # ride by NAME — no parent metadata read, no parent bytes
        # rewritten. This is what keeps a streaming sink's per-batch
        # commit cost independent of table size.
        new_dict_keys = (
            set(manifest.get("file_stats") or {})
            | set(manifest.get("file_blooms") or {})
            | set(manifest.get("file_meta") or {})
        )
        universe = new_files if new_files is not None else sorted(new_dict_keys)
        if new_dict_keys <= set(universe):
            part_names = list(parent_parts)
            if universe:
                part_names.append(
                    _write_part(
                        _detail_table_from_dicts(manifest, paths=list(universe))
                    )
                )
            exact = bool(parent_exact) and new_files is not None
        else:
            # a dict entry outside the new-file universe (should not
            # happen): reconstruct and take the exact dict path below
            files = _read_shared(
                lambda: _parts_fallback_to_dicts(
                    parent_parts, deferred, files, _materialize_files,
                    _merge_parent_dicts, mdir,
                ),
                parent_parts,
            )
            parent_parts, deferred = None, False
        if part_names and len(part_names) > DETAIL_PARTS_MAX:
            # compaction rung: fold the chain into ONE part (reads
            # O(files) once per DETAIL_PARTS_MAX appends — Delta's
            # every-N-commits checkpoint amortization). A parent
            # part vanishing DURING this read is the same
            # vacuum-race as the touch-verify case — typed so the
            # caller retries it, while unrelated FNFs stay hard.
            merged = _read_shared(
                lambda: _load_detail_parts(
                    [os.path.join(mdir, n) for n in part_names]
                ),
                part_names,
            )
            cname = _write_part(merged)
            # uncache the pre-compaction chain key eagerly and seed
            # the compacted part (it IS the merged table) — through
            # the same eviction loop every other insertion runs, so
            # the cache bound holds even right after a compaction
            _detail_cache.pop(
                tuple(os.path.join(mdir, n) for n in part_names), None
            )
            while len(_detail_cache) >= _DETAIL_CACHE_MAX:
                _detail_cache.pop(next(iter(_detail_cache)))
            _detail_cache[os.path.join(mdir, cname)] = merged
            part_names = [cname]
    elif parent_parts is not None:
        # threshold dropped below the table size: inline now required
        files = _read_shared(
            lambda: _parts_fallback_to_dicts(
                parent_parts, deferred, files, _materialize_files,
                _merge_parent_dicts, mdir,
            ),
            parent_parts,
        )
        parent_parts, deferred = None, False
    detail_table = None
    if parent_detail is not None:
        if split:
            # filtered/cross-root rewrite: concat the carried arrow
            # table with the NEW files' rows — O(touched + new) dict
            # work, one fresh part
            try:
                new_rows = _detail_table_from_dicts(
                    manifest, paths=list(new_files) if new_files is not None else None
                )
            except ValueError:
                new_rows = _detail_table_from_dicts(manifest)
                new_files = None
            detail_table = _align_detail_tables(parent_detail, new_rows)
            exact = bool(parent_exact) and new_files is not None
        if detail_table is None:
            # alignment conflict, or inline required: reconstruct the
            # parent dicts and fall through to the dict path
            _merge_parent_dicts(*_detail_to_dicts(parent_detail))
            exact = False
    manifest = _materialize(manifest)
    head = manifest
    if split and not part_names:
        if detail_table is not None:
            part_names = [_write_part(detail_table)]
        else:
            # full dict path: ONE part whose rows are EXACTLY the file
            # list, in order — this is what licenses files_in_detail,
            # and a non-exact chain re-earns exactness here on its next
            # full rewrite
            try:
                table = _detail_table_from_dicts(manifest, paths=list(files))
                exact = True
            except ValueError:
                # detail entries outside the file list (defensive):
                # keep every entry, forfeit head-list elision
                table = _detail_table_from_dicts(manifest)
                exact = False
            part_names = [_write_part(table)]
    if part_names:
        head = {k: v for k, v in manifest.items() if k not in _DETAIL_KEYS}
        head["detail_files"] = part_names
        if exact and n_total > FILES_INLINE_MAX:
            head["detail_exact"] = True
            head.pop("files", None)
            head["files_in_detail"] = True
            head["file_count"] = n_total
        else:
            if exact:
                head["detail_exact"] = True
            if head.get("files") is None:
                # the list must ride inline here (threshold change, or
                # a defensive path) — the parts are its only source
                head["files"] = _load_part_path_lists(
                    [os.path.join(mdir, n) for n in part_names]
                )
    shared_parts = [n for n in part_names if n not in wrote]
    try:
        if shared_parts:
            _touch_verify_shared(shared_parts)
        if pre_publish is not None:
            pre_publish()
        with open(_manifest_path(root, version), "x") as f:
            json.dump(head, f)
    except BaseException:
        for n in wrote:
            with contextlib.suppress(OSError):
                os.remove(os.path.join(mdir, n))
        raise
    if shared_parts:
        try:
            _post_verify_shared(shared_parts)
        except SnapshotConflict:
            for n in wrote:
                with contextlib.suppress(OSError):
                    os.remove(os.path.join(mdir, n))
            raise
    # a part superseded within this call (pre-compaction write) is
    # garbage the moment the head publishes without it
    for n in wrote:
        if n not in part_names:
            with contextlib.suppress(OSError):
                os.remove(os.path.join(mdir, n))


def _advance_current(root: str, version: int) -> None:
    tmp = _current_path(root) + f".{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        f.write(str(version))
    os.replace(tmp, _current_path(root))


def _list_parquet(d: str) -> list[str]:
    """Absolute paths, always: manifest file entries are compared
    against scan-metadata paths (merge/update touched-file discovery,
    DV matching, the CDF path->version map) and against vacuum's
    directory walk — a RELATIVE store root would silently break every
    one of those set memberships (empty touched sets, wrong-answer
    feeds), so the absolute form is pinned at the single point where
    file lists are born.

    FORMAT CONTRACT (explicit, by design): manifests persist ABSOLUTE
    data-file paths, and every head additionally records the on-disk
    ``format`` (``FORMAT``; readers refuse any other) and the store root
    it was published under (``root`` key). Relocatability comes
    from REBASE-ON-READ rather than root-relative storage: readers
    compare the recorded root against the root they were handed and
    rewrite path prefixes at load (heads in ``_rebase_head``, sidecar
    parts via their ``wsspark_part_root`` schema metadata in
    ``_rebase_part``, deletion-vector rows via their per-row ``root``
    column in ``_dv_plain_expr``) — so a store moved with mv/cp/remount
    keeps reading, while every in-memory invariant and compare site
    stays in the absolute-path domain. Delta/Iceberg reach the same
    property with root-relative paths; rebase-on-read was chosen so the
    on-disk form and all set-membership comparisons stay unchanged
    (tests/test_snapstore_relocate.py pins it)."""
    return sorted(
        os.path.abspath(os.path.join(d, f))
        for f in os.listdir(d)
        if f.endswith(".parquet")
    )


def _touch(path: str) -> None:
    """Create-or-refresh a marker file's mtime (underscore-prefixed names
    are invisible to Spark's directory reads)."""
    with open(path, "a"):
        os.utime(path, None)


def _json_stat(v, direction: int = 0):
    """Manifest-serializable min/max: datetimes/dates become ISO strings
    (lexicographic order == temporal order, so range overlap tests stay
    plain string comparisons). Decimal (Spark collects DecimalType min/max
    as decimal.Decimal, which json.dump rejects) canonicalizes to float
    with DIRECTIONAL rounding — ``direction=-1`` never lands above the true
    value, ``+1`` never below — so a stored [min, max] only ever WIDENS and
    pruning stays sound even past float's 53-bit exactness; probe values
    widen the same way on the query side."""
    import decimal as _dec

    if isinstance(v, _dec.Decimal):
        import math as _math

        f = float(v)
        if direction < 0 and _dec.Decimal(f) > v:
            f = _math.nextafter(f, -_math.inf)
        elif direction > 0 and _dec.Decimal(f) < v:
            f = _math.nextafter(f, _math.inf)
        return f
    return v.isoformat() if hasattr(v, "isoformat") else v


def _session_ts_normalizer(spark: SparkSession):
    """TimestampType values collected on the driver are rendered in the
    SYSTEM timezone (PySpark's fromInternal), while predicate literals
    are interpreted in the SESSION timezone — on a non-UTC driver with
    a pinned session tz the two string domains shift apart and every
    stats comparison (pruning, merge bounds) goes quietly wrong.
    Returns f(naive system-local datetime) -> naive session-tz
    datetime, or None when no conversion is needed (session tz unset =
    JVM default = system tz) or the session tz is unparseable (keep the
    old domain rather than guess)."""
    sess = None
    try:
        sess = spark.conf.get("spark.sql.session.timeZone")
    except Exception:
        return None
    if not sess:
        return None
    try:
        import zoneinfo

        tz = zoneinfo.ZoneInfo(sess)
    except Exception:
        return None

    def _norm(v):
        return v.astimezone().astimezone(tz).replace(tzinfo=None)

    return _norm


def _footer_file_stats(files: list[str], stats_cols: list[str]) -> dict | None:
    """Exact per-file min/max of ``stats_cols`` read from the just-written
    parquet FOOTERS — O(files) metadata-only reads (~35 us/file hot)
    instead of a Spark job that re-reads every stats column's data pages
    (guide §6: don't re-scan what the write already summarized). Only the
    provably-exact type families ride this path: integers (footer min/max
    is the exact value) and dates (date32 -> datetime.date, the same
    object the Spark collect yields). Floats (NaN rows are omitted from
    parquet stats but ARE Spark's max), strings (writers may truncate
    byte-array stats), timestamps (session-tz normalization) and anything
    nested return None — the caller falls back to the distributed
    aggregation, which is always exact. Files with zero rows are skipped
    (the Spark groupBy never yields them either); a row group missing
    stats for a non-all-NULL column forces the fallback."""
    import pyarrow.parquet as pq
    import pyarrow.types as pat

    out: dict = {}
    for path in files:
        try:
            md = pq.ParquetFile(path).metadata
        except Exception:
            return None
        if md.num_rows == 0:
            continue
        # flat-schema name -> parquet column index (nested paths contain
        # '.' and never equal a plain stats col name -> fallback)
        col_idx = {}
        arrow_schema = md.schema.to_arrow_schema()
        for j in range(md.num_columns):
            col_idx[md.schema.column(j).path] = j
        per_col: dict = {}
        for c in stats_cols:
            j = col_idx.get(c)
            if j is None:
                return None
            fi = arrow_schema.get_field_index(c)
            if fi < 0:
                return None
            t = arrow_schema.field(fi).type
            if not (pat.is_integer(t) or pat.is_date(t)):
                return None
            mn = mx = None
            nulls = 0
            values = 0
            for g in range(md.num_row_groups):
                cm = md.row_group(g).column(j)
                values += md.row_group(g).num_rows
                st = cm.statistics
                if st is None:
                    return None
                if st.null_count is not None:
                    nulls += st.null_count
                if not st.has_min_max:
                    # legitimate only when the whole row group is NULL
                    if st.null_count != md.row_group(g).num_rows:
                        return None
                    continue
                mn = st.min if mn is None else min(mn, st.min)
                mx = st.max if mx is None else max(mx, st.max)
            if mn is None and nulls < values:
                return None  # stats absent for real values: can't trust
            per_col[c] = [_json_stat(mn, -1), _json_stat(mx, 1)]
        out[path] = per_col
    return out


def _collect_file_stats(
    spark: SparkSession,
    commit_dir: str | list[str],
    stats_cols: list[str],
    schema: T.StructType | None = None,
) -> dict:
    """Per-file min/max of ``stats_cols`` over the just-written commit
    directory (or an explicit file list — ``snap_analyze``'s resident
    re-profile): footer metadata when the column types make that exact
    (``_footer_file_stats``), else ONE distributed aggregation grouped on
    the hidden ``_metadata.file_path`` column — output is O(files x cols)
    rows, the only thing the driver ever holds."""
    from urllib.parse import unquote, urlparse

    paths = commit_dir if isinstance(commit_dir, list) else [commit_dir]
    if schema is None:
        files = (
            _list_parquet(commit_dir)
            if isinstance(commit_dir, str)
            else [os.path.abspath(f) for f in commit_dir]
        )
        fast = _footer_file_stats(files, stats_cols)
        if fast is not None:
            return fast
    reader = spark.read.schema(schema) if schema is not None else spark.read
    df = reader.parquet(*paths)
    aggs = []
    for c in stats_cols:
        aggs.append(F.min(c).alias(f"__min_{c}"))
        aggs.append(F.max(c).alias(f"__max_{c}"))
    rows = (
        df.select(F.col("_metadata.file_path").alias("__path"), *stats_cols)
        .groupBy("__path")
        .agg(*aggs)
        .collect()
    )
    # session-tz domain for TimestampType stats (TIMESTAMP_NTZ and DATE
    # values are tz-free and pass through)
    norm = _session_ts_normalizer(spark)
    ts_cols = {
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, T.TimestampType)
    }

    def _stat(c, v, direction):
        if norm is not None and c in ts_cols and v is not None:
            v = norm(v)
        return _json_stat(v, direction=direction)

    stats: dict = {}
    for r in rows:
        path = unquote(urlparse(r["__path"]).path)
        stats[path] = {
            c: [
                _stat(c, r[f"__min_{c}"], -1),
                _stat(c, r[f"__max_{c}"], 1),
            ]
            for c in stats_cols
        }
    return stats


def _footer_meta(path: str) -> dict:
    """{rows, bytes} for one parquet file from its footer + inode — no
    data pages touched. Called at commit time for just-written files (the
    footer is hot) and for deletion-vector / change-feed sidecar row
    counts."""
    import pyarrow.parquet as pq

    return {
        "rows": pq.ParquetFile(path).metadata.num_rows,
        "bytes": os.path.getsize(path),
    }


# Column types whose Spark ``cast("string")`` form is byte-identical to
# Python's str() — the precondition for the driver-side bloom probe to
# hash the SAME bytes the distributed build hashed. Skipping that drops a
# file containing the value is a WRONG ANSWER, not a slow one, so the
# whitelist is enforced at build time rather than documented.
_BLOOM_TYPES = (T.StringType, T.IntegerType, T.LongType, T.ShortType, T.ByteType)


def _bloom_positions_py(value, n_bits: int, k: int) -> list[int]:
    """Driver-side replica of ``llmops.bloom.probe_positions`` (md5hex
    scheme): h1/h2 = the two 32-bit halves of md5(str(value))'s 16-hex
    prefix, probe i at (h1 + i*h2) mod n_bits. Bit-exact with the Spark
    expressions (conv/pmod on non-negative longs == int()/% here), which
    is what makes manifest-bloom skipping SOUND: a file is dropped only
    if the exact bits the build set are absent."""
    import hashlib

    hx = hashlib.md5(str(value).encode("utf-8")).hexdigest()[:16]
    h1 = int(hx[:8], 16)
    h2 = int(hx[8:16], 16)
    return [(h1 + i * h2) % n_bits for i in range(1, k + 1)]


def _canonical_eq_value(manifest_schema_json: str, col: str, value):
    """Coerce an equality-probe value to the EXACT form the bloom build
    hashed (Spark ``cast(col as string)`` of the column's declared type),
    or return None when no sound canonical form exists — the caller then
    prunes NOTHING for that predicate and the residual filter decides.
    This is what keeps type-sloppy probes (1.0 against a bigint column,
    an int against a string column) from becoming silent false drops."""
    try:
        schema = T.StructType.fromJson(json.loads(manifest_schema_json))
        dtype = schema[col].dataType
    except Exception:
        return None
    if isinstance(value, bool):
        return None  # bool str() is 'True'/'False', never the cast form
    if isinstance(dtype, T.StringType):
        return value if isinstance(value, str) else None
    if isinstance(dtype, (T.IntegerType, T.LongType, T.ShortType, T.ByteType)):
        if isinstance(value, int):
            return value
        if isinstance(value, float) and value.is_integer():
            return int(value)
        return None
    return None


def _collect_file_blooms(
    spark: SparkSession,
    commit_dir: str | list[str],
    bloom_cols: list[str],
    n_bits: int,
    k: int,
    schema: T.StructType | None = None,
) -> dict:
    """Per-file Bloom bitmaps of ``bloom_cols`` over the just-written
    commit directory — the equality-predicate complement to min/max
    stats. ONE distributed explode+bit_or aggregation for ALL columns
    grouped on ``_metadata.file_path``; the driver holds O(files x cols
    x n_bits/63)
    longs (n_bits=2^14 -> ~2 KiB hex per file per column). Bitmaps are
    packed as fixed-width hex (16 chars per 63-bit word, word 0 first) so
    the manifest stays one self-contained JSON."""
    from urllib.parse import unquote, urlparse

    from wsspark.llmops.bloom import probe_positions

    df = (spark.read.schema(schema) if schema is not None else spark.read).parquet(*(commit_dir if isinstance(commit_dir, list) else [commit_dir]))
    for c in bloom_cols:
        if not isinstance(df.schema[c].dataType, _BLOOM_TYPES):
            raise ValueError(
                f"bloom_cols[{c!r}] has type {df.schema[c].dataType} — "
                "manifest blooms support string/integral columns only "
                "(the driver-side probe must hash the identical string "
                "form the build hashed)"
            )
    n_words = n_bits // 63 + 1
    # ONE job for every bloom column: explode (col_idx, position) structs
    # across all columns' k probes, then a single combinable bit_or
    # grouped on (file, col, word) — a commit with 3 bloom columns scans
    # the just-written data once, not three times.
    pairs = []
    for ci, c in enumerate(bloom_cols):
        key = F.substring(F.md5(F.col(c).cast("string")), 1, 16)
        for p in probe_positions(key, n_bits, k):
            pairs.append(
                F.when(
                    F.col(c).isNotNull(),
                    F.struct(
                        F.lit(ci).alias("ci"), p.cast("long").alias("pos")
                    ),
                )
            )
    e = F.explode(
        F.filter(F.array(*pairs), lambda s: s.isNotNull())
    ).alias("_e")
    rows = (
        df.select(
            F.col("_metadata.file_path").alias("__path"), *bloom_cols
        )
        .select("__path", e)
        .groupBy(
            "__path",
            F.col("_e.ci").alias("_ci"),
            F.floor(F.col("_e.pos") / 63).cast("long").alias("_w"),
        )
        .agg(
            F.bit_or(
                F.call_function(
                    "shiftleft",
                    F.lit(1).cast("long"),
                    F.pmod(F.col("_e.pos"), F.lit(63)).cast("int"),
                )
            ).alias("_bits")
        )
        .collect()
    )
    per: dict[tuple, list[int]] = {}
    for r in rows:
        path = unquote(urlparse(r["__path"]).path)
        per.setdefault((path, int(r["_ci"])), [0] * n_words)[int(r["_w"])] = (
            int(r["_bits"])
        )
    blooms: dict = {}
    for (path, ci), dense in per.items():
        blooms.setdefault(path, {})[bloom_cols[ci]] = "".join(
            f"{w:016x}" for w in dense
        )
    return blooms


# TABLE PROPERTIES — the per-table settings a head carries beside its
# data: the CHECK ``constraints`` and the change-data-feed flag ``cdf``.
# ``_props`` is the one place a commit builds them; every commit site
# publishes its record, so a new property is one entry here.
_PROP_DEFAULTS = {"constraints": {}, "cdf": False}


def _props(src: dict | None, **changes) -> dict:
    """The table-properties record a commit publishes: ``src``'s
    properties with ``changes`` applied, or the defaults for no source.
    The per-mode rule: appends, maintenance overwrites, DML and metadata
    commits pass their parent; a restore passes the version it restores;
    a user overwrite passes None (a new shape starts bare); a clone
    passes its source with ``cdf=False`` (its lineage starts without a
    change feed)."""
    out = {k: (src or {}).get(k, v) for k, v in _PROP_DEFAULTS.items()}
    out.update(changes)
    out["constraints"] = dict(out["constraints"])
    return out


def _resolve_commit(
    root: str,
    mode: str,
    schema,
    bloom_cols: list[str] | None,
    bloom_bits: int,
    bloom_k: int,
    evolve: bool,
    expected_parent: int | None = None,
    maintenance: bool = False,
) -> dict:
    """Shared first phase of a commit (used by ``snap_commit`` and the
    ``format("snapstore")`` distributed writer): resolve parent/version,
    enforce the schema gate (exact match, or add-column evolution), and
    the per-column bloom-geometry gate. Returns the resolved context the
    publish phase needs. Raises before any manifest is touched.

    ``expected_parent`` is the lost-update guard for read-modify-write
    maintenance commits (compact/optimize): those pin a version, run
    long scans over it, then overwrite — and an append landing DURING
    the scan would be silently erased, because the overwrite resolves
    its parent from CURRENT at this later moment and O_EXCL only
    catches races on the SAME version number. Passing the pinned
    version here raises ``SnapshotConflict`` if CURRENT moved past it
    (Delta's OPTIMIZE fails this conflict the same way); after this
    resolve, any commit landing before publish bumps the version
    number, which the O_EXCL publish does catch."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode}")
    os.makedirs(_manifest_dir(root), exist_ok=True)
    parent = snap_current_version(root)
    if expected_parent is not None and parent != expected_parent:
        raise SnapshotConflict(
            f"store advanced to version {parent} while this commit was "
            f"prepared against version {expected_parent} — reload and retry"
        )
    ctx = {
        "parent": parent,
        "version": 0 if parent is None else parent + 1,
        "parent_files": [],
        "parent_stats": {},
        "parent_blooms": {},
        "parent_bloom_meta": {},
        "parent_file_meta": {},
        "manifest_schema": schema,
        # deletes stay deleted across appends; an overwrite replaces the
        # lineage and with it every deletion vector
        "dv_files": [],
        # an explicit user overwrite is a new shape: it drops the table
        # properties (re-add deliberately); the branches below carry them
        "props": _props(None),
    }
    if mode == "overwrite" and maintenance and parent is not None:
        # A MAINTENANCE rewrite republishes the same logical data
        # (compact/optimize pin a version, scan it, rewrite) — the
        # table's CHECK constraints must survive it, exactly as Delta's
        # OPTIMIZE preserves table metadata, and the commit is marked
        # content-preserving so a change-feed read crosses it as a
        # zero-change commit instead of refusing. The flag is EXPLICIT
        # (passed only by compact/optimize), never inferred from
        # expected_parent alone: a user overwrite published under a
        # concurrency guard (e.g. a WAP overwrite) is a deliberate new
        # shape whose changes a feed must refuse, not skip.
        ctx["props"] = _props(_read_manifest(root, parent))
        ctx["content_preserving"] = True
    if mode == "append" and parent is not None:
        pm = _read_manifest(root, parent)
        if evolve:
            parent_schema = T.StructType.fromJson(json.loads(pm["schema"]))
            fields = {f.name: f for f in schema.fields}
            for pf in parent_schema.fields:
                nf = fields.get(pf.name)
                if nf is None:
                    raise ValueError(
                        f"evolve append drops column {pf.name!r} — column "
                        "drops/renames need an explicit overwrite rewrite"
                    )
                if nf.dataType != pf.dataType:
                    raise ValueError(
                        f"evolve append changes {pf.name!r} type "
                        f"{pf.dataType} -> {nf.dataType} — type changes "
                        "need an explicit overwrite rewrite"
                    )
            # added columns are relaxed to nullable in the manifest —
            # resident files read them as NULL, so a non-nullable added
            # field would lie about the data; surviving columns keep
            # nullable if EITHER side was (resident nulls stay legal)
            parent_nullable = {
                f.name: f.nullable for f in parent_schema.fields
            }
            ctx["manifest_schema"] = T.StructType(
                [
                    T.StructField(
                        f.name,
                        f.dataType,
                        parent_nullable.get(f.name, True) or f.nullable,
                        f.metadata,
                    )
                    for f in schema.fields
                ]
            )
        else:
            parent_schema = T.StructType.fromJson(json.loads(pm["schema"]))
            if [(f.name, f.dataType) for f in parent_schema.fields] != [
                (f.name, f.dataType) for f in schema.fields
            ]:
                raise ValueError(
                    "append schema mismatch vs parent manifest; use "
                    "mode='overwrite' for an explicit schema change, or "
                    "evolve=True for add-column evolution"
                )
            # names+types gate; NULLABILITY is unioned, not gated — Spark
            # flips it freely (every file-source read relaxes to nullable,
            # so a compact would otherwise lock plain appends out), and
            # widening can never invalidate resident data
            ctx["manifest_schema"] = T.StructType(
                [
                    T.StructField(
                        pf.name,
                        pf.dataType,
                        pf.nullable or nf.nullable,
                        pf.metadata,
                    )
                    for pf, nf in zip(parent_schema.fields, schema.fields)
                ]
            )
        # INCREMENTAL detail for appends on a sidecar-backed parent:
        # the parent's parts ride by NAME (a new O(new-files) part is
        # written at publish; no parent metadata is read or rewritten)
        # — the write-side analogue of Delta's incremental checkpoints,
        # and what keeps the streaming sink's per-batch commit cost
        # O(new files) on a million-file table. On an exact O(1)-head
        # parent even the PATH LIST stays unread: the append carries
        # only the parent's file COUNT, and the published head defers
        # the list to the parts — per-append metadata cost is then
        # O(new files) with no O(table) term at all.
        if isinstance(pm, _LazyManifest) and not pm._loaded:
            ctx["parent_detail_parts"] = pm._part_names()
            ctx["parent_detail_exact"] = pm.get("detail_exact", False)
            if pm._files_lazy and ctx["parent_detail_exact"]:
                ctx["parent_files"] = None
                ctx["parent_file_count"] = int(
                    dict.__getitem__(pm, "file_count")
                )
            else:
                ctx["parent_files"] = pm["files"]
            ctx["parent_stats"] = {}
            ctx["parent_blooms"] = {}
            ctx["parent_file_meta"] = {}
        else:
            ctx["parent_files"] = pm["files"]
            ctx["parent_stats"] = pm.get("file_stats", {})
            ctx["parent_blooms"] = pm.get("file_blooms", {})
            ctx["parent_file_meta"] = pm.get("file_meta", {})
        ctx["parent_bloom_meta"] = pm.get("bloom_meta", {})
        ctx["dv_files"] = pm.get("dv_files") or []
        ctx["props"] = _props(pm)
        for c in bloom_cols or []:
            meta = ctx["parent_bloom_meta"].get(c)
            if meta and (meta["n_bits"], meta["k"]) != (bloom_bits, bloom_k):
                raise ValueError(
                    f"bloom geometry mismatch for {c!r}: parent has "
                    f"n_bits={meta['n_bits']} k={meta['k']}, append asked "
                    f"n_bits={bloom_bits} k={bloom_k} — a bloom filter "
                    "cannot be resized; rebuild via an overwrite commit"
                )
    return ctx


def _publish_commit(
    root: str,
    ctx: dict,
    mode: str,
    tag,
    new_files: list[str],
    new_stats: dict,
    new_blooms: dict,
    bloom_geometry: dict,
    new_file_meta: dict,
    cleanup_dir: str | None,
) -> int:
    """Shared second phase: assemble the manifest and publish it with
    O_EXCL + CURRENT advance. On a lost race the staged ``cleanup_dir``
    is removed and ``SnapshotConflict`` raised — exactly one committer
    wins a version."""
    # A long stats/bloom phase can outlive a concurrent vacuum's staged
    # grace window; publishing a manifest that references deleted files
    # would corrupt CURRENT for every reader. Verify the staged files
    # still exist before anything touches them (the footer-meta loop
    # below opens each one) and abort with the retryable error instead
    # (snap_commit_with_retry re-writes the data per attempt). The
    # in-commit background heartbeat thread (snap_commit's _beat, alive
    # through this whole publish) makes this a last-resort check, not
    # the primary defense; it is re-run just before the O_EXCL write.
    missing = [f for f in new_files if not os.path.exists(f)]
    if missing:
        if cleanup_dir:
            import shutil

            shutil.rmtree(cleanup_dir, ignore_errors=True)
        raise StagedCommitVacuumed(
            f"{len(missing)} staged file(s) vanished before publish "
            f"(first: {missing[0]}) — a concurrent snap_vacuum likely "
            "collected them; re-run the commit"
        )
    bloom_meta = dict(ctx["parent_bloom_meta"])
    bloom_meta.update(bloom_geometry)
    file_stats = dict(ctx["parent_stats"])
    file_stats.update(new_stats)
    file_blooms = dict(ctx["parent_blooms"])
    for path, per_col in new_blooms.items():
        file_blooms.setdefault(path, {}).update(per_col)
    # rows/bytes per file from the just-written footers (hot, no data
    # pages) -> COUNT(*) and table-size become manifest lookups forever
    file_meta = dict(ctx["parent_file_meta"])
    for nf in new_files:
        file_meta[nf] = new_file_meta.get(nf) or _footer_meta(nf)
    deferred = ctx.get("parent_files") is None and "parent_file_count" in ctx
    manifest = {
        "version": ctx["version"],
        "parent": ctx["parent"],
        "mode": mode,
        "tag": tag,
        "schema": ctx["manifest_schema"].json(),
        # deferred list (exact O(1)-head parent): the serializer works
        # from the COUNT; the list stays in the sidecar parts
        "files": None if deferred else ctx["parent_files"] + new_files,
        "file_stats": file_stats,
        "file_blooms": file_blooms,
        "bloom_meta": bloom_meta,
        "file_meta": file_meta,
        "dv_files": ctx.get("dv_files", []),
        **ctx["props"],
        "cdf_files": ctx.get("cdf_files", []),
        "content_preserving": ctx.get("content_preserving", False),
        # wall-clock publish instant: TIMESTAMP AS OF + time-based
        # retention plan from this, never from file mtimes
        "ts": time.time(),
    }
    if "parent_detail_parts" in ctx:
        # append/dv-delete atop a sidecar-backed parent: the dicts
        # above hold only the NEW files' detail; the parent's parts
        # ride by NAME for the incremental part write
        manifest["_parent_detail_parts"] = ctx["parent_detail_parts"]
        manifest["_parent_detail_exact"] = ctx.get("parent_detail_exact", False)
    elif "parent_detail" in ctx:
        # filtered/cross-root parent metadata rides as an arrow table
        # for the one-fresh-part concat in _write_manifest_file
        manifest["_parent_detail"] = ctx["parent_detail"]
        manifest["_parent_detail_exact"] = ctx.get("parent_detail_exact", False)
    manifest["_new_files"] = list(new_files)
    if deferred:
        manifest["_file_count"] = ctx["parent_file_count"] + len(new_files)
    # Re-verify IMMEDIATELY before the O_EXCL write — as a pre_publish
    # hook so it runs AFTER the (potentially multi-second) sidecar
    # serialization inside _write_manifest_file, not before it: the
    # footer-meta loop above and the sidecar write both take real time
    # on many files, and each would otherwise re-open the window in
    # which a concurrent vacuum collects the staged files and this
    # manifest publishes dangling references. The background heartbeat
    # makes that vacuum unlikely; the hook narrows the residual TOCTOU
    # to the single syscall gap.
    def _verify_staged():
        missing = [f for f in new_files if not os.path.exists(f)]
        if missing:
            raise StagedCommitVacuumed(
                f"{len(missing)} staged file(s) vanished during publish "
                f"(first: {missing[0]}) — a concurrent snap_vacuum likely "
                "collected them; re-run the commit"
            )

    try:
        # O_EXCL publish: exactly one committer wins version N
        _write_manifest_file(root, manifest, pre_publish=_verify_staged)
    except (StagedCommitVacuumed, SnapshotConflict):
        # SnapshotConflict: the shared-part post-publish re-verify lost
        # its race (head already rolled back inside the serializer) —
        # retryable, and the loser's staged data must not leak
        if cleanup_dir:
            import shutil

            shutil.rmtree(cleanup_dir, ignore_errors=True)
        raise
    except _SharedPartVanished as e:
        # a SHARED parent part vanished before the head write: an
        # incremental append racing a vacuum whose reference scan
        # predates this commit. Same remediation as every other lost
        # race — clean up and retry against the advanced store — so
        # surface it as the retryable conflict. ONLY the typed race is
        # converted: any other FileNotFoundError (persistent corruption,
        # an unrelated missing file) propagates as the hard error it is
        # instead of being blamed on a vacuum and retried forever.
        if cleanup_dir:
            import shutil

            shutil.rmtree(cleanup_dir, ignore_errors=True)
        raise SnapshotConflict(
            f"a shared detail sidecar part vanished during the publish of "
            f"version {ctx['version']} — a concurrent vacuum collected it; "
            "reload and retry"
        ) from e
    except FileExistsError:
        if cleanup_dir:
            import shutil

            shutil.rmtree(cleanup_dir, ignore_errors=True)
        raise SnapshotConflict(
            f"version {ctx['version']} already committed — reload and retry"
        ) from None
    _advance_current(root, ctx["version"])
    return ctx["version"]


@contextlib.contextmanager
def _heartbeat(commit_dir: str):
    """Daemon thread refreshing ``commit_dir/_heartbeat`` every few
    seconds for the enclosed block — vacuum measures staged grace from
    the dir's LAST activity, and a single Spark job (a slow stats/bloom
    collection, a long write) can outlive the grace window; touching only
    between jobs leaves the files collectable mid-job. Shared by
    ``snap_commit`` and ``snap_stage``."""
    hb_stop = threading.Event()
    hb_path = os.path.join(commit_dir, "_heartbeat")

    def _beat() -> None:
        while not hb_stop.wait(5.0):
            try:
                _touch(hb_path)
            except OSError:  # dir vacuumed/cleaned: publish will raise
                return

    hb = threading.Thread(target=_beat, daemon=True, name="snap-heartbeat")
    _touch(hb_path)
    hb.start()
    try:
        yield
    finally:
        hb_stop.set()
        hb.join(timeout=10.0)


def snap_commit(
    df: DataFrame,
    root: str,
    mode: str = "append",
    tag: int | str | None = None,
    stats_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    bloom_bits: int = 1 << 14,
    bloom_k: int = 4,
    evolve: bool = False,
    expected_parent: int | None = None,
    maintenance: bool = False,
    write_options: dict | None = None,
) -> int:
    """Publish ``df`` as the next version; returns the version number.

    ``write_options``: extra DataFrameWriter options for the data-file
    write (e.g. ``{"maxRecordsPerFile": "10000"}`` for a task-side
    combined write — many range-clustered files from few tasks, guide §6
    small-files: each writer task splits its sorted output at the row
    budget instead of paying one task launch + task commit per file).
    Purely a physical-layout knob: the committed rows are unchanged.

    ``expected_parent`` (optional): raise ``SnapshotConflict`` unless the
    store's CURRENT version still equals it at resolve time — the
    read-modify-write guard for maintenance commits that pinned a
    version before a long scan (see ``_resolve_commit``).

    ``append`` extends the parent's file list (schema must match the
    parent exactly); ``overwrite`` replaces it. Data files are written
    once under an immutable per-commit directory — an append never
    rewrites resident data. ``tag`` rides in the manifest (e.g. a
    streaming batch id) so idempotent writers can detect an
    already-published attempt: the commit IS the marker, closing the
    crash window a separate apply-log would leave. ``stats_cols``
    records per-file min/max for those columns in the manifest (see
    ``snap_read_between``); ``bloom_cols`` records per-file Bloom
    bitmaps for equality-predicate skipping (see ``snap_read_where_eq``
    — the high-cardinality point-lookup case min/max cannot prune).
    Appends keep the parent's stats/blooms for resident files untouched
    and must reuse the parent's bloom geometry per column (a filter
    cannot be resized).

    ``evolve=True`` permits ADD-COLUMN schema evolution on an append:
    the incoming schema may extend the parent's with new NULLABLE
    columns (every parent column must survive with its exact type — no
    drops, no type changes, which would need a rewrite and are an
    explicit overwrite here). The manifest schema advances to the
    superset; resident files are untouched and read as NULL for the new
    columns (the explicit-schema parquet read fills missing columns),
    while time travel to pre-evolution versions keeps the old shape —
    schema history IS version history."""
    ctx = _resolve_commit(
        root,
        mode,
        df.schema,
        bloom_cols,
        bloom_bits,
        bloom_k,
        evolve,
        expected_parent=expected_parent,
        maintenance=maintenance,
    )
    # table CHECK constraints gate the incoming rows BEFORE any file is
    # written (one fused aggregation; ConstraintViolation, not a publish)
    _check_constraints(df, ctx["props"]["constraints"])
    commit_dir = os.path.join(
        _data_dir(root), f"commit-{ctx['version']:012d}-{uuid.uuid4().hex[:8]}"
    )
    writer = df.write.mode("error")
    if write_options:
        writer = writer.options(**write_options)
    writer.parquet(commit_dir)
    # Background heartbeat: vacuum measures staged grace from the dir's
    # LAST activity, and a SINGLE stats/bloom job can outlive the grace
    # window — beating only between jobs leaves the files collectable
    # mid-job. A daemon thread refreshes the marker every few seconds
    # from data-write until publish returns, so a slow commit's files
    # stay alive however long its jobs take.
    with _heartbeat(commit_dir):
        new_files = _list_parquet(commit_dir)
        new_stats: dict = {}
        if stats_cols and new_files:
            new_stats = _collect_file_stats(
                df.sparkSession, commit_dir, list(stats_cols)
            )
        new_blooms: dict = {}
        bloom_geometry: dict = {}
        if bloom_cols and new_files:
            new_blooms = _collect_file_blooms(
                df.sparkSession,
                commit_dir,
                list(bloom_cols),
                bloom_bits,
                bloom_k,
            )
            bloom_geometry = {
                c: {"n_bits": bloom_bits, "k": bloom_k} for c in bloom_cols
            }
        return _publish_commit(
            root,
            ctx,
            mode,
            tag,
            new_files,
            new_stats,
            new_blooms,
            bloom_geometry,
            {},
            cleanup_dir=commit_dir,
        )


def _with_retry(attempt_fn, max_retries: int):
    """The OCC loop: rerun ``attempt_fn`` on a lost commit race
    (``SnapshotConflict`` / ``StagedCommitVacuumed``) up to
    ``max_retries`` times, then let the last conflict raise."""
    attempt = 0
    while True:
        try:
            return attempt_fn()
        except (SnapshotConflict, StagedCommitVacuumed):
            attempt += 1
            if attempt > max_retries:
                raise


def snap_commit_with_retry(
    df: DataFrame,
    root: str,
    mode: str = "append",
    max_retries: int = 5,
    **kwargs,
) -> int:
    """``snap_commit`` under optimistic concurrency: on a lost
    ``SnapshotConflict`` race, re-read the (now advanced) store state
    and retry the commit — the standard OCC loop every concurrent
    committer needs. Appends re-validate against the NEW parent each
    attempt (the conflict may have been a schema-changing overwrite, in
    which case the retry raises the honest ValueError instead of
    spinning). The data is re-written per attempt: commit dirs are
    immutable and the loser's files were already cleaned up."""
    return _with_retry(
        lambda: snap_commit(df, root, mode=mode, **kwargs), max_retries
    )


def snap_history(root: str) -> list[dict]:
    """The audit timeline straight from retained manifests: one dict per
    version — ``{version, mode, tag, n_files, n_new_files, rows, bytes,
    n_deleted_rows, n_constraints, cdf, n_change_rows}`` — no data file
    opened (dv/cdf sidecar footers count deleted/changed rows; rows is
    the LIVE count, matching ``snap_count``)."""
    out = []
    prev_files: set[str] = set()
    for v in snap_versions(root):
        m = _read_manifest(root, v)
        meta = m["file_meta"]
        fm = [meta[f] for f in m["files"]]
        n_deleted = sum(
            _footer_meta(f)["rows"] for f in m.get("dv_files") or []
        )
        out.append(
            {
                "version": v,
                "mode": m["mode"],
                "tag": m.get("tag"),
                "n_files": len(m["files"]),
                "n_new_files": len([f for f in m["files"] if f not in prev_files]),
                "rows": sum(x["rows"] for x in fm) - n_deleted,
                "bytes": sum(x["bytes"] for x in fm),
                "n_deleted_rows": n_deleted,
                "n_constraints": len(m.get("constraints", {})),
                "cdf": m.get("cdf", False),
                # the DML commit's recorded change-feed volume (0 for
                # appends — their delta is the file diff, sidecar-free).
                # A sidecar collected by a cdf_keep_hours vacuum is an
                # EXPECTED state for a retained manifest — the history
                # view must not crash on it (span READS raise the
                # documented error). ANY missing sidecar zeroes the
                # WHOLE commit's count: a partially-collected set (crash
                # mid-vacuum) must read as "feed collected", never as a
                # silently smaller audit number.
                "n_change_rows": (
                    sum(
                        _footer_meta(f)["rows"]
                        for f in m.get("cdf_files") or []
                    )
                    if all(
                        os.path.exists(f)
                        for f in m.get("cdf_files") or []
                    )
                    else 0
                ),
                "ts": m.get("ts"),
            }
        )
        prev_files = set(m["files"])
    return out


def snap_tag(root: str) -> int | str | None:
    """The CURRENT manifest's tag (None if untagged or empty store)."""
    v = snap_current_version(root)
    return None if v is None else _read_manifest(root, v).get("tag")


def snap_last_int_tag(root: str) -> int | None:
    """The most recent INTEGER tag across retained manifests — the
    replay cursor for streaming sinks. Scanning back through the
    lineage (not just CURRENT) keeps exactly-once intact when an
    untagged maintenance commit (compaction, a batch append) lands
    between a published micro-batch and its crash-replay: CURRENT's tag
    would read None and wave the duplicate through. O(versions) driver
    manifest reads, newest first, early exit. Retention contract: keep
    the last tagged manifest retained (``snap_vacuum`` keep_last
    covering it) while its stream's checkpoint may still replay."""
    for v in sorted(snap_versions(root), reverse=True):
        tag = _read_manifest(root, v).get("tag")
        if isinstance(tag, int):
            return tag
    return None


def _norm_dv_path(p: str) -> str:
    """Normalize a dv sidecar ``file`` entry (the raw
    ``_metadata.file_path`` URI) to the manifest's plain-OS-path form.
    The scheme strip alone is NOT enough: Hadoop's Path percent-encodes
    spaces/special chars in the URI (``/a b`` -> ``file:///a%20b``)
    while the manifest holds real filesystem paths, so an encoded path
    would never match and its deleted rows would silently resurrect on
    the next COW consolidation. ``urllib.parse.unquote`` decodes %XX
    without treating a bare ``+`` as space (the correct semantics for
    paths). Non-file schemes keep scheme+authority with a decoded path."""
    from urllib.parse import unquote

    if p.startswith("file:"):
        import re

        return unquote(re.sub(r"^file:/+", "/", p))
    if "://" in p:
        scheme, rest = p.split("://", 1)
        if "/" in rest:
            auth, path = rest.split("/", 1)
            return f"{scheme}://{auth}/{unquote(path)}"
    return p  # already a plain path — nothing was URI-encoded


def _norm_dv_path_col(col) -> F.Column:
    """Spark-native twin of ``_norm_dv_path`` for executor-side dv
    matching: strip the file scheme, pre-escape literal ``+`` (URLDecoder
    would turn it into a space; in a file URI a literal ``+`` rides
    unencoded), then ``url_decode``. Non-file schemes pass through raw —
    this local store's manifests only ever hold plain paths."""
    c = F.col(col) if isinstance(col, str) else col
    decoded = F.url_decode(
        F.regexp_replace(
            F.regexp_replace(c, "^file:/+", "/"), r"\+", "%2B"
        )
    )
    return F.when(c.startswith("file:"), decoded).otherwise(c)


def _dv_read(spark: SparkSession, dv_paths: list[str]) -> DataFrame:
    """Schema-stable deletion-vector sidecar read: ``file`` (the raw
    ``_metadata.file_path`` URI recorded at delete time), ``idx``, and
    ``root`` — the store root the DV was written under, stamped on
    every row by every DV writer."""
    return spark.read.schema("file string, idx long, root string").parquet(
        *dv_paths
    )


def _dv_rebase_map(m: dict) -> dict[str, str]:
    """Driver-side classification of the DV rows' origin roots for a
    manifest: ``{origin -> target}`` for exactly the origins whose
    recorded paths DANGLE under this manifest — i.e. the store was
    MOVED away from them (no manifest file still lives under the
    origin). An origin that still anchors live file paths — a shallow
    clone referencing the source's files in place — must NOT rebase:
    its DV rows point at the files exactly as recorded. Empty for the
    common unmoved store, so the hot read path stays the raw==raw
    join with zero per-row string work. The DV sidecars are
    delete-count-sized, so the origin probe is a cheap driver read.

    The TARGET for a dangling origin is resolved from the manifest's
    own file list, not assumed to be the current root: a row recorded
    as ``<origin>/<suffix>`` rebases to the live file ``<t>/<suffix>``
    whose suffix matches (majority vote over a bounded row sample;
    fall back to the current root when nothing matches — stale entries
    for files the manifest no longer holds mask nothing either way).
    For a store that simply moved, the vote resolves to the current
    root exactly as before. The case that NEEDS the vote is a shallow
    clone of a source that had moved after its deletes were recorded:
    the clone's files live under the SOURCE's current root, not the
    clone root, and rebasing origin->clone-root would dangle every
    delete and silently resurrect the rows (r16)."""
    reb = m.get("_rebase")
    actual = reb[1] if reb else m["root"]
    import pyarrow.parquet as pq

    origins: set = set()
    sidecars: list[str] = []
    for p in m.get("dv_files") or []:
        try:
            origins.update(
                pq.read_table(p, columns=["root"]).column("root").to_pylist()
            )
        except OSError:
            continue
        sidecars.append(p)
    alien = {o for o in origins if o != actual}
    if not alien:
        return {}
    files = m["files"]
    dangling = {
        o for o in alien
        if not any(f.startswith(o + os.sep) for f in files)
    }
    if not dangling:
        return {}
    by_base: dict[str, list[str]] = {}
    for f in files:
        by_base.setdefault(os.path.basename(f), []).append(f)
    votes: dict[str, dict[str, int]] = {o: {} for o in dangling}
    budget = {o: 64 for o in dangling}  # bounded sample per origin
    for p in sidecars:
        if all(b <= 0 for b in budget.values()):
            break
        try:
            t = pq.read_table(p, columns=["file", "root"])
        except OSError:
            continue
        for fv, o in zip(
            t.column("file").to_pylist(), t.column("root").to_pylist()
        ):
            if o not in dangling or budget[o] <= 0:
                continue
            plain = _norm_dv_path(fv)
            if not plain.startswith(o + os.sep):
                continue
            budget[o] -= 1
            suffix = plain[len(o):]
            for cand in by_base.get(os.path.basename(plain), ()):
                if cand.endswith(suffix):
                    tgt = cand[: len(cand) - len(suffix)]
                    votes[o][tgt] = votes[o].get(tgt, 0) + 1
    return {
        o: (max(v, key=v.get) if v else actual)
        for o, v in votes.items()
    }


def _dv_plain_expr(rebase_map: dict[str, str], dv: DataFrame | None = None):
    """The Column lifting a DV frame's ``file`` into the manifest's
    current plain-path domain: normalize (scheme strip + unquote), then
    rebase rows whose per-row origin root is in ``rebase_map`` (the
    store moved away from it — see ``_dv_rebase_map``); rows from
    origins that still anchor live paths pass through normalized.
    Pass the dv frame to QUALIFY the column references — in a join
    against a user table that itself has ``file``/``root`` columns, an
    unqualified reference is AMBIGUOUS_REFERENCE (r16)."""
    plain = _norm_dv_path_col(dv["file"] if dv is not None else F.col("file"))
    origin = dv["root"] if dv is not None else F.col("root")
    out = plain
    for o, target in rebase_map.items():
        pre = o + os.sep
        out = F.when(
            (origin == F.lit(o)) & plain.startswith(F.lit(pre)),
            F.concat(
                F.lit(target + os.sep),
                plain.substr(F.lit(len(pre) + 1), F.lit(1 << 30)),
            ),
        ).otherwise(out)
    return out


def _dv_anti_join(src: DataFrame, dv: DataFrame, m: dict) -> DataFrame:
    """Apply a manifest's deletion vectors to a scan carrying raw
    ``_dv_f``/``_dv_i`` metadata columns. The unmoved common case keeps
    the raw==raw join byte-for-byte (zero per-row string work); only a
    store with dangling DV origins (moved after deletes were recorded)
    pays the normalized+rebased comparison that keeps those deletes
    applied."""
    rmap = _dv_rebase_map(m)
    if not rmap:
        key = src["_dv_f"] == dv["file"]
    else:
        key = _norm_dv_path_col(src["_dv_f"]) == _dv_plain_expr(rmap, dv)
    return src.join(dv, key & (src["_dv_i"] == dv["idx"]), "left_anti")


def _source_frame(
    spark: SparkSession,
    m: dict,
    files: list[str] | None = None,
    file_col: str | None = None,
) -> DataFrame:
    """The DV-correct way to read a manifest's data: the given files
    (default: all) with the snapshot's DELETION VECTORS applied — a
    left_anti join of ``(_metadata.file_path, _metadata.row_index)``
    against the manifest's dv sidecar parquet (see ``snap_delete_dv``).
    Both sides of the join key come from the same ``_metadata`` source,
    so URI-scheme differences with manifest paths are irrelevant. With
    no dv_files this is a plain scan (zero overhead); with them, the dv
    frame is delete-count-sized and Spark's planner broadcasts it under
    the usual threshold. EVERY read and rewrite path must come through
    here — a direct parquet read would resurrect deleted rows."""
    schema = T.StructType.fromJson(json.loads(m["schema"]))
    files = m["files"] if files is None else files
    if not files:
        out = local_frame(spark, [], schema)
        return out.withColumn(file_col, F.lit(None).cast("string")) if file_col else out
    df = spark.read.schema(schema).parquet(*files)
    dv_paths = m.get("dv_files") or []
    if not dv_paths and not file_col:
        return df
    src = df.select(
        "*",
        F.col("_metadata.file_path").alias("_dv_f"),
        F.col("_metadata.row_index").alias("_dv_i"),
    )
    if dv_paths:
        src = _dv_anti_join(src, _dv_read(spark, dv_paths), m)
    if file_col:
        # normalized to the manifest's plain-path form — and taken from
        # the SCAN's metadata column, so it stays correct after joins
        # (input_file_name() does not survive a shuffled join)
        src = src.withColumn(file_col, _norm_dv_path_col("_dv_f"))
    return src.drop("_dv_f", "_dv_i")


def _refs_dir(root: str) -> str:
    return os.path.join(os.path.abspath(root), "_refs")


_REF_NAME = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789-_."


def snap_set_ref(root: str, name: str, version: int | None = None) -> None:
    """Pin a NAMED REF to a version (Iceberg's tags: ``prod``,
    ``validated``, ``rollback-point``): readers address versions by
    meaning instead of by number (``snap_read(root, version="prod")``),
    ``snap_vacuum`` retains every ref'd version and its files regardless
    of ``keep_last``, and moving a ref is one atomic replace — the
    promote-after-audit gesture. ``version`` defaults to CURRENT; the
    target manifest must exist."""
    if not name or any(c not in _REF_NAME for c in name):
        raise ValueError(f"invalid ref name {name!r}")
    if version is None:
        version = snap_current_version(root)
        if version is None:
            raise FileNotFoundError(f"no committed version in {root}")
    _read_manifest(root, version)  # raises if absent/vacuumed
    os.makedirs(_refs_dir(root), exist_ok=True)
    path = os.path.join(_refs_dir(root), name)
    tmp = path + f".{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        f.write(str(version))
    os.replace(tmp, path)


def snap_delete_ref(root: str, name: str) -> None:
    path = os.path.join(_refs_dir(root), name)
    if not os.path.exists(path):
        raise FileNotFoundError(f"no ref {name!r} in {root}")
    os.remove(path)


def snap_refs(root: str) -> dict[str, int]:
    """Every named ref -> pinned version."""
    d = _refs_dir(root)
    if not os.path.isdir(d):
        return {}
    out = {}
    for name in sorted(os.listdir(d)):
        try:
            with open(os.path.join(d, name)) as f:
                out[name] = int(f.read().strip())
        except (OSError, ValueError):
            continue  # torn ref write: invisible until re-set
    return out


def _resolve_version(root: str, version) -> int:
    """int passes through; a string resolves as a named ref."""
    if isinstance(version, str):
        refs = snap_refs(root)
        if version not in refs:
            raise FileNotFoundError(f"no ref {version!r} in {root}")
        return refs[version]
    return version


def snap_read(
    spark: SparkSession, root: str, version: int | str | None = None
) -> DataFrame:
    """Read a pinned version (default: CURRENT) from its manifest's
    explicit file list — no directory listing, so concurrent commits and
    orphaned files can never leak into the frame. Names/types come from
    the manifest schema; nullability is relaxed to True, as on every
    Spark file-source read. ``version`` may be a NAMED REF string
    (``snap_set_ref``)."""
    if version is not None:
        version = _resolve_version(root, version)
    if version is None:
        version = snap_current_version(root)
        if version is None:
            raise FileNotFoundError(f"no committed version in {root}")
    m = _read_manifest(root, version)
    return _source_frame(spark, m)


def snap_read_changes(
    spark: SparkSession, root: str, since: int, until: int | None = None
) -> DataFrame:
    """Rows added after version ``since`` up to ``until`` (default
    CURRENT) — the CDC read: for an append-only lineage the delta is
    EXACTLY the manifest file-list difference, so incremental consumers
    scan only new files, no watermark column and no resident-data scan.

    Raises if any version in (since, until] is an ``overwrite`` — there
    the delta is not expressible as added files (rows may have been
    removed or rewritten) and the honest answer is "re-read the
    snapshot", not a silently wrong diff. For lineages with row-level
    DML, enable the CHANGE DATA FEED (``snap_enable_cdf``) and read
    ``snap_read_changes_cdf`` instead — it serves update/delete deltas
    from per-commit sidecars."""
    if until is None:
        until = snap_current_version(root)
        if until is None:
            raise FileNotFoundError(f"no committed version in {root}")
    if not 0 <= since <= until:
        raise ValueError(f"need 0 <= since <= until, got {since}..{until}")
    for v in range(since + 1, until + 1):
        if _read_manifest(root, v)["mode"] != "append":
            raise ValueError(
                f"version {v} is an overwrite — the {since}..{until} delta "
                "is not an append set; re-read the full snapshot instead"
            )
    m = _read_manifest(root, until)
    base = set(_read_manifest(root, since)["files"])
    new_files = [f for f in m["files"] if f not in base]
    schema = T.StructType.fromJson(json.loads(m["schema"]))
    if not new_files:
        return local_frame(spark, [], schema)
    return spark.read.schema(schema).parquet(*new_files)


def snap_enable_cdf(root: str) -> int:
    """Enable the CHANGE DATA FEED (Delta's CDF / table_changes design):
    from this metadata commit on, every row-level DML commit
    (``snap_update_where`` / ``snap_merge`` / ``snap_delete_where`` /
    ``snap_delete_dv``) records its changed rows in a per-commit sidecar
    (``cdf_files`` in the manifest — O(changed rows) written, the same
    write-amplification contract as Delta), and
    ``snap_read_changes_cdf`` can serve row-level deltas across DML
    commits that plain ``snap_read_changes`` honestly refuses. Appends
    need no sidecar (their delta IS the file-list diff) and maintenance
    rewrites (compact/optimize) read as zero-change commits. Returns the
    new version."""
    cur = snap_current_version(root)
    if cur is None:
        raise FileNotFoundError(f"no committed version in {root}")
    m = _read_manifest(root, cur)
    if m.get("cdf"):
        raise ValueError("change data feed already enabled")
    return _publish_metadata_commit(root, m, _props(m, cdf=True))


def snap_disable_cdf(root: str) -> int:
    """Disable the change data feed (future DML commits stop recording
    sidecars; already-recorded history stays readable)."""
    cur = snap_current_version(root)
    if cur is None:
        raise FileNotFoundError(f"no committed version in {root}")
    m = _read_manifest(root, cur)
    if not m.get("cdf"):
        raise ValueError("change data feed is not enabled")
    return _publish_metadata_commit(root, m, _props(m, cdf=False))


CDF_TYPES = ("insert", "delete", "update_preimage", "update_postimage")


def _cdf_schema(schema: T.StructType) -> T.StructType:
    return T.StructType(
        schema.fields + [T.StructField("_change_type", T.StringType(), False)]
    )


def snap_read_changes_cdf(
    spark: SparkSession, root: str, since: int, until: int | None = None
) -> DataFrame:
    """Row-level CHANGE FEED for versions in (``since``, ``until``] —
    the CDC read that crosses DML commits: appends contribute their new
    rows as ``insert`` (derived from the manifest file diff — no sidecar
    cost), DML commits contribute their recorded sidecar rows
    (``delete`` / ``update_preimage`` / ``update_postimage`` /
    ``insert``), and maintenance rewrites (compact/optimize — pinned
    content-preserving overwrites) contribute nothing. Returns the table
    schema (at ``until``; pre-evolution rows read NULL for later
    columns) plus ``_change_type`` and ``_commit_version``.

    Honest refusals remain: a USER overwrite or RESTORE in the span is a
    lineage reset (the delta is not expressible as row changes without
    diffing whole snapshots), and a DML commit from before the feed was
    enabled has no sidecar — both raise instead of returning a silently
    incomplete feed."""
    if until is None:
        until = snap_current_version(root)
        if until is None:
            raise FileNotFoundError(f"no committed version in {root}")
    if not 0 <= since <= until:
        raise ValueError(f"need 0 <= since <= until, got {since}..{until}")
    out_schema = T.StructType.fromJson(
        json.loads(_read_manifest(root, until)["schema"])
    )
    full = T.StructType(
        out_schema.fields
        + [
            T.StructField("_change_type", T.StringType(), False),
            T.StructField("_commit_version", T.LongType(), False),
        ]
    )
    # COALESCED span read: a naive implementation unions ONE frame per
    # commit — a 1000-commit span means a 1000-leg plan the analyzer
    # chokes on long before 100 TB. Instead, group file reads by
    # (schema epoch, change source): every append's new files under the
    # same schema become ONE ``spark.read.parquet(*paths)``, every DML
    # sidecar likewise, and ``_commit_version`` is recovered per-row by
    # broadcast-joining the scan's ``_metadata.file_path`` against the
    # (path -> version) map the manifest walk already knows. Plan legs
    # are bounded by schema EPOCHS (schema evolution is append-only
    # inside a readable span — lineage resets refuse), not by commits.
    append_groups: dict[str, list[tuple[str, int]]] = {}
    cdf_groups: dict[str, list[tuple[str, int]]] = {}
    prev_files = set(_read_manifest(root, since)["files"])
    for v in range(since + 1, until + 1):
        m = _read_manifest(root, v)
        mode = m["mode"]
        files = set(m["files"])
        if mode == "append":
            new_files = sorted(files - prev_files)
            if new_files:
                append_groups.setdefault(m["schema"], []).extend(
                    (f, v) for f in new_files
                )
        elif mode == "merge":
            if not m.get("cdf"):
                raise ValueError(
                    f"version {v} is a DML commit recorded before the "
                    "change data feed was enabled — no sidecar exists; "
                    "re-read the snapshot or start the cursor after "
                    "snap_enable_cdf's version"
                )
            cdf_files = m.get("cdf_files") or []
            gone = [f for f in cdf_files if not os.path.exists(f)]
            if gone:
                raise FileNotFoundError(
                    f"version {v}'s change-feed sidecar was collected by a "
                    "cdf_keep_hours vacuum — the CDF retention window has "
                    "passed for this span; re-read the snapshot instead, "
                    "or start the cursor at a younger version"
                )
            if cdf_files:
                cdf_groups.setdefault(m["schema"], []).extend(
                    (f, v) for f in cdf_files
                )
        elif mode == "overwrite" and m.get("content_preserving"):
            pass  # compact/optimize: identical logical content, no changes
        else:
            raise ValueError(
                f"version {v} is a lineage reset ({mode}"
                f"{', tag ' + str(m['tag']) if m.get('tag') else ''}) — "
                "its delta is not expressible as row changes; re-read "
                "the snapshot instead"
            )
        prev_files = files

    def _with_version(df: DataFrame, pairs: list[tuple[str, int]]) -> DataFrame:
        # (path -> version) recovery via the same scheme-strip +
        # url-decode normalization the DV anti-join's correctness
        # already rests on; paths are per-commit unique so the map is
        # injective and the join is exact (commit-count rows,
        # broadcast — never a shuffle). The join key dodges any user
        # column of the same name (only _change_type/_commit_version
        # are reserved by the feed contract).
        key = "_cdf_path"
        while key in df.columns:
            key += "_"
        # manifest paths are absolute (_list_parquet), the same domain
        # as the normalized _metadata.file_path URI
        vmap = F.broadcast(
            local_frame(
                spark,
                pairs,
                f"{key} string, _commit_version long",
            )
        )
        # LEFT join + loud guard, not inner: the scan side lists exactly
        # the map's paths, so every row MUST recover a version — any
        # future normalization mismatch (new URI scheme, encoding form,
        # symlinked root where the scanner reports resolved paths) must
        # fail the read rather than silently drop change rows from the
        # feed. raise_error fires executor-side on the first skewed row.
        return (
            df.withColumn(key, _norm_dv_path_col(F.col("_metadata.file_path")))
            .join(vmap, key, "left")
            .withColumn(
                "_commit_version",
                F.when(
                    F.col("_commit_version").isNull(),
                    F.raise_error(
                        F.concat(
                            F.lit(
                                "CDF path-domain skew: no commit version for "
                                "scanned file "
                            ),
                            F.col(key),
                        )
                    ).cast("long"),
                ).otherwise(F.col("_commit_version")),
            )
            .drop(key)
        )

    frames = []
    for schema_json, pairs in append_groups.items():
        schema_v = T.StructType.fromJson(json.loads(schema_json))
        frames.append(
            _with_version(
                spark.read.schema(schema_v).parquet(*[p for p, _ in pairs]),
                pairs,
            ).withColumn("_change_type", F.lit("insert"))
        )
    for schema_json, pairs in cdf_groups.items():
        schema_v = T.StructType(
            T.StructType.fromJson(json.loads(schema_json)).fields
            + [T.StructField("_change_type", T.StringType(), False)]
        )
        frames.append(
            _with_version(
                spark.read.schema(schema_v).parquet(*[p for p, _ in pairs]),
                pairs,
            )
        )
    if not frames:
        return local_frame(spark, [], full)
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f, allowMissingColumns=True)
    # align to the until-schema column order (+ feed columns), padding
    # pre-evolution rows with NULLs
    return out.select(
        *[
            F.col(f.name) if f.name in out.columns else F.lit(None).cast(f.dataType).alias(f.name)
            for f in out_schema.fields
        ],
        "_change_type",
        "_commit_version",
    )


def snap_tail(spark: SparkSession, root: str, since: int) -> tuple[DataFrame, int]:
    """Convenience CDC cursor: ``(changes since <since>, CURRENT)`` — the
    caller persists the returned version as its next checkpoint."""
    cur = snap_current_version(root)
    if cur is None:
        raise FileNotFoundError(f"no committed version in {root}")
    return snap_read_changes(spark, root, since, cur), cur


def _detail_prune_kind(table, col: str) -> str | None:
    """The typed prune index's comparison domain for ``col`` ('num' |
    'str'), or None when the sidecar has no index for it (no stats
    recorded, or mixed value domains)."""
    if "smin" not in table.column_names:
        return None
    import pyarrow as pa

    t = table.column("smin").type
    idx = t.get_field_index(col)
    if idx < 0:
        return None
    return "num" if pa.types.is_float64(t.field(idx).type) else "str"


def _probe_in_kind(v, kind: str) -> bool:
    if kind == "num":
        return isinstance(v, (int, float)) and not isinstance(v, bool)
    return isinstance(v, str)


def _detail_dropped_range(table, col: str, lo, hi) -> set[str] | None:
    """Paths PROVABLY excluded by the (possibly half-open) range
    [lo, hi] per the sidecar's typed prune index, or None when the
    index cannot decide this column/probe (caller falls back to the
    dict path). Null stats keep their file; numeric probes widen
    directionally so the already-widened stored bounds can never
    false-drop — a returned path is a proof of absence."""
    kind = _detail_prune_kind(table, col)
    if kind is None:
        return None
    for v in (lo, hi):
        if v is not None and not _probe_in_kind(v, kind):
            return None
    if kind == "num":
        lo_c = _widen_float(lo, -1)
        hi_c = _widen_float(hi, 1)
    else:
        lo_c, hi_c = lo, hi
    if lo_c is None and hi_c is None:
        return set()
    import pyarrow.compute as pc

    smin = table.column("smin").combine_chunks().field(col)
    smax = table.column("smax").combine_chunks().field(col)
    parts = []
    if hi_c is not None:
        parts.append(pc.greater(smin, hi_c))
    if lo_c is not None:
        parts.append(pc.less(smax, lo_c))
    raw = parts[0] if len(parts) == 1 else pc.or_(parts[0], parts[1])
    # a file with EITHER bound unrecorded (all-NULL file) is kept,
    # mirroring the dict path's None-stat keep
    valid = pc.and_(pc.is_valid(smin), pc.is_valid(smax))
    drop = pc.and_(valid, pc.fill_null(raw, False))
    return set(pc.filter(table.column("path"), drop).to_pylist())


def _detail_dropped_eq(m: dict, table, col: str, value) -> set[str]:
    """Equality-probe exclusions from the typed index: min/max window
    drops plus exact Bloom word probes (``list_element`` + bit test —
    the same bits ``_bloom_positions_py`` checks in the dict path).
    Undecidable parts contribute no drops; the union is always sound."""
    canon = _canonical_eq_value(m["schema"], col, value)
    probe = canon if canon is not None else value
    dropped = _detail_dropped_range(
        table, col, _json_stat(probe, direction=-1), _json_stat(probe, direction=1)
    ) or set()
    meta = m.get("bloom_meta", {}).get(col)
    if meta is None or canon is None or "bloom" not in table.column_names:
        return dropped
    bt = table.column("bloom").type
    if bt.get_field_index(col) < 0:
        return dropped
    import pyarrow.compute as pc

    bl = table.column("bloom").combine_chunks().field(col)
    miss = None
    for p in _bloom_positions_py(canon, meta["n_bits"], meta["k"]):
        bit = pc.bit_wise_and(
            pc.list_element(bl, p // 63), 1 << (p % 63)
        )
        m0 = pc.equal(bit, 0)
        miss = m0 if miss is None else pc.or_(miss, m0)
    bloom_drop = pc.and_(pc.is_valid(bl), pc.fill_null(miss, False))
    dropped.update(pc.filter(table.column("path"), bloom_drop).to_pylist())
    return dropped


def _detail_table_for_prune(m: dict):
    """The sidecar arrow table when ``m`` is detail-backed and its
    dicts are not already reconstructed (in which case the dict path is
    free anyway); else None."""
    if isinstance(m, _LazyManifest) and not m._loaded:
        return m._table()
    return None


def _dict_dropped_range(m: dict, col: str, lo, hi) -> set[str]:
    """Paths the exact stats dicts prove outside the (possibly half-open)
    range [lo, hi]. Unknown or NULL stats, and a probe that cannot be
    compared with them, keep the file."""
    stats = m.get("file_stats", {})
    dropped = set()
    for f in m["files"]:
        mm = stats.get(f, {}).get(col)
        if mm is None or mm[0] is None or mm[1] is None:
            continue
        try:
            if (hi is not None and mm[0] > hi) or (lo is not None and mm[1] < lo):
                dropped.add(f)
        except TypeError:
            pass  # stats/probe type mismatch: must read
    return dropped


def _dict_dropped_eq(m: dict, col: str, value) -> set[str]:
    """Equality-probe exclusions from the exact dicts: the min/max window
    plus the Bloom bits (``_bloom_positions_py``, bit-exact with the
    build). The probe is canonicalized to the build-time form first; a
    value with no sound canonical form tests min/max only."""
    canon = _canonical_eq_value(m["schema"], col, value)
    probe = canon if canon is not None else value
    # Decimal probes widen to a [v_lo, v_hi] float window so the min/max
    # test can never falsely drop; identical values otherwise.
    dropped = _dict_dropped_range(
        m, col, _json_stat(probe, direction=-1), _json_stat(probe, direction=1)
    )
    meta = m.get("bloom_meta", {}).get(col)
    if not meta or canon is None:
        return dropped
    blooms = m.get("file_blooms", {})
    positions = _bloom_positions_py(canon, meta["n_bits"], meta["k"])
    for f in m["files"]:
        hx = blooms.get(f, {}).get(col)
        if hx and any(
            not int(hx[16 * (p // 63) : 16 * (p // 63) + 16], 16) & (1 << (p % 63))
            for p in positions
        ):
            dropped.add(f)
    return dropped


def _plan_files(m: dict, atoms) -> list[str]:
    """The one file-skipping planner: the files of ``m``, in manifest
    order, that every atom may match. An atom is a RANGE ``(col, lo,
    hi)`` — inclusive, either side None for unbounded — or an IN
    ``(col, values)``: the union of each value's equality test (min/max
    window plus Bloom bits), so a one-value list is plain equality and
    an empty one keeps nothing. No atoms keeps every file. Unknown or
    NULL stats, and a probe that cannot be compared with them, keep the
    file: skipping is a superset, the caller's residual filter is the
    semantics. Each atom runs on the sidecar's typed index when the
    manifest has one and it decides the atom, else on the exact dicts."""
    dropped: set[str] = set()
    for atom in atoms:
        # per atom: a dict fallback loads the dicts, which later atoms
        # then read for free
        dt = _detail_table_for_prune(m)
        if len(atom) == 3:
            col, lo, hi = atom
            # probe window widens directionally (Decimal-safe, no-op otherwise)
            lo, hi = _json_stat(lo, direction=-1), _json_stat(hi, direction=1)
            d = _detail_dropped_range(dt, col, lo, hi) if dt is not None else None
            if d is None:
                d = _dict_dropped_range(m, col, lo, hi)
        else:
            col, values = atom
            per_value = [
                _detail_dropped_eq(m, dt, col, v)
                if dt is not None
                else _dict_dropped_eq(m, col, v)
                for v in values
            ]
            # a file is dropped only if EVERY value is provably absent
            d = set.intersection(*per_value) if per_value else set(m["files"])
        dropped |= d
    return [f for f in m["files"] if f not in dropped]


def snap_prune_files(
    root: str, col: str, lo, hi, version: int | None = None
) -> tuple[list[str], int]:
    """The planning half of data skipping: ``(files whose [min, max]
    overlaps [lo, hi], total files in the manifest)``. Files with no
    recorded stats for ``col`` (written without ``stats_cols``, or an
    all-NULL file) are KEPT — skipping must never change results.
    Driver-side manifest lookups only; no file is opened."""
    if version is None:
        version = snap_current_version(root)
        if version is None:
            raise FileNotFoundError(f"no committed version in {root}")
    m = _read_manifest(root, version)
    return _plan_files(m, [(col, lo, hi)]), len(m["files"])


_DML_LITERAL = r"-?\d+(?:\.\d+)?|'[^']*'"
_DML_ATOM = re.compile(
    rf"^\s*([A-Za-z_][A-Za-z0-9_]*)\s*(=|<=|>=|<|>)\s*({_DML_LITERAL})\s*$"
)
# col IN (lit, lit, ...) — the point-DML shape (GDPR deletes); values are
# re-extracted with _DML_LITERAL so quoted commas can't split a literal
_DML_IN_ATOM = re.compile(
    rf"^\s*([A-Za-z_][A-Za-z0-9_]*)\s+[Ii][Nn]\s*\("
    rf"(\s*(?:{_DML_LITERAL})(?:\s*,\s*(?:{_DML_LITERAL}))*\s*)\)\s*$"
)
# col BETWEEN lit AND lit — one inclusive range; its AND is not a
# conjunction, so _dml_conjuncts keeps the atom whole
_DML_BETWEEN_ATOM = re.compile(
    rf"^\s*([A-Za-z_][A-Za-z0-9_]*)\s+between\s+({_DML_LITERAL})\s+and\s+"
    rf"({_DML_LITERAL})\s*$",
    re.I,
)
# Coarse rejection of shapes the conjunctive-atom parser must never see
# mid-atom. Parentheses, IN and BETWEEN left this list when their
# anchored atom shapes became prunable — any OTHER parenthesized, IN or
# BETWEEN form (NOT BETWEEN included: NOT stays here) still fails the
# per-atom match and returns the full list (never a skipped atom: an
# unparsed disjunct inside a conjunct would make skipping unsound).
_DML_UNPRUNABLE = re.compile(r"[%]|\bor\b|\bnot\b|\bis\b|\blike\b|`", re.I)


def _dml_conjuncts(condition: str) -> list[str]:
    """``condition`` split on AND, with each ``col BETWEEN lit AND lit``
    kept whole."""
    pieces = re.split(r"(?i)\band\b", condition)
    out = []
    while pieces:
        piece = pieces.pop(0)
        if pieces and _DML_BETWEEN_ATOM.match(f"{piece}AND{pieces[0]}"):
            piece = f"{piece}AND{pieces.pop(0)}"
        out.append(piece)
    return out


def _dml_temporal_literal(value: str, ctype: str) -> str | None:
    """A quoted temporal literal in the stats' own isoformat domain
    (Spark-cast semantics: date columns truncate to the date), or None
    when it cannot prune (unparseable, or tz-suffixed — offset text no
    longer orders lexicographically against naive stat strings)."""
    import datetime as _dt

    try:
        parsed = _dt.datetime.fromisoformat(value)
    except ValueError:
        return None
    if parsed.tzinfo is not None:
        return None
    return parsed.date().isoformat() if ctype == "date" else parsed.isoformat()


def _dml_candidate_files(m: dict, condition) -> list[str]:
    """Stats/bloom PRE-PRUNE for DML DISCOVERY scans — the Delta/Iceberg
    optimization where ``UPDATE/DELETE ... WHERE id >= a AND id <= b``
    plans its matching scan from file metadata instead of reading the
    whole table. When ``condition`` is a SQL STRING that is a pure
    conjunction of ``col <op> literal`` / ``col IN (literal, ...)`` /
    ``col BETWEEN literal AND literal`` atoms (ops ``= < <= > >=``,
    int/float/'string'/temporal literals), intersect each atom's
    manifest kept-set: ``BETWEEN`` is the inclusive range ``[lo, hi]``
    (reversed bounds keep no file), ``=`` uses min/max AND
    Bloom pruning (temporal equality: min/max only, as the degenerate
    [v, v] range — the bloom hashed a different canonical form),
    ``IN`` unions its values' equality plans (the point-DML / GDPR
    delete shape), inequalities use half-range min/max pruning with
    strict ops widened to inclusive (conservative). ANY other shape —
    a Column object, OR/NOT/parenthesized groups (NOT BETWEEN too),
    arithmetic, functions, IS NULL — returns every file: pruning is a superset
    optimization, never the semantics. On a range-clustered 100 TB
    table this turns a narrow-region DML's discovery from a full scan
    into a ~selectivity-sized one; on random layout it degrades safely
    to the full list."""
    files = m["files"]
    if not isinstance(condition, str) or _DML_UNPRUNABLE.search(condition):
        return files
    # Literal/column TYPE GATE: pruning compares the parsed literal
    # against manifest stats in PYTHON, so it is only sound when both
    # sides live in the same ordered domain. A quoted literal may prune
    # only a string column; a bare numeric literal only a numeric
    # column. Everything else — timestamps/dates (Spark CASTS the
    # string '2024-01-01' before comparing, while the stats carry
    # isoformat text that orders differently), booleans, unknown
    # columns — contributes no pruning for that atom.
    col_types = {
        f.name: f.dataType.typeName()
        for f in T.StructType.fromJson(json.loads(m["schema"])).fields
    }
    numeric = {"byte", "short", "integer", "long", "float", "double", "decimal"}
    def _literal_value(lit: str, ctype):
        """One SQL literal token -> a probe value in the stats domain of
        a column of declared type ``ctype``, with a flag telling whether
        the value is TEMPORAL (stats-range-only pruning — blooms hashed
        a different canonical form at build time). None = no sound
        probe domain; the atom contributes no pruning."""
        if lit.startswith("'"):
            value = lit[1:-1]
            if ctype in ("timestamp", "timestamp_ntz", "date"):
                # Temporal atoms prune in the stats' own isoformat
                # domain: parse the literal like Spark's string cast
                # (fromisoformat accepts both 'T' and space
                # separators), truncating to the DATE for date columns
                # — the cast drops the time component, so
                # 'd >= 2024-01-05 10:00' must probe as 2024-01-05.
                v = _dml_temporal_literal(value, ctype)
                return (v, True) if v is not None else None
            if ctype != "string":
                return None  # cast semantics: cannot prune this atom
            return value, False
        value = float(lit) if "." in lit else int(lit)
        if ctype not in numeric:
            return None
        return value, False

    atoms = []
    for atom in _dml_conjuncts(condition):
        mt = _DML_ATOM.match(atom)
        mb = None if mt else _DML_BETWEEN_ATOM.match(atom)
        mi = None if mt or mb else _DML_IN_ATOM.match(atom)
        if mt is None and mb is None and mi is None:
            return files
        col = (mt or mb or mi).group(1)
        if mt:
            op, lits = mt.group(2), [mt.group(3)]
        elif mb:
            op, lits = "between", [mb.group(2), mb.group(3)]
        else:
            op, lits = "in", re.findall(_DML_LITERAL, mi.group(2))
        parsed = [_literal_value(lit, col_types.get(col)) for lit in lits]
        if None in parsed:
            # no sound probe domain (for an IN, one such value makes the
            # union total): the atom prunes nothing
            continue
        value, temporal = parsed[0]
        if op == "between":
            hi = parsed[1][0]
            # lo > hi matches no row; the empty IN keeps no file
            atoms.append((col, []) if value > hi else (col, value, hi))
        elif op == "=" and temporal:
            # temporal equality prunes as the degenerate stats range
            # [v, v]: the bloom build hashed a different canonical form
            atoms.append((col, value, value))
        elif op in ("=", "in"):
            # a temporal IN value canonicalizes to nothing, so its
            # equality test is the same min/max-only window
            atoms.append((col, [v for v, _temporal in parsed]))
        elif op in (">", ">="):
            atoms.append((col, value, None))
        else:  # "<", "<="
            atoms.append((col, None, value))
    return _plan_files(m, atoms)


def snap_read_between(
    spark: SparkSession, root: str, col: str, lo, hi, version: int | None = None
) -> DataFrame:
    """Range read with manifest-stats file skipping: plan ONLY the files
    whose recorded [min, max] for ``col`` overlaps [lo, hi], then apply
    the exact residual ``BETWEEN`` filter (skipping is a superset
    optimization, never the semantics). With a range-clustered write
    (``repartitionByRange`` or ``layout.write_zordered``) the kept set is
    ~selectivity x files; with random layout it degrades safely to a
    full read. At 100 TB this is the difference between a metadata
    lookup and a million footer reads."""
    return snap_read_where(spark, root, {col: ("between", lo, hi)}, version)


def snap_read_between_nd(
    spark: SparkSession,
    root: str,
    preds: dict[str, tuple],
    version: int | None = None,
) -> DataFrame:
    """Conjunctive multi-column range read — the read-side counterpart
    of ``snap_optimize(zorder_by=...)``: plan the INTERSECTION of each
    column's stats-kept file set (a file survives only if EVERY range
    may overlap its recorded [min, max]; unknown stats keep the file per
    column, as in ``snap_prune_files``), then apply the exact residual
    AND-of-BETWEENs. On a z-ordered layout every keyed dimension prunes,
    so a conjunctive predicate prunes ~multiplicatively — the query
    shape K-D clustering exists for; on any layout it degrades safely
    to a superset read. Driver cost: one manifest GET + K dict sweeps.

    ``preds`` maps column -> (lo, hi), all ranges inclusive.
    """
    if not preds:
        raise ValueError("snap_read_between_nd: pass at least one range")
    return snap_read_where(
        spark,
        root,
        {col: ("between", lo, hi) for col, (lo, hi) in preds.items()},
        version=version,
    )


def snap_read_where(
    spark: SparkSession,
    root: str,
    preds: dict[str, tuple],
    version: int | None = None,
) -> DataFrame:
    """GENERAL conjunctive manifest-planned read — ranges and point
    lookups composed in one plan: ``preds`` maps column ->
    ``("between", lo, hi)`` (inclusive, min/max-stats pruning),
    ``("eq", value)`` (min/max AND Bloom-bitmap pruning — the
    high-cardinality case value locality cannot serve), or
    ``("in", [v1, ...])`` (the per-value equality plans unioned WITHIN
    the predicate — a file survives it if ANY value may live there —
    then intersected with the other predicates). The planned file
    set is the INTERSECTION of every predicate's kept set, the residual
    is the exact AND of the predicates, and the whole plan costs ONE
    manifest GET + one dict sweep per predicate — the 100 TB "fetch
    these ids in this date range" query plans from metadata instead of
    opening a million footers. Skipping is a superset optimization on
    any layout (unknown stats/blooms keep the file per predicate); a
    z-ordered or hash-clustered write makes it multiplicative.
    """
    if not preds:
        raise ValueError("snap_read_where: pass at least one predicate")
    if version is None:
        version = snap_current_version(root)
        if version is None:
            raise FileNotFoundError(f"no committed version in {root}")
    m = _read_manifest(root, version)
    atoms, conds = [], []
    for col, spec in preds.items():
        op = spec[0]
        if op == "between":
            _op, lo, hi = spec
            atoms.append((col, lo, hi))
            conds.append(F.col(col).between(F.lit(lo), F.lit(hi)))
        elif op == "eq":
            _op, value = spec
            if value is None:
                raise ValueError(
                    "snap_read_where: eq on NULL is never true — use a "
                    "full read with isNull()"
                )
            atoms.append((col, [value]))
            conds.append(F.col(col) == F.lit(value))
        elif op == "in":
            _op, values = spec
            values = list(values)
            if any(v is None for v in values):
                raise ValueError(
                    "snap_read_where: NULL inside an IN list is never "
                    "matched — drop it or use a full read with isNull()"
                )
            # col IN () matches nothing: an empty plan, honest result
            atoms.append((col, values))
            conds.append(F.col(col).isin(values) if values else F.lit(False))
        else:
            raise ValueError(
                f"snap_read_where: unknown predicate op {op!r} "
                "(expected 'between' or 'eq')"
            )
    cond = conds[0]
    for c in conds[1:]:
        cond = cond & c
    return _source_frame(spark, m, _plan_files(m, atoms)).filter(cond)


def snap_prune_files_eq(
    root: str, col: str, value, version: int | None = None
) -> tuple[list[str], int]:
    """Equality-predicate planning: ``(files that may contain
    col == value, total files)``. Composes BOTH manifest structures — a
    file survives only if its [min, max] admits the value (when stats
    were recorded) AND its Bloom bitmap has all k probed bits set (when
    a bloom was recorded); either structure missing degrades that test
    to keep. No false drops by construction: min/max is a true bound and
    the bloom has no false negatives (probe is bit-exact with the build,
    ``_bloom_positions_py``). Driver-side manifest lookups only — the
    100 TB point-lookup story: one manifest GET plans a needle query
    instead of opening every file, and unlike min/max this prunes on
    HASH-clustered (or any) layout, since bucket membership, not value
    locality, is what a bloom records."""
    if value is None:
        raise ValueError(
            "equality pruning on NULL is not meaningful (col == NULL is "
            "never true) — filter with isNull() on a full read instead"
        )
    if version is None:
        version = snap_current_version(root)
        if version is None:
            raise FileNotFoundError(f"no committed version in {root}")
    m = _read_manifest(root, version)
    return _plan_files(m, [(col, [value])]), len(m["files"])


def snap_read_where_eq(
    spark: SparkSession, root: str, col: str, value, version: int | None = None
) -> DataFrame:
    """Point-lookup read with manifest-bloom + min/max file skipping:
    plan only the files ``snap_prune_files_eq`` keeps, then apply the
    exact residual ``col == value`` filter (skipping is a superset
    optimization — bloom false positives cost a scanned file, never a
    wrong row). On a hash-clustered write (``df.repartition(n, col)``)
    a needle lookup plans ~1 file; on any layout it degrades safely."""
    return snap_read_where(spark, root, {col: ("eq", value)}, version)


def snap_count(root: str, version: int | None = None) -> int:
    """``COUNT(*)`` as a manifest lookup — zero data scanned, any table
    size. Per-file row counts are recorded from the parquet footers at
    commit time, for every file of every version. The lakehouse
    metadata-count optimization (Delta/Iceberg answer SELECT COUNT(*)
    the same way) as one dict sum."""
    if version is None:
        version = snap_current_version(root)
        if version is None:
            raise FileNotFoundError(f"no committed version in {root}")
    m = _read_manifest(root, version)
    total = _meta_column_sum(m, "rows")
    # deletion vectors: dv sidecar rows are live-file deletes exactly
    # (recording scans the DV-applied snapshot; rewrites consolidate), so
    # COUNT(*) stays a pure footer arithmetic even under merge-on-read
    return total - sum(
        _footer_meta(f)["rows"] for f in m.get("dv_files") or []
    )


def _meta_column_sum(m: dict, col: str) -> int:
    """Sum of a per-file meta column (rows/bytes) over the manifest's
    files. Detail-backed manifests answer from the sidecar's vectorized
    column — NOT the O(files x bloom_bits) dict reconstruction — and
    read the files' footers instead when the sidecar does not match the
    file list."""
    dt = _detail_table_for_prune(m)
    if dt is not None:
        import pyarrow.compute as pc

        vals = dt.column(col)
        # equal counts + no nulls means every file has a recorded value
        # PROVIDED sidecar paths are exactly the file list — that
        # invariant holds by construction, but a future writer violating
        # it would make snap_count/snap_bytes silently wrong while the
        # length check still passed, so verify the path sets before
        # trusting the vectorized sum and fall back on any mismatch.
        # The set check only defends INLINE-list heads: on a
        # files_in_detail head the list is reconstructed from the same
        # parts being checked (tautologically equal — a corrupted
        # sidecar corrupts both sides, the Delta-checkpoint failure
        # domain), so skip the O(files) set build exactly on the
        # million-file tables this plane targets.
        files_independent = not (
            isinstance(m, _LazyManifest) and m._files_lazy
        )
        if (
            len(dt) == len(m["files"])
            and pc.count(vals, mode="only_null").as_py() == 0
            and (
                not files_independent
                or set(dt.column("path").to_pylist()) == set(m["files"])
            )
        ):
            return pc.sum(vals).as_py() or 0
        return sum(_footer_meta(f)[col] for f in m["files"])
    meta = m["file_meta"]
    return sum(meta[f][col] for f in m["files"])


def snap_bytes(root: str, version: int | None = None) -> int:
    """On-disk bytes of a version's live file set, from the manifest."""
    if version is None:
        version = snap_current_version(root)
        if version is None:
            raise FileNotFoundError(f"no committed version in {root}")
    m = _read_manifest(root, version)
    return _meta_column_sum(m, "bytes")


def snap_schema_diff(root: str, v_from: int, v_to: int) -> dict:
    """Column-level schema delta between two versions:
    ``{"added": [(name, type)], "removed": [...], "changed":
    [(name, from_type, to_type)]}`` — the audit view of evolution
    history, straight from two manifests (no file opened)."""
    a = T.StructType.fromJson(
        json.loads(_read_manifest(root, v_from)["schema"])
    )
    b = T.StructType.fromJson(json.loads(_read_manifest(root, v_to)["schema"]))
    fa = {f.name: f.dataType.simpleString() for f in a.fields}
    fb = {f.name: f.dataType.simpleString() for f in b.fields}
    return {
        "added": sorted((n, t) for n, t in fb.items() if n not in fa),
        "removed": sorted((n, t) for n, t in fa.items() if n not in fb),
        "changed": sorted(
            (n, fa[n], fb[n]) for n in fa if n in fb and fa[n] != fb[n]
        ),
    }


def snap_read_where_in(
    spark: SparkSession,
    root: str,
    col: str,
    values: list,
    version: int | None = None,
) -> DataFrame:
    """IN-list read: plan the UNION of each value's equality plan (a
    file survives if ANY requested value may live in it), then apply the
    exact residual ``col IN (...)`` filter. The batched form of the
    point lookup — "fetch these K document ids" plans ~K files on a
    hash-clustered store instead of scanning the corpus, still from one
    manifest GET. Values must be non-NULL (col IN (...) never matches
    NULL anyway)."""
    if version is None:
        version = snap_current_version(root)
        if version is None:
            raise FileNotFoundError(f"no committed version in {root}")
    m = _read_manifest(root, version)
    if not values:
        schema = T.StructType.fromJson(json.loads(m["schema"]))
        return local_frame(spark, [], schema)
    values = list(values)
    return _source_frame(spark, m, _plan_files(m, [(col, values)])).filter(
        F.col(col).isin(values)
    )


def snap_sink(root: str, stats_cols: list[str] | None = None):
    """Exactly-once foreachBatch publisher: commit each micro-batch as an
    append tagged with its batch id, skipping any batch at-or-below the
    last published tag. Structured Streaming replays a micro-batch when
    the job dies between the sink write and the checkpoint commit
    (at-least-once delivery); because the tag rides IN the atomic
    manifest publish, a replayed batch sees itself already committed and
    becomes a no-op — no separate apply-log with its own crash window.
    Contract: this sink is the store's only writer (tags must be
    monotone).

        q = (df.writeStream.foreachBatch(snap_sink(root))
               .option("checkpointLocation", ckpt).start())
    """

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        last = snap_last_int_tag(root)
        if last is not None and batch_id <= last:
            return
        snap_commit(
            batch_df, root, mode="append", tag=int(batch_id), stats_cols=stats_cols
        )

    return _apply


def snap_compact(
    spark: SparkSession,
    root: str,
    target_file_mb: int = 256,
    stats_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    bloom_bits: int = 1 << 14,
    bloom_k: int = 4,
) -> int:
    """Small-file compaction as JUST ANOTHER COMMIT: read CURRENT,
    rewrite into ~``target_file_mb`` files, publish as an overwrite
    version. Because readers are manifest-pinned, in-flight queries and
    time-travel reads keep their exact snapshot while the compaction
    lands; the superseded small files stay on disk (still referenced by
    older manifests) until ``snap_vacuum`` retires them — the
    listing-coupled ``io.compact_parquet`` cannot offer either property.
    Pass ``stats_cols`` to (re)record skipping stats — compaction is the
    natural moment, and ``repartitionByRange`` on the stats column before
    calling makes the rewritten files skippable. Returns the new
    version."""
    version = snap_current_version(root)
    if version is None:
        raise FileNotFoundError(f"no committed version in {root}")
    m = _read_manifest(root, version)
    size_bytes = sum(os.path.getsize(f) for f in m["files"])
    n_files = max(1, -(-size_bytes // (target_file_mb * 1024 * 1024)))
    df = snap_read(spark, root, version)
    # expected_parent: a concurrent append landing after the pin above
    # would be erased by this overwrite — fail with SnapshotConflict
    # instead (the caller re-runs the whole pin-scan-commit loop)
    return snap_commit(
        df.repartition(int(n_files)),
        root,
        mode="overwrite",
        stats_cols=stats_cols,
        bloom_cols=bloom_cols,
        bloom_bits=bloom_bits,
        bloom_k=bloom_k,
        expected_parent=version,
        maintenance=True,
    )


class ConstraintViolation(ValueError):
    """A commit's incoming rows violate a table CHECK constraint."""


def _check_constraints(df: DataFrame, constraints: dict) -> None:
    """Validate incoming rows against the table's CHECK constraints in
    ONE fused aggregation (a violation is an expression evaluating to
    FALSE; NULL satisfies, the SQL-standard CHECK semantics). Raises
    ``ConstraintViolation`` naming each violated constraint with its
    violation count."""
    if not constraints:
        return
    names = sorted(constraints)
    agg = df.agg(
        *[
            F.sum(
                (~F.coalesce(F.expr(constraints[n]), F.lit(True))).cast(
                    "long"
                )
            ).alias(n)
            for n in names
        ]
    ).collect()[0]
    bad = {n: agg[n] for n in names if agg[n]}
    if bad:
        raise ConstraintViolation(
            "CHECK constraint(s) violated by incoming rows: "
            + ", ".join(
                f"{n} ({constraints[n]!r}): {c} row(s)"
                for n, c in sorted(bad.items())
            )
        )


def snap_add_constraint(
    spark: SparkSession, root: str, name: str, expr: str
) -> int:
    """Add a table-level CHECK constraint (Delta's ALTER TABLE ADD
    CONSTRAINT): EXISTING data is validated first (one scan over the
    DV-applied current snapshot — a constraint the table already
    violates must not silently gate only future writers), then a new
    version publishes with the constraint in the manifest. From then on
    every data-introducing commit (``snap_commit`` append,
    ``snap_publish_staged``, COW rewrites' new files) validates against
    it in one fused aggregation and raises ``ConstraintViolation``
    instead of publishing. Appends, maintenance rewrites (compact /
    optimize — any pinned overwrite), COW DML, and RESTORE all carry
    constraints forward; only an explicit user overwrite (a deliberate
    new shape) drops them. The constraint-add commit keeps
    the parent's exact file content (mode 'append', empty file delta),
    so CDC windows crossing it stay valid. Returns the new version."""
    cur = snap_current_version(root)
    if cur is None:
        raise FileNotFoundError(f"no committed version in {root}")
    m = _read_manifest(root, cur)
    props = _props(m)
    if name in props["constraints"]:
        raise ValueError(f"constraint {name!r} already exists")
    _check_constraints(_source_frame(spark, m), {name: expr})
    props["constraints"][name] = expr
    return _publish_metadata_commit(root, m, props)


def snap_drop_constraint(root: str, name: str) -> int:
    """Drop a CHECK constraint as a new version (auditable, like the
    add). Returns the new version."""
    cur = snap_current_version(root)
    if cur is None:
        raise FileNotFoundError(f"no committed version in {root}")
    m = _read_manifest(root, cur)
    props = _props(m)
    if name not in props["constraints"]:
        raise ValueError(f"no constraint {name!r} on this table")
    del props["constraints"][name]
    return _publish_metadata_commit(root, m, props)


def _publish_metadata_commit(
    root: str, m: dict, props: dict, extra: dict | None = None
) -> int:
    """Publish a same-content manifest with updated metadata (the table
    ``props`` record and/or ``extra`` keys like snap_analyze's per-file
    detail) — a metadata-only commit through the O_EXCL gate (empty file
    delta, so CDC treats it as a zero-row append)."""
    version = m["version"] + 1
    # zero-copy for detail-backed tables: the file set is unchanged, so
    # the new version SHARES the parent's sidecar pointer instead of
    # reconstructing and rewriting O(files) metadata — UNLESS the commit
    # itself updates per-file detail (snap_analyze's stats/bloom
    # retrofit), where a partial head+extra would silently drop the
    # untouched detail dicts; those materialize fully and re-split.
    detail_in_extra = any(k in (extra or {}) for k in _DETAIL_KEYS)
    manifest = (
        m.head_copy()
        if isinstance(m, _LazyManifest) and not detail_in_extra
        else _materialize(m)
    )
    manifest.update(
        {
            "version": version,
            "parent": m["version"],
            "mode": "append",
            "tag": None,
            **props,
            # a metadata commit changes no rows: it must not inherit the
            # parent's change-feed sidecar as its own
            "cdf_files": [],
            "ts": time.time(),
            **(extra or {}),
        }
    )
    try:
        _write_manifest_file(root, manifest)
    except FileExistsError:
        raise SnapshotConflict(
            f"version {version} already committed — reload and retry"
        ) from None
    _advance_current(root, version)
    return version


def _staged_path(root: str, staged_id: str) -> str:
    return os.path.join(os.path.abspath(root), "_staged", f"{staged_id}.json")


def snap_stage(
    df: DataFrame,
    root: str,
    stats_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    bloom_bits: int = 1 << 14,
    bloom_k: int = 4,
) -> str:
    """WRITE-AUDIT-PUBLISH, phase 1 (Iceberg's WAP pattern): write the
    data files + skipping metadata WITHOUT advancing CURRENT — readers
    cannot see a staged commit. Audit the staged frame
    (``snap_read_staged`` + e.g. quality.expectation_report), then either
    ``snap_publish_staged`` (atomic, same gates as snap_commit) or
    ``snap_abort_staged``. The point: a bad batch is rejected BEFORE any
    reader can observe it, without the publish-then-rollback window a
    RESTORE-based recovery leaves.

    Staged data lives under a ``commit-s-*`` dir, which vacuum protects
    by the last-activity staged-grace clock — ``snap_read_staged``
    refreshes it, and the publish re-verifies file existence, but an
    audit that outlives ``staged_grace_minutes`` with no activity can
    lose the race (publish then raises ``StagedCommitVacuumed``; re-run
    the stage). Returns the staged id.

    The staged JSON carries the file list and the per-file stats/bloom
    dicts inline, collected by the same driver pass as ``snap_commit``;
    the publish builds the sidecar (if the table size calls for one)
    exactly as a direct commit would."""
    commit_dir = os.path.join(
        _data_dir(root), f"commit-s-{uuid.uuid4().hex[:8]}"
    )
    df.write.mode("error").parquet(commit_dir)
    # same in-job heartbeat as snap_commit: a SINGLE slow stats/bloom
    # job can outlive the staged grace window, and a touch only between
    # jobs leaves the staged files collectable mid-job
    with _heartbeat(commit_dir):
        files = _list_parquet(commit_dir)
        staged_id = uuid.uuid4().hex[:16]
        geometry = (
            {c: {"n_bits": bloom_bits, "k": bloom_k} for c in bloom_cols}
            if bloom_cols
            else {}
        )
        head = {
            # same format stamp and relocation provenance as manifest heads
            "format": FORMAT,
            "root": os.path.abspath(root),
            "schema": df.schema.json(),
            "bloom_meta": geometry,
            "commit_dir": commit_dir,
            "files": files,
            "file_stats": (
                _collect_file_stats(
                    df.sparkSession, commit_dir, list(stats_cols)
                )
                if stats_cols and files
                else {}
            ),
            "file_blooms": (
                _collect_file_blooms(
                    df.sparkSession,
                    commit_dir,
                    list(bloom_cols),
                    bloom_bits,
                    bloom_k,
                )
                if bloom_cols and files
                else {}
            ),
        }
    os.makedirs(os.path.join(os.path.abspath(root), "_staged"), exist_ok=True)
    with open(_staged_path(root, staged_id), "x") as f:
        json.dump(head, f)
    return staged_id


def _read_staged(root: str, staged_id: str) -> dict:
    """The staged JSON, ready to audit, publish or abort — format-gated
    like a manifest head."""
    p = _staged_path(root, staged_id)
    if not os.path.exists(p):
        raise FileNotFoundError(f"no staged commit {staged_id} in {root}")
    with open(p) as f:
        st = json.load(f)
    _check_format(st, p)
    # staged commits survive a store relocation the same way manifests
    # do: rebase the recorded paths into the actual root's domain
    recorded = st["root"]
    actual = os.path.abspath(root)
    if recorded != actual:
        st["files"] = [
            _rebase_path(f, recorded, actual) for f in st.get("files") or []
        ]
        for k in ("file_stats", "file_blooms"):
            if st.get(k):
                st[k] = {
                    _rebase_path(x, recorded, actual): v
                    for x, v in st[k].items()
                }
        st["commit_dir"] = _rebase_path(st["commit_dir"], recorded, actual)
    return st


def snap_read_staged(
    spark: SparkSession, root: str, staged_id: str
) -> DataFrame:
    """The staged frame, for the AUDIT phase. Reading refreshes the
    staged dir's heartbeat so a long audit keeps its files alive."""
    st = _read_staged(root, staged_id)
    _touch(os.path.join(st["commit_dir"], "_heartbeat"))
    schema = T.StructType.fromJson(json.loads(st["schema"]))
    if not st["files"]:
        return local_frame(spark, [], schema)
    return spark.read.schema(schema).parquet(*st["files"])


def snap_publish_staged(
    root: str,
    staged_id: str,
    mode: str = "append",
    tag: int | str | None = None,
    expected_parent: int | None = None,
    evolve: bool = False,
) -> int:
    """WAP phase 3: publish the audited staged commit atomically through
    the SAME resolve/publish gates as ``snap_commit`` (schema gate, bloom
    geometry gate, expected_parent conflict, O_EXCL, staged-file
    existence re-verify). On ``SnapshotConflict`` the staged data is
    untouched — re-resolve and call again. Returns the version."""
    st = _read_staged(root, staged_id)
    schema = T.StructType.fromJson(json.loads(st["schema"]))
    geoms = {(g["n_bits"], g["k"]) for g in st["bloom_meta"].values()}
    if len(geoms) > 1:
        raise ValueError("mixed bloom geometries in staged commit")
    n_bits, k = geoms.pop() if geoms else (1 << 14, 4)
    ctx = _resolve_commit(
        root,
        mode,
        schema,
        sorted(st["bloom_meta"]) or None,
        n_bits,
        k,
        evolve,
        expected_parent=expected_parent,
    )
    if ctx["props"]["constraints"]:
        # the audit may not have checked the table's own CHECKs —
        # enforce them at publish like every data-introducing commit
        from pyspark.sql import SparkSession as _S

        spark = _S.getActiveSession() or _S.builder.getOrCreate()
        _check_constraints(
            snap_read_staged(spark, root, staged_id),
            ctx["props"]["constraints"],
        )
    version = _publish_commit(
        root,
        ctx,
        mode,
        tag,
        st["files"],
        st["file_stats"],
        st["file_blooms"],
        st["bloom_meta"],
        {},
        cleanup_dir=None,  # a lost race must NOT delete the staged data
    )
    os.remove(_staged_path(root, staged_id))
    return version


def snap_abort_staged(root: str, staged_id: str) -> None:
    """WAP abort: drop the staged marker and its data files — the audit
    failed and no reader ever saw the batch."""
    import shutil

    st = _read_staged(root, staged_id)
    os.remove(_staged_path(root, staged_id))
    shutil.rmtree(st["commit_dir"], ignore_errors=True)


def snap_restore(root: str, to_version: int | str) -> int:
    """RESTORE: roll CURRENT back to a historical version AS A NEW
    COMMIT (Delta's RESTORE semantics) — the manifest content (files,
    stats, blooms, file meta, deletion vectors, schema) of
    ``to_version`` republishes as version CURRENT+1 with mode
    'overwrite', so the rollback is itself in the history (auditable,
    re-restorable) and vacuum keeps every referenced file alive through
    it. Zero data copied — one manifest write. The restored-from version
    must still be retained (not vacuumed). Publishes through the same
    O_EXCL gate as every commit; returns the new version."""
    cur = snap_current_version(root)
    if cur is None:
        raise FileNotFoundError(f"no committed version in {root}")
    to_version = _resolve_version(root, to_version)  # named refs work too
    src = _read_manifest(root, to_version)  # raises if vacuumed/absent
    version = cur + 1
    # detail-backed source: the restore republishes the SAME file set,
    # so it shares the source's sidecar parts pointer (vacuum collects
    # parts by reference — zero metadata copied). files_in_detail heads
    # stay O(1) through the rollback: the pointer carries the list.
    if isinstance(src, _LazyManifest):
        src_head = src.head_copy()
        detail = {
            k: src_head[k] for k in _DETAIL_HEAD_KEYS if k in src_head
        }
        if "files" in src_head:
            detail["files"] = src_head["files"]
    else:
        detail = {
            "files": src["files"],
            "file_stats": src.get("file_stats", {}),
            "file_blooms": src.get("file_blooms", {}),
            "file_meta": src.get("file_meta", {}),
        }
    manifest = {
        "version": version,
        "parent": cur,
        "mode": "overwrite",
        "tag": f"restore:{to_version}",
        "schema": src["schema"],
        **detail,
        "bloom_meta": src.get("bloom_meta", {}),
        "dv_files": src.get("dv_files") or [],
        # RESTORE restores versioned METADATA too (Delta semantics): the
        # restored-to version's table properties (CHECK constraints, the
        # CDF setting) come back with its data; the restore commit itself
        # is a lineage reset with no sidecar (readers refuse crossing it,
        # same as a user overwrite)
        **_props(src),
        "cdf_files": [],
        "ts": time.time(),
    }
    # existence check reads the list from the SOURCE manifest (lazy
    # path-column load for files_in_detail heads — the published head
    # itself never re-inlines the list)
    missing = [f for f in src["files"] if not os.path.exists(f)]
    if missing:
        raise FileNotFoundError(
            f"cannot restore to version {to_version}: {len(missing)} of its "
            f"files were vacuumed (first: {missing[0]})"
        )
    try:
        _write_manifest_file(root, manifest)
    except FileExistsError:
        raise SnapshotConflict(
            f"version {version} already committed — reload and retry"
        ) from None
    _advance_current(root, version)
    return version


def snap_layout_report(
    root: str,
    version: int | None = None,
    target_file_mb: int = 256,
) -> dict:
    """Layout-health report from MANIFEST METADATA ONLY (zero data
    scanned, any table size) — the observability half of the
    compact/optimize loop: run this to DECIDE whether a rewrite is worth
    a cluster's time, instead of rewriting on a schedule.

    File geometry: count, byte totals/min/p50/max, and
    ``small_file_fraction`` (files under half the ``target_file_mb``
    bin-pack target — the planning-overhead pathology snap_compact
    exists for). Clustering health per NUMERIC stats column:
    ``avg_stab`` = the expected number of files whose recorded
    [min, max] contains a uniformly random point of the global range
    (sum of range lengths / global span) — 1.0 means perfectly
    range-clustered (a point predicate plans ~1 file), n_files means
    fully overlapped (stats prune nothing; schedule an optimize).
    Delta/Iceberg expose the same decision number as OPTIMIZE metrics;
    here it is one dict sweep over the manifest. Files without recorded
    stats for a column are excluded from that column's stab number and
    reported as ``files_without_stats`` (they are kept by every read
    plan, so a high count is itself actionable)."""
    if version is None:
        version = snap_current_version(root)
        if version is None:
            raise FileNotFoundError(f"no committed version in {root}")
    m = _read_manifest(root, version)
    meta = m["file_meta"]
    sizes = sorted(meta[f]["bytes"] for f in m["files"])
    n = len(sizes)
    target = target_file_mb * 1024 * 1024
    report: dict = {
        "version": version,
        "n_files": n,
        "total_bytes": sum(sizes),
        "min_bytes": sizes[0] if n else 0,
        "p50_bytes": sizes[n // 2] if n else 0,
        "max_bytes": sizes[-1] if n else 0,
        "small_file_fraction": (
            round(sum(1 for s in sizes if s < target / 2) / n, 6) if n else 0.0
        ),
        "columns": {},
    }
    stats = m.get("file_stats", {})
    cols = sorted({c for per in stats.values() for c in per})
    for col in cols:
        ranges = []
        missing = 0
        for f in m["files"]:
            mm = stats.get(f, {}).get(col)
            if (
                mm is None
                or mm[0] is None
                or mm[1] is None
                or not all(isinstance(v, (int, float)) for v in mm[:2])
            ):
                missing += 1
                continue
            ranges.append((float(mm[0]), float(mm[1])))
        entry: dict = {
            "files_with_stats": len(ranges),
            "files_without_stats": missing,
        }
        if ranges:
            glo = min(lo for lo, _ in ranges)
            ghi = max(hi for _, hi in ranges)
            span = ghi - glo
            if span <= 0:  # all files pinned to one value: total overlap
                entry["avg_stab"] = float(len(ranges))
            else:
                entry["avg_stab"] = round(
                    sum(hi - lo for lo, hi in ranges) / span, 6
                )
        report["columns"][col] = entry
    return report


def snap_auto_optimize(
    spark: SparkSession,
    root: str,
    cluster_by: list[str] | None = None,
    zorder_by: tuple[str, ...] | None = None,
    stab_threshold: float = 4.0,
    small_file_threshold: float = 0.5,
    target_file_mb: int = 256,
    **kwargs,
) -> dict:
    """Measure-then-maintain: run ``snap_layout_report`` and rewrite ONLY
    when the metadata says it pays — the maintenance loop a 100 TB table
    needs instead of a rewrite-on-schedule cron that burns a cluster
    re-clustering already-clustered data.

    Decision: if any keyed column's ``avg_stab`` exceeds
    ``stab_threshold`` (reads stopped pruning) -> ``snap_optimize`` on
    the requested clustering; else if ``small_file_fraction`` exceeds
    ``small_file_threshold`` (planning overhead) -> ``snap_compact``;
    else NO-OP (zero jobs run — the report is manifest-only). Both
    rewrites go through the ``_with_retry`` OCC loops. Returns
    ``{"action": "optimize"|"compact"|"noop", "version": int|None,
    "report": <the measured report>}`` so the decision is auditable."""
    keyed = list(zorder_by or cluster_by or [])
    if not keyed:
        raise ValueError("pass cluster_by or zorder_by")
    report = snap_layout_report(root, target_file_mb=target_file_mb)
    stabs = [
        report["columns"].get(c, {}).get("avg_stab")
        for c in keyed
    ]
    needs_layout = report["n_files"] > 1 and any(
        s is None or s > stab_threshold for s in stabs
    )
    if needs_layout:
        v = snap_optimize_with_retry(
            spark,
            root,
            cluster_by=cluster_by,
            zorder_by=zorder_by,
            target_file_mb=target_file_mb,
            **kwargs,
        )
        return {"action": "optimize", "version": v, "report": report}
    if (
        report["n_files"] > 1
        and report["small_file_fraction"] > small_file_threshold
    ):
        # n_files is an optimize-only knob; compaction sizes from target
        compact_kwargs = {k: v for k, v in kwargs.items() if k != "n_files"}
        v = snap_compact_with_retry(
            spark, root, target_file_mb=target_file_mb, **compact_kwargs
        )
        return {"action": "compact", "version": v, "report": report}
    return {"action": "noop", "version": None, "report": report}


def snap_compact_with_retry(
    spark: SparkSession, root: str, max_retries: int = 5, **kwargs
) -> int:
    """``snap_compact`` under the maintenance OCC loop: a
    ``SnapshotConflict`` (a commit landed during the pin-scan window —
    the expected_parent guard) re-runs the WHOLE pin-scan-commit cycle
    against the advanced store, re-reading the new CURRENT so the
    concurrent commit's rows are included, never erased. This differs
    from ``snap_commit_with_retry``, which can re-publish the same frame
    but cannot re-pin a maintenance read."""
    return _with_retry(lambda: snap_compact(spark, root, **kwargs), max_retries)


def snap_optimize_with_retry(
    spark: SparkSession, root: str, max_retries: int = 5, **kwargs
) -> int:
    """``snap_optimize`` under the same maintenance OCC loop as
    ``snap_compact_with_retry`` (each attempt re-pins CURRENT, re-derives
    the z-key bounds from the advanced snapshot, and re-clusters it)."""
    return _with_retry(lambda: snap_optimize(spark, root, **kwargs), max_retries)


def snap_optimize(
    spark: SparkSession,
    root: str,
    target_file_mb: int = 256,
    cluster_by: list[str] | None = None,
    zorder_by: tuple[str, ...] | None = None,
    stats_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    bloom_bits: int = 1 << 14,
    bloom_k: int = 4,
    n_files: int | None = None,
) -> int:
    """Clustered compaction — the ``OPTIMIZE ... ZORDER BY`` of this table
    format: one overwrite commit that both bin-packs small files to
    ~``target_file_mb`` AND lays rows out so the manifest min/max stats
    actually prune.

    ``cluster_by=[col]`` range-partitions + sorts on one column (that
    column's stats become tight per file); ``zorder_by=(x, y, ...)``
    interleaves two OR MORE columns on the Morton curve
    (``layout.zorder_key`` for the 2-D magic-mask form,
    ``layout.zorder_key_nd`` past that — most-queried column LAST, it
    owns the coarsest key bits) so predicates on ANY keyed column prune
    — the multi-dimensional case a single sort cannot serve. The z-key's
    quantization bounds come from one min/max aggregation over the
    current snapshot (exact bounds are not required — clamping is safe —
    but they are free here since we are rewriting anyway). ``stats_cols``
    defaults to the clustering columns: recording skipping stats is the
    entire point of clustering the rewrite.

    Readers stay manifest-pinned through the rewrite (same contract as
    ``snap_compact``); superseded files retire via ``snap_vacuum``.
    Measured effect pinned in tests: random layout prunes ~nothing, the
    optimized layout prunes both dimensions.

    Concurrency: the snapshot is pinned once, then the bounds scan and
    rewrite run against it; the final overwrite passes that pinned
    version as ``expected_parent``, so a concurrent commit landing
    mid-scan raises ``SnapshotConflict`` instead of being silently
    erased (the same conflict Delta's OPTIMIZE fails on)."""
    if (cluster_by is None) == (zorder_by is None):
        raise ValueError("pass exactly one of cluster_by / zorder_by")
    version = snap_current_version(root)
    if version is None:
        raise FileNotFoundError(f"no committed version in {root}")
    if n_files is None:
        m = _read_manifest(root, version)
        size_bytes = sum(os.path.getsize(f) for f in m["files"])
        n_files = max(1, -(-size_bytes // (target_file_mb * 1024 * 1024)))
    df = snap_read(spark, root, version)
    if zorder_by is not None:
        from wsspark.layout import zorder_key

        if len(zorder_by) < 2:
            raise ValueError("zorder_by needs >= 2 columns (use cluster_by)")
        dtypes = dict(df.dtypes)
        exprs = []
        for c in zorder_by:
            e = F.col(c)
            if dtypes.get(c) in ("timestamp", "timestamp_ntz", "date"):
                e = F.unix_date(e.cast("date"))
            exprs.append(e)
        b = df.agg(
            *[
                a
                for i, e in enumerate(exprs)
                for a in (F.min(e).alias(f"_lo{i}"), F.max(e).alias(f"_hi{i}"))
            ]
        ).collect()[0]
        if any(b[f"_lo{i}"] is None for i in range(len(exprs))):
            # empty snapshot (or all-NULL key column): nothing to cluster —
            # degrade to a plain compaction commit rather than crash
            return snap_commit(
                df.repartition(int(n_files)),
                root,
                mode="overwrite",
                stats_cols=list(stats_cols)
                if stats_cols is not None
                else list(zorder_by),
                bloom_cols=bloom_cols,
                bloom_bits=bloom_bits,
                bloom_k=bloom_k,
                expected_parent=version,
                maintenance=True,
            )
        rng = [
            (float(b[f"_lo{i}"]), float(b[f"_hi{i}"]))
            for i in range(len(exprs))
        ]
        if len(exprs) == 2:
            zkey = zorder_key(exprs[0], exprs[1], rng[0], rng[1])
        else:
            from wsspark.layout import zorder_key_nd

            zkey = zorder_key_nd(exprs, rng)
        clustered = (
            df.withColumn("_zkey", zkey)
            .repartitionByRange(int(n_files), "_zkey")
            .sortWithinPartitions("_zkey")
            .drop("_zkey")
        )
        default_stats = list(zorder_by)
    else:
        clustered = df.repartitionByRange(
            int(n_files), *[F.col(c) for c in cluster_by]
        ).sortWithinPartitions(*cluster_by)
        default_stats = list(cluster_by)
    return snap_commit(
        clustered,
        root,
        mode="overwrite",
        stats_cols=list(stats_cols) if stats_cols is not None else default_stats,
        bloom_cols=bloom_cols,
        bloom_bits=bloom_bits,
        bloom_k=bloom_k,
        expected_parent=version,
        maintenance=True,
    )


def snap_versions(root: str) -> list[int]:
    try:
        return sorted(
            int(f[1:-5])
            for f in os.listdir(_manifest_dir(root))
            if f.startswith("v") and f.endswith(".json")
        )
    except FileNotFoundError:
        return []


def snap_vacuum(
    root: str,
    keep_last: int = 1,
    staged_grace_minutes: float = 60.0,
    keep_hours: float | None = None,
    dry_run: bool = False,
    cdf_keep_hours: float | None = None,
) -> int:
    """Drop manifests older than the last ``keep_last`` versions and
    delete every data file (and empty commit dir) no retained manifest
    references. Returns the number of files deleted. ``dry_run=True``
    (Delta's VACUUM DRY RUN) counts the parquet files that WOULD be
    collected — same planning, same grace rules — and deletes nothing,
    manifests included. Readers pinned to a
    RETAINED version are unaffected — that is the contract vacuum must
    keep, pinned in tests.

    ``cdf_keep_hours`` (Delta's independent CDF retention): change-feed
    SIDECARS of retained commits published before the window are
    collected even though their manifests survive — a long-ref'd or
    deep-keep_last table stops accumulating every CDF file ever written.
    SNAPSHOT reads of those versions are untouched (the sidecar is feed
    state, not table state); a ``snap_read_changes_cdf`` span crossing a
    collected commit raises the documented FileNotFoundError instead of
    silently returning a partial feed. None (default) = sidecars live
    exactly as long as their manifests, the pre-r14 behavior.

    IN-FLIGHT WRITER SAFETY: unreferenced files may belong to a commit
    that has not PUBLISHED yet — deleting them would let that commit
    publish a manifest of dead files. Two shapes exist: the
    ``format("snapstore")`` writers stage under ``commit-w-*``/
    ``commit-s-*`` for the whole job, and ``snap_commit`` itself holds
    ``commit-<version>-*`` open across its stats/bloom jobs (minutes on
    a large commit). Vacuum protects both by the same rule: a staging
    dir (w-/s- prefixed, or a helper dir whose encoded version is AHEAD
    of CURRENT — i.e. not yet published) is kept WHOLE while its most
    recent entry (any file — writers refresh a ``_heartbeat`` marker
    between long stats/bloom jobs) is younger than
    ``staged_grace_minutes``; a dir silent for longer is crashed-writer
    garbage. Grace from LAST ACTIVITY (not per-file age) means a commit
    whose data landed early but is still collecting stats cannot lose
    files mid-flight; ``_publish_commit`` additionally re-verifies file
    existence before the manifest write as a last resort. Helper dirs
    at-or-below CURRENT are published lineage and collect immediately."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    versions = snap_versions(root)
    # named refs PIN versions through vacuum regardless of keep_last —
    # a "prod" tag must never have its files collected under it
    ref_targets = {v for v in snap_refs(root).values() if v in set(versions)}
    # time-based retention (Delta's retention window): keep_hours ADDS
    # every version published inside the window — it never collects
    # more than keep_last alone would. Manifests without a recorded
    # publish instant (pre-timestamp stores) gain nothing from it.
    recent: set[int] = set()
    if keep_hours is not None:
        cutoff_ts = time.time() - keep_hours * 3600.0
        for v in versions:
            m_ts = _read_manifest(root, v).get("ts")
            if m_ts is not None and m_ts >= cutoff_ts:
                recent.add(v)
    retained = sorted(set(versions[-keep_last:]) | ref_targets | recent)
    referenced: set[str] = set()
    cdf_expired: set[str] = set()
    cdf_inwindow: set[str] = set()
    cdf_cutoff = (
        time.time() - cdf_keep_hours * 3600.0
        if cdf_keep_hours is not None
        else None
    )
    for v in retained:
        rm = _read_manifest(root, v)
        # abspath: the walk below joins against the (possibly relative)
        # store root — a domain mismatch here would DELETE live files
        referenced.update(os.path.abspath(f) for f in rm["files"])
        referenced.update(
            os.path.abspath(f) for f in rm.get("dv_files") or []
        )
        cdf_abs = {os.path.abspath(f) for f in rm.get("cdf_files") or []}
        referenced.update(cdf_abs)
        if cdf_cutoff is not None:
            m_ts = rm.get("ts")
            # no recorded publish instant = conservative keep
            if m_ts is not None and m_ts < cdf_cutoff:
                cdf_expired.update(cdf_abs)
            else:
                cdf_inwindow.update(cdf_abs)
    # independent CDF retention: expired sidecars of RETAINED commits
    # leave the referenced set, so the normal walk below collects (and
    # dry-run counts) them — unless a younger retained manifest also
    # references the same file (cdf sidecars are per-commit by
    # construction; this is belt-and-braces against a future sharer)
    referenced -= cdf_expired - cdf_inwindow
    removed = 0
    cutoff = time.time() - staged_grace_minutes * 60.0
    data_root = _data_dir(root)
    if os.path.isdir(data_root):
        current = snap_current_version(root)
        for commit_dir in sorted(os.listdir(data_root)):
            d = os.path.join(data_root, commit_dir)
            staged = commit_dir.startswith(("commit-w-", "commit-s-"))
            if not staged and commit_dir.startswith("commit-"):
                try:
                    encoded_v = int(commit_dir.split("-")[1])
                    staged = current is None or encoded_v > current
                except ValueError:
                    staged = True  # unrecognized dir name: be safe
            if staged:
                # dir-level last-activity clock: one fresh entry (data file
                # or _heartbeat) keeps the WHOLE staged dir — an in-flight
                # commit must never lose early files while later jobs run
                try:
                    entries = os.listdir(d)
                    last_activity = max(
                        (os.path.getmtime(os.path.join(d, f)) for f in entries),
                        default=os.path.getmtime(d),
                    )
                except OSError:
                    continue  # raced with the writer itself: keep
                if last_activity > cutoff:
                    continue
            for f in list(os.listdir(d)):
                p = os.path.abspath(os.path.join(d, f))
                if p in referenced:
                    continue
                if os.path.isdir(p):  # _dv sidecar dir: same per-file rule
                    for g in list(os.listdir(p)):
                        gp = os.path.abspath(os.path.join(p, g))
                        if gp in referenced:
                            continue
                        if g.endswith(".parquet"):
                            removed += 1
                        if not dry_run:
                            os.remove(gp)
                    if not dry_run and not os.listdir(p):
                        os.rmdir(p)
                    continue
                if f.endswith(".parquet"):
                    removed += 1
                if not dry_run:
                    os.remove(p)
            if not dry_run and not os.listdir(d):
                os.rmdir(d)
    if dry_run:
        return removed
    for v in versions[:-keep_last]:
        if v in ref_targets or v in recent:
            continue
        os.remove(_manifest_path(root, v))
    # Detail-sidecar sweep: sidecars are collected by REFERENCE, never
    # with any one manifest — metadata-only commits and restores SHARE
    # their parent's sidecar pointer (zero-copy), so a sidecar dies only
    # when NO surviving manifest head references it. The same sweep
    # collects the one-file leak of a committer that crashed between
    # writing its sidecar and the O_EXCL head publish, under the same
    # staged-grace clock that protects in-flight commits (a sidecar
    # written moments ago may be about to be referenced).
    mdir = _manifest_dir(root)
    if os.path.isdir(mdir):
        def _referenced_now() -> set[str]:
            out = set()
            for v in snap_versions(root):
                try:
                    with open(_manifest_path(root, v)) as f:
                        out.update(_pointer_names(json.load(f)))
                except (OSError, ValueError):
                    continue
            return out

        referenced_details = _referenced_now()

        for name in os.listdir(mdir):
            if not name.endswith(".detail.parquet") or name in referenced_details:
                continue
            p = os.path.join(mdir, name)
            try:
                if os.path.getmtime(p) > cutoff:
                    continue
            except OSError:
                continue
            # re-scan the heads IMMEDIATELY before the unlink: a
            # pointer-sharing commit (restore/metadata — which also
            # utime-refreshes its sidecar) may have published since the
            # reference set was built; combined with the mtime guard
            # above, the residual race is the single syscall gap
            if name in _referenced_now():
                continue
            with contextlib.suppress(OSError):
                os.remove(p)
    return removed


def _detail_filter_paths(table, keep_paths: list[str]):
    """The sidecar table restricted to ``keep_paths`` rows — the arrow
    form of the untouched-files dict filter in COW rewrites."""
    import pyarrow as pa
    import pyarrow.compute as pc

    return table.filter(
        pc.is_in(
            table.column("path"),
            value_set=pa.array(sorted(set(keep_paths)), pa.string()),
        )
    )


def _rewrite_config(m: dict) -> dict:
    """The skipping config resident files were committed with, so a
    rewrite re-records the same stats/blooms for its new files."""
    if isinstance(m, _LazyManifest) and not m._loaded:
        # arrow fast path: the COMPLETE profiled column list rides in
        # the sidecar's schema metadata (the typed index alone would
        # omit all-NULL / mixed-domain columns — review-found silent
        # metadata narrowing)
        return _rewrite_config_tail(m, sorted(_detail_stats_cols(m._table())))
    stats_cols = sorted(
        {c for per_file in m.get("file_stats", {}).values() for c in per_file}
    )
    return _rewrite_config_tail(m, stats_cols)


def _rewrite_config_tail(m: dict, stats_cols: list[str]) -> dict:
    bloom_meta = m.get("bloom_meta", {})
    geoms = {(g["n_bits"], g["k"]) for g in bloom_meta.values()}
    if len(geoms) > 1:
        raise ValueError("mixed bloom geometries in parent manifest")
    n_bits, k = geoms.pop() if geoms else (1 << 14, 4)
    return {
        "stats_cols": stats_cols,
        "bloom_cols": sorted(bloom_meta),
        "bloom_bits": n_bits,
        "bloom_k": k,
    }


def _rewrite_commit(
    spark: SparkSession,
    root: str,
    m: dict,
    touched: list[str],
    new_data: DataFrame,
    mode: str,
    tag,
    changes: DataFrame | None = None,
) -> int:
    """Copy-on-write publish: keep every untouched parent file, write
    ``new_data`` as fresh files, publish atomically. Stats/blooms for
    untouched files survive verbatim; new files are re-profiled with
    the parent's skipping config.

    ``changes`` (table columns + ``_change_type``) is the commit's
    change-feed sidecar: written under the commit dir and recorded as
    ``cdf_files`` when the table's CDF flag is on — callers pass it
    lazily so a disabled feed costs nothing."""
    version = m["version"] + 1
    # touched paths are manifest entries (every discovery checks that)
    touched_set = set(touched)
    untouched = [f for f in m["files"] if f not in touched_set]
    cfg = _rewrite_config(m)
    schema = T.StructType.fromJson(json.loads(m["schema"]))
    ctx = {
        "parent": m["version"],
        "version": version,
        "parent_files": untouched,
        "parent_bloom_meta": m.get("bloom_meta", {}),
        "manifest_schema": schema,
    }
    if isinstance(m, _LazyManifest) and not m._loaded:
        # sidecar-backed parent: carry the untouched files' metadata as
        # a FILTERED arrow table (concat'd with the rewrite's new rows
        # at publish) — a narrow DML on a million-file table does
        # O(touched + new) dict work, never an O(table) reconstruction.
        # pc.filter preserves row order, so exactness survives: the
        # filtered rows are `untouched` in m["files"] order, and the
        # manifest's list is untouched + new_files in the same order.
        ctx["parent_detail"] = _detail_filter_paths(m._table(), untouched)
        ctx["parent_detail_exact"] = m.get("detail_exact", False)
        ctx["parent_stats"] = {}
        ctx["parent_blooms"] = {}
        ctx["parent_file_meta"] = {}
    else:
        ctx["parent_stats"] = {
            f: s for f, s in m.get("file_stats", {}).items() if f in set(untouched)
        }
        ctx["parent_blooms"] = {
            f: b for f, b in m.get("file_blooms", {}).items() if f in set(untouched)
        }
        ctx["parent_file_meta"] = {
            f: fm for f, fm in m.get("file_meta", {}).items() if f in set(untouched)
        }
    # table properties survive COW rewrites; UPDATE/MERGE-produced rows
    # must satisfy the constraints like any other incoming rows
    ctx["props"] = _props(m)
    _check_constraints(new_data, ctx["props"]["constraints"])
    commit_dir = os.path.join(
        _data_dir(root), f"commit-{version:012d}-{uuid.uuid4().hex[:8]}"
    )
    # The rewrite data and the change-feed sidecar are independent jobs
    # writing to disjoint directories (the committer stages each job
    # under its own _temporary) — overlap them so the COW commit's wall
    # time is max(data, cdf) instead of their sum (guide §2.6). The
    # fresh-dir guarantee moves driver-side: os.makedirs on the
    # uuid-suffixed path raises FileExistsError exactly where
    # mode("error") would have (a concurrent CDF write landing first
    # would otherwise trip the data job's existence check).
    if ctx["props"]["cdf"] and changes is not None:
        os.makedirs(commit_dir, exist_ok=False)
        # belt-and-braces for the mode("append") data write below: the
        # makedirs just created this uuid-suffixed dir, so no pre-existing
        # .parquet can be silently absorbed into new_files (r16 advisor
        # note) — assert the invariant where the append relies on it
        assert not _list_parquet(commit_dir), commit_dir
        cdf_dir = os.path.join(commit_dir, "_cdf")
        overlap(
            lambda: changes.write.mode("error").parquet(cdf_dir),
            lambda: new_data.write.mode("append").parquet(commit_dir),
        )
        ctx["cdf_files"] = _list_parquet(cdf_dir)
    else:
        new_data.write.mode("error").parquet(commit_dir)
    new_files = _list_parquet(commit_dir)
    # Deletion-vector consolidation: entries for TOUCHED files would be
    # stale (their replacements have new row indices), so keep only the
    # untouched files' entries, rewritten as one fresh sidecar. Keeping
    # the dv row-exact also keeps snap_count a pure footer sum.
    dv_paths = m.get("dv_files") or []
    ctx["dv_files"] = []
    if dv_paths and untouched:
        dv = _dv_read(spark, dv_paths)
        # dv 'file' is the raw _metadata URI form; normalize (scheme strip
        # + percent-decode) AND rebase relocated rows so encoded or
        # moved paths keep their entries alive. Surviving rows keep
        # their recorded file/root values (still interpretable by the
        # per-row rebase on every later read).
        plain = _dv_plain_expr(_dv_rebase_map(m))
        live = dv.filter(plain.isin(untouched))
        dv_dir = os.path.join(commit_dir, "_dv")
        live.coalesce(1).write.mode("error").parquet(dv_dir)
        kept_dv = _list_parquet(dv_dir)
        # an all-stale dv writes an empty (but schema-ful) sidecar; drop
        # it — emptiness from the just-written footers, no extra job
        if kept_dv and sum(_footer_meta(f)["rows"] for f in kept_dv) > 0:
            ctx["dv_files"] = kept_dv
    new_stats = (
        _collect_file_stats(spark, commit_dir, cfg["stats_cols"])
        if cfg["stats_cols"] and new_files
        else {}
    )
    new_blooms = (
        _collect_file_blooms(
            spark, commit_dir, cfg["bloom_cols"], cfg["bloom_bits"], cfg["bloom_k"]
        )
        if cfg["bloom_cols"] and new_files
        else {}
    )
    geometry = {
        c: {"n_bits": cfg["bloom_bits"], "k": cfg["bloom_k"]}
        for c in cfg["bloom_cols"]
    }
    return _publish_commit(
        root, ctx, mode, tag, new_files, new_stats, new_blooms, geometry,
        {}, cleanup_dir=commit_dir,
    )


def snap_merge(
    spark: SparkSession,
    root: str,
    source: DataFrame,
    on: list[str],
    when_matched: str = "update",
    when_not_matched: str = "insert",
    tag: int | str | None = None,
    matched_condition=None,
    when_not_matched_by_source: str = "ignore",
) -> int:
    """Row-level MERGE as a copy-on-write commit — the lakehouse upsert
    (Delta/Iceberg MERGE INTO), on the same atomic manifest contract as
    every other commit.

    Semantics (keys = the ``on`` columns; ``source`` must be key-unique,
    validated eagerly — duplicate source keys would make the result
    order-dependent): ``when_matched``: "update" replaces the stored row
    with the source row, "delete" drops it, "ignore" keeps it.
    ``when_not_matched``: "insert" appends unmatched source rows,
    "ignore" drops them. Source schema must equal the store schema
    exactly (a merge cannot evolve the schema — evolution is an
    explicit append contract).

    ``matched_condition`` (Delta's ``whenMatchedUpdate(condition=...)``):
    an extra predicate evaluated on the MATCHED STORE ROW — the
    when_matched clause applies only where it holds (NULL = does not
    hold, the SQL convention); matched rows failing it are kept
    unchanged. With duplicate store keys the gate is per-row: failing
    rows survive verbatim while the key's passing rows take the clause.

    ``when_not_matched_by_source`` (Delta's whenNotMatchedBySource):
    "ignore" (default) keeps store rows with no source match; "delete"
    drops them — the full-sync MERGE that makes the store mirror the
    source key set. Note "delete" necessarily rewrites every file
    containing an unmatched row (by nature a full sync, not a pruned
    upsert).

    COPY-ON-WRITE, PRUNED: only files that actually CONTAIN a matching
    key are rewritten. Discovery is one column-pruned scan of the store
    (key columns + input_file_name) semi-joined with the source keys —
    at 100 TB the scan reads only the key columns, and the rewrite
    reads only the touched files; untouched files keep their manifest
    entries, stats, and blooms verbatim, so point-lookup skipping
    survives the merge. Readers stay snapshot-isolated: a reader pinned
    to the parent version keeps every pre-merge file (vacuum-protected
    until retention lapses).

    CDC honesty: the new version's mode is "merge", which
    ``snap_read_changes`` refuses (rows may have been updated or
    deleted — the delta is not an added-file set). Time travel to the
    parent version shows pre-merge rows, as with compaction.

    Returns the new version. Raises ``SnapshotConflict`` on a lost
    commit race (wrap in your own retry; data is staged per attempt).
    """
    if when_matched not in ("update", "delete", "ignore"):
        raise ValueError(f"when_matched must be update|delete|ignore, got {when_matched!r}")
    if when_not_matched not in ("insert", "ignore"):
        raise ValueError(f"when_not_matched must be insert|ignore, got {when_not_matched!r}")
    if when_not_matched_by_source not in ("ignore", "delete"):
        raise ValueError(
            "when_not_matched_by_source must be ignore|delete, got "
            f"{when_not_matched_by_source!r}"
        )
    if (
        when_matched == "ignore"
        and when_not_matched == "ignore"
        and when_not_matched_by_source == "ignore"
    ):
        raise ValueError("merge with every clause 'ignore' is a no-op")
    if matched_condition is not None and when_matched == "ignore":
        raise ValueError(
            "matched_condition without a when_matched clause has no effect"
        )
    mcond = (
        F.expr(matched_condition)
        if isinstance(matched_condition, str)
        else matched_condition
    )
    version = snap_current_version(root)
    if version is None:
        raise FileNotFoundError(f"no committed version in {root}")
    m = _read_manifest(root, version)
    schema = T.StructType.fromJson(json.loads(m["schema"]))
    if [(f.name, f.dataType) for f in schema.fields] != [
        (f.name, f.dataType) for f in source.schema.fields
    ]:
        raise ValueError(
            "merge source schema must equal the store schema exactly"
        )
    missing = [c for c in on if c not in source.columns]
    if missing:
        raise ValueError(f"merge keys not in source: {missing}")
    def _dup_check() -> None:
        dup = (
            source.groupBy(*on)
            .count()
            .filter(F.col("count") > 1)
            .limit(1)
            .collect()
        )
        if dup:
            raise ValueError(
                f"source is not key-unique on {on}: e.g. "
                + ", ".join(f"{c}={dup[0][c]!r}" for c in on)
            )

    keys = source.select(*on).distinct()
    if not m["files"]:
        _dup_check()
        touched: list[str] = []
        new_data = source if when_not_matched == "insert" else source.limit(0)
        changes = (
            new_data.withColumn("_change_type", F.lit("insert"))
            if m.get("cdf")
            else None
        )
        return _rewrite_commit(
            spark, root, m, touched, new_data, "merge", tag, changes=changes
        )
    # Key-range discovery pre-prune (Delta's MERGE file skipping): files
    # whose recorded [min, max] for EVERY key column misses the source
    # key range cannot contain a match — skip them in the discovery
    # scan AND in store_keys (their keys can't equal any source key, so
    # the not-matched anti-join is unaffected). UNSOUND under
    # by-source delete (unmatched rows live anywhere): full list there.
    cand = m["files"]
    if when_not_matched_by_source != "delete":
        # the key-uniqueness probe and the key-bounds aggregation are
        # independent jobs over the source — overlap them (guide §2.6;
        # both are read-only, so raising the dup error after the bounds
        # land changes nothing observable)
        bounds, _ = overlap(
            lambda: keys.agg(
                *[F.min(c).alias(f"_lo{i}") for i, c in enumerate(on)],
                *[F.max(c).alias(f"_hi{i}") for i, c in enumerate(on)],
            ).collect()[0],
            _dup_check,
        )
        norm = _session_ts_normalizer(spark)
        ts_keys = {
            f.name
            for f in source.schema.fields
            if isinstance(f.dataType, T.TimestampType)
        }
        atoms = []
        for i, c in enumerate(on):
            lo, hi = bounds[f"_lo{i}"], bounds[f"_hi{i}"]
            if lo is None or hi is None:
                continue  # empty/all-NULL source keys: no pruning signal
            if norm is not None and c in ts_keys:
                lo, hi = norm(lo), norm(hi)  # stats' session-tz domain
            atoms.append((c, lo, hi))
        cand = _plan_files(m, atoms)
    else:
        _dup_check()
    touched_rows = _source_frame(spark, m, cand, file_col="_sf").select(
        *on, "_sf"
    )
    if when_not_matched_by_source == "delete":
        # full sync: any file holding an UNMATCHED row must rewrite too
        touched_frame = touched_rows.join(keys, on, "left_semi").select(
            "_sf"
        ).unionByName(
            touched_rows.join(keys, on, "left_anti").select("_sf")
        )
    else:
        touched_frame = touched_rows.join(keys, on, "left_semi").select("_sf")
    touched = [r["_sf"] for r in touched_frame.distinct().collect()]
    unknown = set(touched) - set(m["files"])
    if unknown:
        raise RuntimeError(f"discovered files outside the manifest: {unknown}")
    hit = (
        F.coalesce(mcond, F.lit(False)) if mcond is not None else F.lit(True)
    )
    parts = []
    if touched:
        touched_df = _source_frame(spark, m, touched)
        matched_store = touched_df.join(keys, on, "left_semi")
        if when_not_matched_by_source != "delete":
            parts.append(touched_df.join(keys, on, "left_anti"))
        if when_matched == "ignore":
            parts.append(matched_store)
        elif mcond is not None:
            # condition gate is per STORE ROW: failing rows survive
            parts.append(matched_store.filter(~hit))
    if when_matched == "update":
        if touched:
            pass_keys = (
                _source_frame(spark, m, touched)
                .join(keys, on, "left_semi")
                .filter(hit)
                .select(*on)
                .distinct()
            )
            matched_src = source.join(pass_keys, on, "left_semi")
        else:
            matched_src = source.limit(0)
        parts.append(matched_src)
    if when_not_matched == "insert":
        store_keys = touched_rows.select(*on).distinct()
        parts.append(source.join(store_keys, on, "left_anti"))
    if not parts:
        new_data = local_frame(spark, [], schema)
    else:
        new_data = parts[0]
        for p in parts[1:]:
            new_data = new_data.unionByName(p)
    changes = None
    if m.get("cdf"):
        cparts = [local_frame(spark, [], _cdf_schema(schema))]
        matched_all = (
            _source_frame(spark, m, touched).join(keys, on, "left_semi")
            if touched
            else local_frame(spark, [], schema)
        )
        matched_hit = matched_all.filter(hit)
        if when_matched == "update":
            cparts.append(
                matched_hit.withColumn(
                    "_change_type", F.lit("update_preimage")
                )
            )
            cparts.append(
                source.join(matched_hit.select(*on).distinct(), on, "left_semi")
                .withColumn("_change_type", F.lit("update_postimage"))
            )
        elif when_matched == "delete":
            cparts.append(
                matched_hit.withColumn("_change_type", F.lit("delete"))
            )
        if when_not_matched == "insert":
            store_keys_all = touched_rows.select(*on).distinct()
            cparts.append(
                source.join(store_keys_all, on, "left_anti").withColumn(
                    "_change_type", F.lit("insert")
                )
            )
        if when_not_matched_by_source == "delete" and touched:
            cparts.append(
                _source_frame(spark, m, touched)
                .join(keys, on, "left_anti")
                .withColumn("_change_type", F.lit("delete"))
            )
        changes = cparts[0]
        for p in cparts[1:]:
            changes = changes.unionByName(p)
    return _rewrite_commit(
        spark, root, m, touched, new_data, "merge", tag, changes=changes
    )


def snap_update_where(
    spark: SparkSession,
    root: str,
    condition,
    assignments: dict,
    tag: int | str | None = None,
) -> int:
    """Row-level UPDATE ... SET as a copy-on-write commit (Delta's
    UPDATE): rewrite ONLY the files containing rows matching
    ``condition``, applying ``assignments`` (column name -> Column or
    SQL-string expression, evaluated against the pre-update row — the
    standard UPDATE semantics, so ``{"qty": "qty + 1"}`` works) to the
    matching rows and copying the rest verbatim. Untouched files and
    their skipping metadata survive; deletion vectors are honored during
    the rewrite (a deleted row is neither updated nor resurrected) and
    consolidated like every COW commit. NULL conditions update nothing
    (same as DELETE's discovery rule). Schema is invariant: assignments
    must target existing columns and are cast back to the column's
    manifest type — an UPDATE never evolves the schema silently.
    Returns the new version."""
    cond = F.expr(condition) if isinstance(condition, str) else condition
    version = snap_current_version(root)
    if version is None:
        raise FileNotFoundError(f"no committed version in {root}")
    m = _read_manifest(root, version)
    schema = T.StructType.fromJson(json.loads(m["schema"]))
    known = {f.name: f.dataType for f in schema.fields}
    bad = sorted(set(assignments) - set(known))
    if bad:
        raise ValueError(
            f"snap_update_where: assignments target unknown columns {bad} "
            "— UPDATE never adds columns; use an evolve append/overwrite"
        )
    if not m["files"]:
        return _rewrite_commit(
            spark, root, m, [], local_frame(spark, [], schema), "merge", tag
        )
    store = _source_frame(
        spark, m, _dml_candidate_files(m, condition), file_col="_sf"
    )
    touched = [
        r["_sf"]
        for r in store.filter(cond).select("_sf").distinct().collect()
    ]
    unknown = set(touched) - set(m["files"])
    if unknown:
        raise RuntimeError(f"discovered files outside the manifest: {unknown}")
    changes = None
    if not touched:
        new_data = local_frame(spark, [], schema)
        if m.get("cdf"):
            changes = local_frame(spark, [], _cdf_schema(schema))
    else:
        hit = F.coalesce(cond, F.lit(False))
        exprs = []
        post_exprs = []
        for f in schema.fields:
            if f.name in assignments:
                a = assignments[f.name]
                val = F.expr(a) if isinstance(a, str) else a
                exprs.append(
                    F.when(hit, val.cast(f.dataType))
                    .otherwise(F.col(f.name))
                    .alias(f.name)
                )
                post_exprs.append(val.cast(f.dataType).alias(f.name))
            else:
                exprs.append(F.col(f.name))
                post_exprs.append(F.col(f.name))
        new_data = _source_frame(spark, m, touched).select(*exprs)
        if m.get("cdf"):
            # both change images from ONE scan of the touched files:
            # inline(array(pre_struct, post_struct)) emits the
            # pre/postimage pair per matched row where the old
            # union-of-two-projections paid a second scan (guide §2.3
            # — don't compute things twice). Field order and types
            # match the union form exactly; row multiset is identical
            # (CDF files are an unordered set to every consumer).
            pre = _source_frame(spark, m, touched).filter(hit)
            img_pre = F.struct(
                *[F.col(f.name) for f in schema.fields],
                F.lit("update_preimage").alias("_change_type"),
            )
            img_post = F.struct(
                *post_exprs,
                F.lit("update_postimage").alias("_change_type"),
            )
            changes = pre.select(F.inline(F.array(img_pre, img_post)))
    return _rewrite_commit(
        spark, root, m, touched, new_data, "merge", tag, changes=changes
    )


def snap_delete_dv(
    spark: SparkSession,
    root: str,
    condition,
    tag: int | str | None = None,
) -> int:
    """Row-level DELETE as MERGE-ON-READ deletion vectors — the
    write-cheap sibling of ``snap_delete_where``'s copy-on-write: instead
    of rewriting every touched file, ONE job records the matched rows'
    ``(_metadata.file_path, _metadata.row_index)`` pairs into a parquet
    sidecar and the new manifest carries it in ``dv_files``; every read
    path (``_source_frame``) anti-joins the sidecar, so the delete costs
    O(matched rows) written instead of O(touched files) rewritten —
    Delta's deletion-vector / Iceberg's positional-delete design. The
    matching scan runs over the DV-APPLIED current snapshot, so repeated
    deletes never double-record a row and ``snap_count`` stays an exact
    footer-sum minus dv-row-sum. Deletes survive appends (children
    inherit ``dv_files``), materialize and vanish on any copy-on-write
    rewrite of the touched files (compact / optimize / merge /
    delete_where consolidate or reset them), and are invisible to
    time-travel reads of the parent version. CDC (`snap_read_changes`)
    refuses lineages crossing a dv-delete — same honest refusal as every
    non-append commit. Publishes with the expected-parent guard: a
    concurrent commit during the matching scan raises
    ``SnapshotConflict`` instead of deleting against a stale snapshot.
    Returns the new version."""
    cond = F.expr(condition) if isinstance(condition, str) else condition
    version = snap_current_version(root)
    if version is None:
        raise FileNotFoundError(f"no committed version in {root}")
    m = _read_manifest(root, version)
    new_dv = []
    new_cdf = []
    _dv_cand = _dml_candidate_files(m, condition)
    if _dv_cand:
        schema_cols = [
            f.name
            for f in T.StructType.fromJson(json.loads(m["schema"])).fields
        ]
        matched_rows = _source_frame_with_meta(spark, m, _dv_cand).filter(
            F.coalesce(cond, F.lit(False))
        )
        matched = matched_rows.select(
            F.col("_dv_f").alias("file"),
            F.col("_dv_i").alias("idx"),
            # per-row origin root: what keeps this delete applied after
            # the store is moved (readers rebase file's prefix from it)
            F.lit(os.path.abspath(root)).alias("root"),
        )
        dv_commit_dir = os.path.join(
            _data_dir(root), f"commit-{version + 1:012d}-{uuid.uuid4().hex[:8]}"
        )
        dv_dir = os.path.join(dv_commit_dir, "_dv")
        if m.get("cdf"):
            # the DV sidecar and the change-feed sidecar are independent
            # jobs over the same matched scan — overlap them (guide
            # §2.6). If the delete matched nothing, the whole staged dir
            # (both sidecars) is dropped, so the final state is
            # identical to the old sequential write-then-check form.
            cdf_dir = os.path.join(dv_commit_dir, "_cdf")
            overlap(
                lambda: matched_rows.select(*schema_cols)
                .withColumn("_change_type", F.lit("delete"))
                .write.mode("error")
                .parquet(cdf_dir),
                lambda: matched.coalesce(1).write.mode("error").parquet(dv_dir),
            )
        else:
            matched.coalesce(1).write.mode("error").parquet(dv_dir)
        files = _list_parquet(dv_dir)
        # emptiness from the just-written footers (hot, no data pages,
        # no extra Spark job — the old limit(1).count() probe)
        if files and sum(_footer_meta(f)["rows"] for f in files) > 0:
            new_dv = files
            if m.get("cdf"):
                new_cdf = _list_parquet(cdf_dir)
        else:
            import shutil

            shutil.rmtree(dv_commit_dir, ignore_errors=True)
    ctx = {
        "parent": m["version"],
        "version": m["version"] + 1,
        "parent_bloom_meta": m.get("bloom_meta", {}),
        "manifest_schema": T.StructType.fromJson(json.loads(m["schema"])),
        "dv_files": (m.get("dv_files") or []) + new_dv,
        # a dv-delete introduces no rows (nothing to validate) but the
        # table's properties must ride the manifest forward
        "props": _props(m),
        "cdf_files": new_cdf,
    }
    if isinstance(m, _LazyManifest) and not m._loaded:
        # dv-delete keeps every data file: the parent's sidecar parts
        # are SHARED by name — zero metadata read or written (and on an
        # exact O(1)-head parent, the path list stays deferred too)
        ctx["parent_detail_parts"] = m._part_names()
        ctx["parent_detail_exact"] = m.get("detail_exact", False)
        if m._files_lazy and ctx["parent_detail_exact"]:
            ctx["parent_files"] = None
            ctx["parent_file_count"] = int(dict.__getitem__(m, "file_count"))
        else:
            ctx["parent_files"] = m["files"]
        ctx["parent_stats"] = {}
        ctx["parent_blooms"] = {}
        ctx["parent_file_meta"] = {}
    else:
        ctx["parent_files"] = m["files"]
        ctx["parent_stats"] = m.get("file_stats", {})
        ctx["parent_blooms"] = m.get("file_blooms", {})
        ctx["parent_file_meta"] = m.get("file_meta", {})
    if snap_current_version(root) != version:
        raise SnapshotConflict(
            "store advanced while the dv-delete matching scan ran — "
            "reload and retry"
        )
    return _publish_commit(
        root,
        ctx,
        "merge",
        tag,
        [],
        {},
        {},
        {},
        {},
        cleanup_dir=dv_commit_dir if new_dv else None,
    )


def _source_frame_with_meta(
    spark: SparkSession, m: dict, files: list[str] | None = None
) -> DataFrame:
    """The DV-applied snapshot (default: all files; pass a pruned
    candidate list to scan less) with its raw ``_dv_f``/``_dv_i``
    metadata columns still attached — the recording side of
    ``snap_delete_dv`` (the applying side strips them)."""
    schema = T.StructType.fromJson(json.loads(m["schema"]))
    files = m["files"] if files is None else files
    df = spark.read.schema(schema).parquet(*files)
    src = df.select(
        "*",
        F.col("_metadata.file_path").alias("_dv_f"),
        F.col("_metadata.row_index").alias("_dv_i"),
    )
    dv_paths = m.get("dv_files") or []
    if dv_paths:
        src = _dv_anti_join(src, _dv_read(spark, dv_paths), m)
    return src


def snap_delete_where(
    spark: SparkSession,
    root: str,
    condition,
    tag: int | str | None = None,
) -> int:
    """Row-level DELETE as a copy-on-write commit: rewrite ONLY the
    files containing rows matching ``condition`` (a Column or SQL
    string), without those rows; untouched files and their skipping
    metadata survive verbatim. Same discovery shape as ``snap_merge``
    (one scan with input_file_name, pruned rewrite), same atomic
    publish, same "merge"-mode CDC refusal, same snapshot isolation
    for readers pinned to the parent. Returns the new version."""
    cond = F.expr(condition) if isinstance(condition, str) else condition
    version = snap_current_version(root)
    if version is None:
        raise FileNotFoundError(f"no committed version in {root}")
    m = _read_manifest(root, version)
    schema = T.StructType.fromJson(json.loads(m["schema"]))
    if not m["files"]:
        return _rewrite_commit(
            spark, root, m, [], local_frame(spark, [], schema), "merge", tag
        )
    store = _source_frame(
        spark, m, _dml_candidate_files(m, condition), file_col="_sf"
    )
    touched = [
        r["_sf"]
        for r in store.filter(cond).select("_sf").distinct().collect()
    ]
    unknown = set(touched) - set(m["files"])
    if unknown:
        raise RuntimeError(f"discovered files outside the manifest: {unknown}")
    changes = None
    if not touched:
        new_data = local_frame(spark, [], schema)
        if m.get("cdf"):
            changes = local_frame(spark, [], _cdf_schema(schema))
    else:
        # NULL-condition rows are NOT deletes (same as the discovery
        # filter): keep everything except rows where cond is TRUE
        new_data = _source_frame(spark, m, touched).filter(
            ~F.coalesce(cond, F.lit(False))
        )
        if m.get("cdf"):
            changes = (
                _source_frame(spark, m, touched)
                .filter(F.coalesce(cond, F.lit(False)))
                .withColumn("_change_type", F.lit("delete"))
            )
    return _rewrite_commit(
        spark, root, m, touched, new_data, "merge", tag, changes=changes
    )


def snap_overwrite_where(
    spark: SparkSession,
    root: str,
    condition,
    new_data: DataFrame,
    tag: int | str | None = None,
) -> int:
    """Atomic SELECTIVE OVERWRITE — Delta Lake's ``replaceWhere``: in
    ONE commit, delete every stored row matching ``condition`` (a
    Column or SQL string) and insert ``new_data`` in its place. The
    canonical backfill/restatement primitive: "replace March" is one
    atomic version, never a delete commit a reader can observe before
    the insert lands.

    Semantics (Delta parity):

    - ``new_data``'s schema must equal the store schema exactly (a
      replace cannot evolve the schema — evolution is an explicit
      append contract).
    - EVERY incoming row must satisfy ``condition`` (NULL = does not
      satisfy, the SQL convention) — otherwise the commit would write
      rows outside the region it claims to replace; violations raise
      with an example row. Like the CHECK-constraint gate this is a
      pre-write validation pass, so ``new_data`` is evaluated twice —
      pass a deterministic frame (checkpoint nondeterministic inputs).
    - Empty ``new_data`` is legal and equals ``snap_delete_where``.

    COPY-ON-WRITE, PRUNED: only files that actually CONTAIN a matching
    row rewrite (their non-matching rows are carried over, read
    DV-correctly through ``_source_frame``); untouched files keep their
    manifest entries, stats, and blooms verbatim. Readers pinned to the
    parent stay snapshot-isolated. The commit's mode is "merge": the
    file-diff CDC reader refuses it honestly, while with CDF enabled
    the feed records the replaced rows as ``delete`` and the incoming
    rows as ``insert`` (exactly the retraction algebra the CDF-driven
    MV maintainer consumes). Table CHECK constraints gate the carried +
    incoming rows like every data-introducing commit. Returns the new
    version; raises ``SnapshotConflict`` on a lost commit race.
    """
    cond = F.expr(condition) if isinstance(condition, str) else condition
    version = snap_current_version(root)
    if version is None:
        raise FileNotFoundError(f"no committed version in {root}")
    m = _read_manifest(root, version)
    schema = T.StructType.fromJson(json.loads(m["schema"]))
    if [(f.name, f.dataType) for f in schema.fields] != [
        (f.name, f.dataType) for f in new_data.schema.fields
    ]:
        raise ValueError(
            "replacement data schema must equal the store schema exactly"
        )
    offender = (
        new_data.filter(~F.coalesce(cond, F.lit(False))).limit(1).collect()
    )
    if offender:
        raise ValueError(
            "replacement rows must satisfy the overwrite predicate; e.g. "
            + ", ".join(
                f"{k}={v!r}" for k, v in offender[0].asDict().items()
            )
        )
    if not m["files"]:
        changes = (
            new_data.withColumn("_change_type", F.lit("insert"))
            if m.get("cdf")
            else None
        )
        return _rewrite_commit(
            spark, root, m, [], new_data, "merge", tag, changes=changes
        )
    store = _source_frame(
        spark, m, _dml_candidate_files(m, condition), file_col="_sf"
    )
    touched = [
        r["_sf"]
        for r in store.filter(cond).select("_sf").distinct().collect()
    ]
    unknown = set(touched) - set(m["files"])
    if unknown:
        raise RuntimeError(f"discovered files outside the manifest: {unknown}")
    if touched:
        # NULL-condition rows are KEPT (they are outside the replaced
        # region, same convention as the discovery filter)
        kept = _source_frame(spark, m, touched).filter(
            ~F.coalesce(cond, F.lit(False))
        )
        out = kept.unionByName(new_data)
    else:
        out = new_data
    changes = None
    if m.get("cdf"):
        deleted = (
            _source_frame(spark, m, touched)
            .filter(F.coalesce(cond, F.lit(False)))
            .withColumn("_change_type", F.lit("delete"))
            if touched
            else local_frame(spark, [], _cdf_schema(schema))
        )
        changes = deleted.unionByName(
            new_data.withColumn("_change_type", F.lit("insert"))
        )
    return _rewrite_commit(
        spark, root, m, touched, out, "merge", tag, changes=changes
    )


def snap_clone(
    root_src: str,
    root_dst: str,
    version: int | str | None = None,
) -> int:
    """SHALLOW CLONE — Delta Lake's ``CREATE TABLE ... SHALLOW CLONE``:
    publish ``root_dst`` version 0 whose manifest REFERENCES the source
    snapshot's data files (plus dv sidecars, per-file stats/blooms, and
    CHECK constraints) without copying a byte. The
    experiment-on-production primitive: clone, then append / DML /
    optimize the clone freely — every write lands under the CLONE's
    root (COW rewrites included), so the source is never mutated, and
    the clone's own ``snap_vacuum`` only walks the clone's data dir, so
    it can never collect source-owned files.

    ``version`` may be an int, a NAMED REF string, or None (CURRENT).
    The change-feed flag does NOT transfer (the clone starts a fresh
    lineage with no sidecar history — enable it on the clone if
    wanted); the clone's version 0 is a base snapshot — CDC spans can
    only start AT it, never cross it.

    DOCUMENTED CAVEAT (Delta parity): the SOURCE table does not know
    its files are referenced elsewhere — a ``snap_vacuum`` on the
    source that drops the cloned-from version collects files the clone
    still references, breaking the clone's reads. Pin the cloned-from
    version with ``snap_set_ref`` on the source for as long as the
    clone must stay readable.

    Raises if ``root_dst`` already has a committed version. Returns 0.
    """
    if version is not None:
        version = _resolve_version(root_src, version)
    else:
        version = snap_current_version(root_src)
        if version is None:
            raise FileNotFoundError(f"no committed version in {root_src}")
    if snap_current_version(root_dst) is not None:
        raise ValueError(
            f"clone target {root_dst} already has a committed version"
        )
    m = _read_manifest(root_src, version)
    # same guard as snap_restore: never publish references to files a
    # concurrent source vacuum already collected
    missing = [
        f
        for f in list(m["files"]) + list(m.get("dv_files") or [])
        if not os.path.exists(f)
    ]
    if missing:
        raise FileNotFoundError(
            f"cannot clone version {version}: {len(missing)} of its files "
            f"were vacuumed (first: {missing[0]})"
        )
    os.makedirs(_manifest_dir(root_dst), exist_ok=True)
    ctx = {
        "parent": None,
        "version": 0,
        "parent_files": list(m["files"]),
        "parent_bloom_meta": dict(m.get("bloom_meta", {})),
        "manifest_schema": T.StructType.fromJson(json.loads(m["schema"])),
        "dv_files": list(m.get("dv_files") or []),
        # constraints transfer, the change feed does not (see docstring)
        "props": _props(m, cdf=False),
    }
    if isinstance(m, _LazyManifest) and not m._loaded:
        # the clone's sidecar is the source's table re-written under
        # the DESTINATION root (pointers cannot cross roots — each
        # root's vacuum sweeps only its own _manifests) — still zero
        # dict reconstruction
        ctx["parent_detail"] = m._table()
        ctx["parent_detail_exact"] = m.get("detail_exact", False)
        ctx["parent_stats"] = {}
        ctx["parent_blooms"] = {}
        ctx["parent_file_meta"] = {}
    else:
        ctx["parent_stats"] = dict(m.get("file_stats", {}))
        ctx["parent_blooms"] = dict(m.get("file_blooms", {}))
        ctx["parent_file_meta"] = dict(m.get("file_meta", {}))
    return _publish_commit(
        root_dst,
        ctx,
        "clone",
        f"clone:{root_src}@{version}",
        [],
        {},
        {},
        {},
        {},
        cleanup_dir=None,
    )


def snap_version_asof(root: str, ts) -> int:
    """TIMESTAMP AS OF resolution (Delta's ``timestampAsOf``): the
    latest RETAINED version whose recorded publish instant is <= ``ts``
    (epoch seconds or a ``datetime`` — naive datetimes are taken in
    local time, matching ``datetime.timestamp()``). Versions from
    before commit timestamps existed (no ``ts`` in the manifest) never
    match — re-publish or pin by version number instead. Raises if no
    retained version is old enough."""
    if hasattr(ts, "timestamp"):
        ts = ts.timestamp()
    ts = float(ts)
    best = None
    for v in snap_versions(root):
        m_ts = _read_manifest(root, v).get("ts")
        if m_ts is not None and m_ts <= ts:
            best = v
    if best is None:
        raise ValueError(
            f"no retained version in {root} committed at or before {ts}"
        )
    return best


def snap_read_asof(spark: SparkSession, root: str, ts) -> DataFrame:
    """Time travel by wall clock: ``snap_read`` at
    ``snap_version_asof(root, ts)``."""
    return snap_read(spark, root, snap_version_asof(root, ts))


def snap_analyze(
    spark: SparkSession,
    root: str,
    stats_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    bloom_bits: int = 1 << 14,
    bloom_k: int = 4,
) -> int:
    """ANALYZE — re-profile RESIDENT files without rewriting a byte:
    compute per-file min/max (``stats_cols``) and/or Bloom bitmaps
    (``bloom_cols``) over the CURRENT manifest's files and publish them
    as a metadata-only commit. The retrofit path for tables committed
    without skipping metadata: afterwards ``snap_read_between`` /
    ``snap_read_where`` / the DataSource's pushed filters / the DML
    discovery pre-prune all plan from the new stats, and later COW
    rewrites re-profile their files with the same config
    (``_rewrite_config`` reads it back from the manifest).

    New entries MERGE into existing per-file dicts (re-analyzing a
    column overwrites just that column). Bloom geometry must match any
    existing bloom metadata — a filter cannot be resized; re-analyze
    after a full rewrite instead. Unknown columns refuse. One
    distributed aggregation per metadata family, grouped on
    ``_metadata.file_path``; the driver holds O(files × cols) entries,
    exactly like commit-time profiling. Returns the new version."""
    if not stats_cols and not bloom_cols:
        raise ValueError("snap_analyze: pass stats_cols and/or bloom_cols")
    version = snap_current_version(root)
    if version is None:
        raise FileNotFoundError(f"no committed version in {root}")
    m = _read_manifest(root, version)
    schema = T.StructType.fromJson(json.loads(m["schema"]))
    known = {f.name for f in schema.fields}
    bad = sorted((set(stats_cols or []) | set(bloom_cols or [])) - known)
    if bad:
        raise ValueError(f"snap_analyze: unknown columns {bad}")
    if not m["files"]:
        raise ValueError("snap_analyze: empty table has nothing to profile")
    existing_geom = m.get("bloom_meta", {})
    if bloom_cols and existing_geom:
        geoms = {(g["n_bits"], g["k"]) for g in existing_geom.values()}
        if geoms and geoms != {(bloom_bits, bloom_k)}:
            raise ValueError(
                "snap_analyze: bloom geometry must match the table's "
                f"existing filters {sorted(geoms)} — a filter cannot be "
                "resized without a rewrite"
            )
    extra: dict = {}
    if stats_cols:
        # the manifest schema, not footer inference: evolved tables hold
        # pre-evolution files whose footers lack the new columns
        fresh = _collect_file_stats(spark, m["files"], stats_cols, schema)
        merged = {f: dict(per) for f, per in m.get("file_stats", {}).items()}
        for f, per in fresh.items():
            merged.setdefault(f, {}).update(per)
        extra["file_stats"] = merged
    if bloom_cols:
        fresh_b = _collect_file_blooms(
            spark, m["files"], bloom_cols, bloom_bits, bloom_k, schema
        )
        merged_b = {f: dict(per) for f, per in m.get("file_blooms", {}).items()}
        for f, per in fresh_b.items():
            merged_b.setdefault(f, {}).update(per)
        extra["file_blooms"] = merged_b
        geom = dict(existing_geom)
        geom.update(
            {c: {"n_bits": bloom_bits, "k": bloom_k} for c in bloom_cols}
        )
        extra["bloom_meta"] = geom
    return _publish_metadata_commit(root, m, _props(m), extra)
