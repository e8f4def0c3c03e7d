"""Measure the manifest metadata plane at scale: inline-JSON vs the
parquet detail sidecar.

Fabricates stores whose manifests reference N synthetic data files (no
data written — planning never opens a file), each with one numeric
stats column and one small Bloom column, then times what a READER pays:

- head read (what EVERY operation pays before planning);
- range prune (``snap_prune_files`` — vectorized over the sidecar's
  typed index vs the inline dict loop);
- equality prune (``snap_prune_files_eq`` — bloom word probes);
- full detail reconstruction (the commit-time merge path).

Usage: python tools/measure_manifest.py [N ...]   (default 5000 20000 50000)

Prints one JSON line per (N, mode) with seconds per phase. The claim
under test: head cost is O(paths) and prune cost near-flat (C-speed
vectorized) for the sidecar, vs O(files x bloom_bits) JSON parse on
EVERY read for inline mode.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from unittest import mock

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from wsspark import snapstore as ss  # noqa: E402

N_BITS, K = 1 << 10, 4
ROWS_PER_FILE = 100


def _fabricate(root: str, n_files: int, inline: bool) -> None:
    # process-wide on purpose: the appends, republishes and stages that
    # follow a fabricate keep its layout
    ss.DETAIL_INLINE_MAX = 10 * n_files if inline else 0
    files = [f"/fake/data/part-{i:06d}.parquet" for i in range(n_files)]
    stats, blooms, meta = {}, {}, {}
    n_words = N_BITS // 63 + 1
    for i, f in enumerate(files):
        lo = i * ROWS_PER_FILE
        stats[f] = {"id": [lo, lo + ROWS_PER_FILE - 1]}
        words = [0] * n_words
        # 8 representative values per file (timing-realistic density;
        # bit-exact with the probe side by construction)
        for v in range(lo, lo + 8):
            for p in ss._bloom_positions_py(v, N_BITS, K):
                words[p // 63] |= 1 << (p % 63)
        blooms[f] = {"id": "".join(f"{w:016x}" for w in words)}
        meta[f] = {"rows": ROWS_PER_FILE, "bytes": 4096}
    manifest = {
        "version": 0,
        "parent": None,
        "mode": "overwrite",
        "tag": None,
        "schema": json.dumps(
            {
                "type": "struct",
                "fields": [
                    {
                        "name": "id",
                        "type": "long",
                        "nullable": False,
                        "metadata": {},
                    }
                ],
            }
        ),
        "files": files,
        "file_stats": stats,
        "file_blooms": blooms,
        "bloom_meta": {"id": {"n_bits": N_BITS, "k": K}},
        "file_meta": meta,
        "dv_files": [],
        "constraints": {},
        "cdf": False,
        "cdf_files": [],
        "ts": time.time(),
    }
    os.makedirs(ss._manifest_dir(root), exist_ok=True)
    ss._write_manifest_file(root, manifest)
    ss._advance_current(root, 0)


def _t(fn, *a, **k):
    t0 = time.perf_counter()
    out = fn(*a, **k)
    return time.perf_counter() - t0, out


def _append_via_publish(root, version: int, n_new: int) -> None:
    """One REAL incremental append through _write_manifest_file: new
    files' dicts + the parent's parts by name — exactly what
    _publish_commit hands the serializer. Times the whole multipart
    path including any compaction the chain length triggers."""
    parent = ss._read_manifest(root, version - 1)
    new_files = [
        f"/fake/new/v{version}-{i:04d}.parquet" for i in range(n_new)
    ]
    manifest = {
        k: parent.head_copy().get(k)
        for k in ("schema", "bloom_meta", "constraints", "cdf")
    }
    exact = parent.get("detail_exact", False)
    # mirror _publish_commit's deferral: an exact O(1)-head parent
    # contributes only its COUNT — the path list never materializes
    if parent._files_lazy and exact:
        files_val = None
        count = int(dict.__getitem__(parent, "file_count")) + len(new_files)
    else:
        files_val = parent["files"] + new_files
        count = None
    manifest.update(
        {
            "version": version,
            "parent": version - 1,
            "mode": "append",
            "tag": None,
            "files": files_val,
            "file_stats": {f: {"id": [0, 1]} for f in new_files},
            "file_blooms": {},
            "file_meta": {f: {"rows": 1, "bytes": 1} for f in new_files},
            "dv_files": [],
            "cdf_files": [],
            "ts": time.time(),
            "_parent_detail_parts": parent._part_names(),
            "_parent_detail_exact": exact,
            "_new_files": new_files,
        }
    )
    if count is not None:
        manifest["_file_count"] = count
    ss._write_manifest_file(root, manifest)
    ss._advance_current(root, version)


def run_o1(n_files: int) -> None:
    """The r14 plane: files-in-detail O(1) heads + multipart chains.
    Reports head bytes/read (should be ~constant in N), the files
    reconstruction cost (column-projected path read), and the REAL
    per-append publish cost over a parts_max+2 chain — first append,
    median, and the compaction spike, i.e. the amortization evidence."""
    with mock.patch.object(ss, "FILES_INLINE_MAX", 0):
        root = tempfile.mkdtemp(prefix="manifest-o1-")
        try:
            t_write, _ = _t(_fabricate, root, n_files, False)
            ss._detail_cache.clear()
            t_head, m = _t(ss._read_manifest, root, 0)
            head_bytes = os.path.getsize(ss._manifest_path(root, 0))
            t_files, files = _t(lambda: ss._read_manifest(root, 0)["files"])
            assert len(files) == n_files
            hi_id = n_files * ROWS_PER_FILE
            t_range, (kept, total) = _t(
                ss.snap_prune_files,
                root, "id", hi_id // 2, hi_id // 2 + hi_id // 100,
            )
            assert total == n_files
            n_appends = ss.DETAIL_PARTS_MAX + 2
            times = []
            for v in range(1, n_appends + 1):
                t_a, _ = _t(_append_via_publish, root, v, 4)
                times.append(t_a)
            times_sorted = sorted(times)
            hv = ss.snap_current_version(root)
            hm = ss._read_manifest(root, hv)
            assert len(hm["files"]) == n_files + 4 * n_appends
            assert "files" not in json.load(open(ss._manifest_path(root, hv)))
            print(
                json.dumps(
                    {
                        "n_files": n_files,
                        "mode": "o1_multipart",
                        "write_s": round(t_write, 4),
                        "head_bytes": head_bytes,
                        "head_read_s": round(t_head, 4),
                        "files_reconstruct_s": round(t_files, 4),
                        "prune_range_s": round(t_range, 4),
                        "kept_range": len(kept),
                        "append_publish_first_s": round(times[0], 4),
                        "append_publish_median_s": round(
                            times_sorted[len(times) // 2], 4
                        ),
                        "append_publish_max_s": round(times_sorted[-1], 4),
                        "appends": n_appends,
                        "head_bytes_final": os.path.getsize(
                            ss._manifest_path(root, hv)
                        ),
                    }
                )
            )
        finally:
            shutil.rmtree(root, ignore_errors=True)


def run(n_files: int) -> None:
    # pin the r13 shape (path list inline in the head) so the three
    # modes compare cleanly: inline JSON / sidecar+inline files (r13) /
    # O(1) multipart head (r14, run_o1)
    with mock.patch.object(ss, "FILES_INLINE_MAX", 100 * n_files):
        for inline in (True, False):
            mode = "inline" if inline else "detail"
            root = tempfile.mkdtemp(prefix=f"manifest-{mode}-")
            try:
                t_write, _ = _t(_fabricate, root, n_files, inline)
                ss._detail_cache.clear()
                t_head, m = _t(ss._read_manifest, root, 0)
                # range prune over ~1% of the id domain
                hi_id = n_files * ROWS_PER_FILE
                t_range, (kept, total) = _t(
                    ss.snap_prune_files, root, "id", hi_id // 2, hi_id // 2 + hi_id // 100
                )
                t_eq, (kept_eq, _) = _t(
                    ss.snap_prune_files_eq, root, "id", ROWS_PER_FILE * (n_files // 2)
                )
                row = {
                    "n_files": n_files,
                    "mode": mode,
                    "write_s": round(t_write, 4),
                    "head_read_s": round(t_head, 4),
                    "prune_range_s": round(t_range, 4),
                    "prune_eq_s": round(t_eq, 4),
                    "kept_range": len(kept),
                    "kept_eq": len(kept_eq),
                    "total": total,
                }
                if not inline:
                    ss._detail_cache.clear()
                    # commit-time detail cost for an APPEND of 4 new files:
                    # the r13 incremental path (arrow concat + write) vs the
                    # dict path (reconstruct + merge + rebuild) it replaced
                    parent = ss._read_manifest(root, 0)
                    new_part = {
                        "file_stats": {
                            f"/fake/new-{i}.parquet": {"id": [0, 1]}
                            for i in range(4)
                        },
                        "file_blooms": {},
                        "file_meta": {
                            f"/fake/new-{i}.parquet": {"rows": 1, "bytes": 1}
                            for i in range(4)
                        },
                    }
                    import pyarrow.parquet as pq

                    def _append_incremental():
                        t = ss._align_detail_tables(
                            parent._table(), ss._detail_table_from_dicts(new_part)
                        )
                        pq.write_table(t, os.path.join(root, "_x.detail.parquet"))

                    def _append_dicts():
                        st_, bl, me = ss._detail_to_dicts(parent._table())
                        st_.update(new_part["file_stats"])
                        me.update(new_part["file_meta"])
                        pq.write_table(
                            ss._detail_table_from_dicts(
                                {"file_stats": st_, "file_blooms": bl, "file_meta": me}
                            ),
                            os.path.join(root, "_y.detail.parquet"),
                        )

                    t_inc, _ = _t(_append_incremental)
                    row["append_incremental_s"] = round(t_inc, 4)
                    t_dict, _ = _t(_append_dicts)
                    row["append_dict_rebuild_s"] = round(t_dict, 4)
                    ss._detail_cache.clear()
                    t_detail, _ = _t(lambda: ss._read_manifest(root, 0)["file_stats"])
                    row["detail_reconstruct_s"] = round(t_detail, 4)
                    head_bytes = os.path.getsize(ss._manifest_path(root, 0))
                    row["head_bytes"] = head_bytes
                else:
                    row["head_bytes"] = os.path.getsize(ss._manifest_path(root, 0))
                print(json.dumps(row))
            finally:
                shutil.rmtree(root, ignore_errors=True)


def run_stage(n_files: int, spark) -> None:
    """A bulk WAP stage + publish over a generated frame written at
    ``rows_per_file`` rows per file: the staged JSON carries the inline
    per-file dicts (O(files x cols x bloom_bits) bytes), and the publish
    builds the manifest (and sidecar, past the inline threshold) from
    them. Reports stage and publish wall time and the staged JSON size."""
    from pyspark.sql import functions as F

    rows_per_file = 40
    df = spark.range(n_files * rows_per_file).select(
        F.col("id"),
        (F.col("id") % 9973).cast("string").alias("s"),
        (F.col("id").cast("double") / 7).alias("x"),
    ).repartition(8)
    old_max = spark.conf.get("spark.sql.files.maxRecordsPerFile", "0")
    spark.conf.set("spark.sql.files.maxRecordsPerFile", str(rows_per_file))
    root = tempfile.mkdtemp(prefix="stage-")
    try:
        t_stage, sid = _t(
            ss.snap_stage, df, root,
            stats_cols=["id", "x"], bloom_cols=["s"],
            bloom_bits=N_BITS, bloom_k=K,
        )
        json_bytes = os.path.getsize(ss._staged_path(root, sid))
        t_pub, _ = _t(ss.snap_publish_staged, root, sid)
        assert ss.snap_count(root) == n_files * rows_per_file
        print(
            json.dumps(
                {
                    "n_files": n_files,
                    "mode": "wap_stage",
                    "stage_s": round(t_stage, 4),
                    "staged_json_bytes": json_bytes,
                    "publish_s": round(t_pub, 4),
                }
            )
        )
    finally:
        spark.conf.set("spark.sql.files.maxRecordsPerFile", old_max)
        shutil.rmtree(root, ignore_errors=True)


def run_relocate(n_files: int) -> None:
    """r16: the rebase-on-read trade, measured. A MOVED store's first
    read pays head-list rebase (O(1) heads: trivial), part self-rebase
    (one vectorized arrow pass over the path column), and — when DV
    sidecars exist — the driver origin probe + suffix-vote target
    resolution. The unmoved store must pay none of it (same numbers as
    the plain o1 row; the DV read plan stays raw==raw, pinned by
    test_unmoved_store_read_plan_has_no_rebase)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    with mock.patch.object(ss, "FILES_INLINE_MAX", 0):
        src = tempfile.mkdtemp(prefix="manifest-reloc-")
        _fabricate(src, n_files, False)
        # a DV sidecar with 2000 rows over the fake files (the probe and
        # vote read it driver-side on the moved store)
        dv_dir = os.path.join(src, "data", "commit-000000000000-dv", "_dv")
        os.makedirs(dv_dir)
        dvp = os.path.join(dv_dir, "dv.parquet")
        files = [f"/fake/data/part-{i:06d}.parquet" for i in range(2000)]
        pq.write_table(
            pa.table(
                {
                    "file": pa.array(files, pa.string()),
                    "idx": pa.array([0] * 2000, pa.int64()),
                    "root": pa.array([src] * 2000, pa.string()),
                }
            ),
            dvp,
        )
        m0 = ss._read_manifest(src, 0)
        head = m0.head_copy() if hasattr(m0, "head_copy") else dict(m0)
        head["dv_files"] = [dvp]
        head["version"] = 1
        head["parent"] = 0
        os.remove(ss._manifest_path(src, 0))
        ss._write_manifest_file(src, head)  # shares v0's sidecar parts
        ss._advance_current(src, 1)
        ss._detail_cache.clear()
        hi_id = n_files * ROWS_PER_FILE
        t_head_u, m = _t(ss._read_manifest, src, 1)
        t_files_u, _ = _t(lambda: m["files"])
        t_dv_u, rmap_u = _t(ss._dv_rebase_map, m)
        assert rmap_u == {}
        t_prune_u, _ = _t(
            ss.snap_prune_files, src, "id", hi_id // 2, hi_id // 2 + 100
        )
        dst = src + "-moved"
        shutil.move(src, dst)
        ss._detail_cache.clear()
        t_head_m, mm = _t(ss._read_manifest, dst, 1)
        t_files_m, _ = _t(lambda: mm["files"])
        t_dv_m, rmap_m = _t(ss._dv_rebase_map, mm)
        assert rmap_m == {src: dst}  # fake paths: suffix vote -> actual
        t_prune_m, _ = _t(
            ss.snap_prune_files, dst, "id", hi_id // 2, hi_id // 2 + 100
        )
        print(
            json.dumps(
                {
                    "n_files": n_files,
                    "mode": "relocated_first_read",
                    "dv_rows": 2000,
                    "unmoved_head_s": round(t_head_u, 4),
                    "moved_head_s": round(t_head_m, 4),
                    "unmoved_files_s": round(t_files_u, 4),
                    "moved_files_s": round(t_files_m, 4),
                    "unmoved_dv_probe_s": round(t_dv_u, 4),
                    "moved_dv_probe_s": round(t_dv_m, 4),
                    "unmoved_prune_s": round(t_prune_u, 4),
                    "moved_prune_s": round(t_prune_m, 4),
                }
            )
        )
        shutil.rmtree(dst, ignore_errors=True)


def main() -> None:
    sizes = [int(a) for a in sys.argv[1:]] or [5000, 20000, 50000]
    spark = None
    if os.environ.get("WSSPARK_MANIFEST_SPARK", "1") != "0":
        from wsspark.session import get_session

        spark = get_session(
            app_name="measure-manifest", master="local[8]", shuffle_partitions=8
        )
    for n in sizes:
        run(n)
        run_o1(n)
        run_relocate(n)
        if spark is not None:
            run_stage(n, spark)


if __name__ == "__main__":
    main()
