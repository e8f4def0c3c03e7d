"""The benchmark's workloads. Each is a closed loop with one client.

A workload object owns its inputs and stores under one run directory:

- ``generate(dir)`` writes the seeded inputs (counted in set-up time);
- ``first(spark)`` runs the first unit of work in a fresh session;
- ``unit(spark)`` runs one warm unit and returns its operations as
  ``[(kind, seconds)]``; ``kind`` is ``"unit"`` for a whole ETL run,
  ``"write"``, ``"read"`` or ``"refresh"`` for a ``table_dml`` operation,
  and ``"drift"`` for a drift gate;
- ``check(spark)`` compares the outputs with an independent oracle and
  returns a list of mismatch messages (empty when correct);
- ``layer_inputs()`` returns the counts the traced run divides by.

``warmups`` is the number of unmeasured units after the first one, and
``cycles`` the number of measured units: a fixed count, or ``None`` for as
many as fit in ``--seconds``. ``EtlWorkload`` also has a drift
gate (``drift_gate``), which only the traced run calls.

When ``trace`` is set, a workload also records, per unit, layer counts
that need the file system (files and bytes written) in ``self.layer``.
"""

from __future__ import annotations

import os
import time

import numpy as np

from perfbench import gen

ETL_ROWS = 150_000
DML_ROWS = 100_000
DML_FILES = 32
DML_PRODUCTS = 10_000
DML_WAREHOUSES = 50
DML_BATCH = 2_000
DML_UPDATE = 200
DML_DELETE = 100
DML_READ_DAYS = 3
# measured cycles of every run, traced or not; a fixed count, because each
# cycle grows the store
DML_CYCLES = 3
DRIFT_ROWS = 20_000
DRIFT_NUMERIC = ["quantity", "unit_cost"]
DRIFT_CATEGORICAL = ["warehouse_id", "movement_type"]


class EtlWorkload:
    """``wsspark.pipeline.run_pipeline(load_type="incremental")`` over
    generated lineitem/part tables, with a watermark that leaves a ~2.5%
    tail; each unit writes the 12 reports.

    The drift gate compares yesterday's and today's movement snapshots
    (``gen.write_drift_snapshots``) with ``quality.drift_suite`` (PSI,
    exact KS, top-k PSI) and audits today's with
    ``quality.expectation_report``."""

    name = "etl_incremental"
    since = gen.INCREMENTAL_SINCE
    # units still get faster after the first warm-up unit, by an amount
    # that varies from run to run
    warmups = 2
    cycles = None

    def __init__(self, seed: int, n_rows: int = ETL_ROWS):
        self.seed = seed
        self.fact_rows = n_rows
        self.trace = False
        self.layer: dict[str, list[float]] = {}
        self.sf_dir = self.out_dir = None
        self.drift_paths = self.drift_rows = None

    def generate(self, run_dir: str) -> None:
        self.run_dir = run_dir
        self.sf_dir = os.path.join(run_dir, "tables")
        self.out_dir = os.path.join(run_dir, "reports")
        gen.write_lineitem_tables(self.sf_dir, self.seed, self.fact_rows)

    def layer_inputs(self) -> dict:
        """Counts the traced run divides by: the fact rows past the
        watermark (the delta the unit has to process)."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        ship = pq.read_table(
            os.path.join(self.sf_dir, "lineitem.parquet"), columns=["l_shipdate"]
        )["l_shipdate"]
        since = np.datetime64(self.since.replace(" ", "T"), "us")
        return {"useful_rows": int(pc.sum(pc.greater(ship, since)).as_py())}

    def first(self, spark) -> list[tuple[str, float]]:
        return self.unit(spark)

    def unit(self, spark) -> list[tuple[str, float]]:
        from wsspark.pipeline import run_pipeline

        t0 = time.perf_counter()
        written = run_pipeline(
            spark,
            self.sf_dir,
            self.out_dir,
            load_type="incremental",
            incremental_since=self.since,
        )
        dt = time.perf_counter() - t0
        if len(written) != 12:
            raise RuntimeError(f"{self.name}: wrote {len(written)} reports, want 12")
        return [("unit", dt)]

    def drift_gate(self, spark) -> list[tuple[str, float]]:
        """Writes the snapshot pair on its first call (untimed)."""
        from wsspark import quality as q

        if self.drift_paths is None:
            self.drift_paths = gen.write_drift_snapshots(
                os.path.join(self.run_dir, "drift"), self.seed, DRIFT_ROWS
            )
        t0 = time.perf_counter()
        base, cur = (spark.read.parquet(p) for p in self.drift_paths)
        self.drift_rows = q.drift_suite(
            base, cur, numeric_cols=DRIFT_NUMERIC, cat_cols=DRIFT_CATEGORICAL
        ).collect()
        q.expectation_report(cur).collect()
        return [("drift", time.perf_counter() - t0)]

    def check(self, spark) -> list[str]:
        from perfbench import checks

        errors = checks.check_etl_reports(self.sf_dir, self.out_dir, self.since)
        if self.drift_rows is not None:
            errors += checks.check_drift(*self.drift_paths, self.drift_rows)
        return errors


class DmlWorkload:
    """snapstore maintenance of a movement fact with the change-data feed
    (CDF) on. ``first`` bulk-loads the fact, the keyed stock table and the
    initial MV; each ``unit`` is one cycle of six operations: append a
    batch, MERGE per-key stock upserts, a narrow UPDATE, a deletion-vector
    DELETE, a pruned range read plus an aggregate, and the CDF MV refresh.
    The cycle's parameters come from the seeded operation log
    (``op_log``), so the final state can be replayed independently."""

    name = "table_dml"
    warmups = 1
    cycles = DML_CYCLES

    def __init__(self, seed: int, n_rows: int = DML_ROWS):
        self.seed = seed
        self.fact_rows = n_rows
        self.trace = False
        self.layer: dict[str, list[float]] = {}
        self.logs: list[dict] = []
        self.alive = np.zeros(
            n_rows + (self.warmups + DML_CYCLES) * DML_BATCH, dtype=bool
        )
        self.alive[:n_rows] = True

    # -- inputs ---------------------------------------------------------
    def generate(self, run_dir: str) -> None:
        self.in_dir = os.path.join(run_dir, "inputs")
        self.fact_root = os.path.join(run_dir, "fact")
        self.stock_root = os.path.join(run_dir, "stock")
        self.mv_root = os.path.join(run_dir, "mv")
        os.makedirs(self.in_dir, exist_ok=True)
        rng = np.random.default_rng([self.seed, 3])
        cols = gen.movement_rows(rng, 0, self.fact_rows, DML_PRODUCTS, DML_WAREHOUSES)
        self.base_path = os.path.join(self.in_dir, "base.parquet")
        gen.write_movements(cols, self.base_path, row_groups=8)

    def op_log(self, cycle: int) -> dict:
        """Cycle ``cycle``'s operations; writes its append batch."""
        if cycle >= self.warmups + DML_CYCLES:
            raise RuntimeError(f"table_dml: more than {self.warmups + DML_CYCLES} cycles")
        rng = np.random.default_rng([self.seed, 4, cycle])
        first_id = self.fact_rows + cycle * DML_BATCH
        top = first_id + DML_BATCH
        batch = gen.movement_rows(rng, first_id, DML_BATCH, DML_PRODUCTS, DML_WAREHOUSES)
        path = os.path.join(self.in_dir, f"batch{cycle:04d}.parquet")
        gen.write_movements(batch, path)
        upd = int(rng.integers(0, top - DML_UPDATE))
        dele = int(rng.integers(0, top - DML_DELETE))
        day = int(rng.integers(0, max(1, top // gen.MOVES_PER_DAY - DML_READ_DAYS)))
        keys = np.unique(np.stack([batch["product_id"], batch["warehouse_id"]]), axis=1)
        return {
            "batch": path,
            "batch_ids": (first_id, top - 1),
            "merge_keys": keys.shape[1],
            "update": (upd, upd + DML_UPDATE - 1),
            "delete": (dele, dele + DML_DELETE - 1),
            "read": (
                gen.movement_time(day * gen.MOVES_PER_DAY),
                gen.movement_time((day + DML_READ_DAYS) * gen.MOVES_PER_DAY),
            ),
        }

    # -- operations -----------------------------------------------------
    def first(self, spark) -> list[tuple[str, float]]:
        from pyspark.sql import functions as F

        from wsspark import snapstore as ss
        from wsspark.ops import incremental as ivm

        t0 = time.perf_counter()
        base = spark.read.parquet(self.base_path)
        ss.snap_commit(
            base.repartitionByRange(DML_FILES, "movement_id").sortWithinPartitions(
                "movement_id"
            ),
            self.fact_root,
            stats_cols=["movement_id", "movement_date"],
        )
        ss.snap_enable_cdf(self.fact_root)
        ss.snap_commit(
            base.groupBy("product_id", "warehouse_id").agg(
                F.sum("quantity").alias("quantity_on_hand")
            ),
            self.stock_root,
        )
        ivm.snapstore_mv_refresh_cdf(spark, self.fact_root, self.mv_root)
        return [("first", time.perf_counter() - t0)]

    def _timed(self, ops: list, cycle: dict, kind: str, roots: list[str], fn) -> None:
        before = [_files(r) for r in roots] if self.trace else None
        t0 = time.perf_counter()
        fn()
        ops.append((kind, time.perf_counter() - t0))
        if self.trace and roots:
            new = {}
            for root, old in zip(roots, before):
                new.update({p: s for p, s in _files(root).items() if p not in old})
            meta = sum(s for p, s in new.items() if "_manifests" in p)
            key = "refresh" if kind == "refresh" else "write"
            for name, v in (("files", len(new)), ("bytes", sum(new.values())), ("manifest_bytes", meta)):
                cycle[f"{key}.{name}"] = cycle.get(f"{key}.{name}", 0) + v

    def unit(self, spark) -> list[tuple[str, float]]:
        from pyspark.sql import functions as F

        from wsspark import snapstore as ss
        from wsspark.ops import incremental as ivm

        log = self.op_log(len(self.logs))
        self.logs.append(log)
        fact, stock = self.fact_root, self.stock_root
        keys = ["product_id", "warehouse_id"]
        ops: list[tuple[str, float]] = []
        cycle: dict[str, float] = {}

        def merge():
            delta = (
                spark.read.parquet(log["batch"])
                .groupBy(*keys)
                .agg(F.sum("quantity").alias("delta"))
            )
            cur = ss.snap_read(spark, stock)
            src = delta.join(cur, keys, "left").select(
                *keys,
                (F.coalesce("quantity_on_hand", F.lit(0)) + F.col("delta")).alias(
                    "quantity_on_hand"
                ),
            )
            ss.snap_merge(spark, stock, src, on=keys)

        lo, hi = log["read"]

        def read():
            rows = (
                ss.snap_read_between(spark, fact, "movement_date", lo, hi)
                .groupBy("warehouse_id")
                .agg(F.sum("quantity"))
                .collect()
            )
            if not rows:
                raise RuntimeError("table_dml: pruned read returned no rows")

        self._timed(
            ops, cycle, "write", [fact],
            lambda: ss.snap_commit(spark.read.parquet(log["batch"]), fact),
        )
        self._timed(ops, cycle, "write", [stock], merge)
        u0, u1 = log["update"]
        self._timed(
            ops, cycle, "write", [fact],
            lambda: ss.snap_update_where(
                spark, fact, f"movement_id BETWEEN {u0} AND {u1}",
                {"quantity": "quantity + 1"},
            ),
        )
        d0, d1 = log["delete"]
        self._timed(
            ops, cycle, "write", [fact],
            lambda: ss.snap_delete_dv(spark, fact, f"movement_id BETWEEN {d0} AND {d1}"),
        )
        if self.trace:
            kept, total = ss.snap_prune_files(fact, "movement_date", lo, hi)
            cycle["prune_kept_frac"] = len(kept) / max(1, total)
        self._timed(ops, cycle, "read", [], read)
        self._timed(
            ops, cycle, "refresh", [self.mv_root],
            lambda: ivm.snapstore_mv_refresh_cdf(spark, fact, self.mv_root),
        )

        b0, b1 = log["batch_ids"]
        self.alive[b0 : b1 + 1] = True
        changed = DML_BATCH + log["merge_keys"]
        changed += int(self.alive[u0 : u1 + 1].sum()) + int(self.alive[d0 : d1 + 1].sum())
        self.alive[d0 : d1 + 1] = False
        cycle["rows_changed"] = changed
        for k, v in cycle.items():
            self.layer.setdefault(k, []).append(v)
        return ops

    def layer_inputs(self) -> dict:
        """Counts the traced run divides by: live fact rows and bytes on
        disk under the three store roots."""
        return {
            "live_rows": int(self.alive.sum()),
            "store_bytes": sum(
                sum(_files(r).values())
                for r in (self.fact_root, self.stock_root, self.mv_root)
            ),
        }

    def check(self, spark) -> list[str]:
        from perfbench import checks

        return checks.check_dml(
            spark,
            self.base_path,
            self.logs,
            self.fact_root,
            self.stock_root,
            self.mv_root,
        )


def _files(root: str) -> dict[str, int]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            out[p] = os.path.getsize(p)
    return out


def make(name: str, seed: int):
    cls = {w.name: w for w in (EtlWorkload, DmlWorkload)}.get(name)
    if cls is None:
        raise ValueError(f"unknown workload {name!r}")
    return cls(seed)
