"""Seeded input generator for the benchmark workloads.

Everything is made with numpy and pyarrow in one process. The engine only
ever sees the parquet files written here, never the seed.

- ``write_lineitem_tables`` writes ``lineitem.parquet`` and ``part.parquet``
  in the testdata schema and value ranges (TESTDATA.md). Product keys are
  Zipf-distributed over a seeded permutation of the part keys, so revenue
  follows roughly the reference's 80/15/5 ABC Pareto. Rows are sorted by
  ``l_shipdate`` and written in several row groups, so the file is
  time-ordered and a shipdate watermark can skip row groups.
- ``movement_rows`` makes the movement rows of the ``table_dml`` workload:
  its bulk load and the append batch of each cycle of its seeded operation
  log (see ``perfbench.workloads``).
- ``write_drift_snapshots`` writes yesterday's and today's movement
  snapshots for the drift gate: today's has shifted quantities and unit
  costs, ~0.1% extreme quantity outliers and one hot warehouse key.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATE_LO = np.datetime64("1995-01-02", "D")
DATE_HI = np.datetime64("2001-11-04", "D")
# ~2.5% of the shipdate span lies after this watermark (bench.py's q0b).
INCREMENTAL_SINCE = "2001-09-01 00:00:00"

ROW_GROUPS = 8
PARTS_PER_ROW = 1 / 30  # testdata: 20k parts for 600k lines
SUPPS_PER_ROW = 1 / 600  # testdata: 1k suppliers for 600k lines
ZIPF_S = 1.0

_NAME_A = ("small", "red", "blue", "hot", "old", "large", "cold", "green")
_NAME_B = ("ring", "widget", "bolt", "gear", "gizmo", "plate", "nut", "pipe")
_TYPES = ("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
_FLAGS = np.array(["A", "N", "R"])
_STATUS = np.array(["F", "O"])

LINEITEM_SCHEMA = pa.schema(
    [
        ("l_orderkey", pa.int64()),
        ("l_partkey", pa.int64()),
        ("l_suppkey", pa.int64()),
        ("l_linenumber", pa.int32()),
        ("l_quantity", pa.float64()),
        ("l_extendedprice", pa.float64()),
        ("l_discount", pa.float64()),
        ("l_tax", pa.float64()),
        ("l_returnflag", pa.string()),
        ("l_linestatus", pa.string()),
        ("l_shipdate", pa.timestamp("us")),
    ]
)


def zipf_keys(rng: np.random.Generator, n_keys: int, size: int) -> np.ndarray:
    """``size`` draws from ``n_keys`` keys with P(rank r) ~ 1/r**ZIPF_S;
    the rank -> key mapping is a seeded permutation."""
    w = 1.0 / np.arange(1, n_keys + 1, dtype=np.float64) ** ZIPF_S
    ranks = rng.choice(n_keys, size=size, p=w / w.sum())
    return rng.permutation(n_keys)[ranks].astype(np.int64)


def lineitem_arrays(
    rng: np.random.Generator, n_rows: int, n_parts: int, n_supps: int
) -> dict[str, np.ndarray]:
    """Orders of 1-7 lines, each line shipping on a uniform day of the
    testdata span (as in the testdata); sorted by shipdate."""
    sizes = rng.integers(1, 8, size=n_rows // 4 + 8)
    sizes = sizes[: np.searchsorted(np.cumsum(sizes), n_rows) + 1]
    sizes[-1] -= int(sizes.sum()) - n_rows
    order = np.repeat(np.arange(len(sizes), dtype=np.int64), sizes)
    starts = np.cumsum(sizes) - sizes
    linenumber = (np.arange(n_rows) - np.repeat(starts, sizes) + 1).astype(np.int32)
    span = int((DATE_HI - DATE_LO).astype(int))
    day = rng.integers(0, span + 1, n_rows)
    qty = rng.integers(1, 51, n_rows).astype(np.float64)
    cols = {
        "l_orderkey": order,
        "l_partkey": zipf_keys(rng, n_parts, n_rows),
        "l_suppkey": rng.integers(0, n_supps, n_rows, dtype=np.int64),
        "l_linenumber": linenumber,
        "l_quantity": qty,
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_rows), 2),
        "l_discount": rng.integers(0, 11, n_rows) / 100.0,
        "l_tax": rng.integers(0, 9, n_rows) / 100.0,
        "l_returnflag": _FLAGS[rng.integers(0, 3, n_rows)],
        "l_linestatus": _STATUS[rng.integers(0, 2, n_rows)],
        "l_shipdate": (DATE_LO + day).astype("datetime64[us]"),
    }
    by_time = np.argsort(cols["l_shipdate"], kind="stable")
    return {k: v[by_time] for k, v in cols.items()}


def _write(cols: dict[str, np.ndarray], path: str, row_groups: int) -> None:
    table = pa.Table.from_pydict(cols, schema=LINEITEM_SCHEMA)
    pq.write_table(
        table, path, row_group_size=max(1, -(-table.num_rows // row_groups))
    )


def part_table(rng: np.random.Generator, n_parts: int) -> pa.Table:
    keys = np.arange(n_parts, dtype=np.int64)
    a = rng.integers(0, len(_NAME_A), n_parts)
    b = rng.integers(0, len(_NAME_B), n_parts)
    return pa.table(
        {
            "p_partkey": keys,
            "p_name": [f"{_NAME_A[i]} {_NAME_B[j]}" for i, j in zip(a, b)],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_parts)],
            "p_type": [_TYPES[i] for i in rng.integers(0, len(_TYPES), n_parts)],
            "p_size": rng.integers(1, 51, n_parts).astype(np.int32),
            "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1),
        }
    )


def write_lineitem_tables(out_dir: str, seed: int, n_rows: int) -> dict[str, int]:
    """Write ``lineitem.parquet`` and ``part.parquet`` to ``out_dir``."""
    rng = np.random.default_rng([seed, 1])
    n_parts = max(10, round(n_rows * PARTS_PER_ROW))
    n_supps = max(2, round(n_rows * SUPPS_PER_ROW))
    os.makedirs(out_dir, exist_ok=True)
    _write(
        lineitem_arrays(rng, n_rows, n_parts, n_supps),
        os.path.join(out_dir, "lineitem.parquet"),
        ROW_GROUPS,
    )
    pq.write_table(part_table(rng, n_parts), os.path.join(out_dir, "part.parquet"))
    return {"lineitem": n_rows, "part": n_parts}


# --- table_dml operation log ------------------------------------------------

MOVEMENT_SCHEMA = pa.schema(
    [
        ("movement_id", pa.int64()),
        ("product_id", pa.int64()),
        ("warehouse_id", pa.int64()),
        ("quantity", pa.int64()),
        ("movement_date", pa.timestamp("us")),
        ("movement_type", pa.string()),
    ]
)
_MOVE_TYPES = np.array(["IN", "OUT", "TRANSFER", "ADJUSTMENT", "RETURN"])
DML_EPOCH = dt.datetime(2024, 1, 1)
MOVES_PER_DAY = 1000


def movement_rows(
    rng: np.random.Generator, first_id: int, n: int, n_products: int, n_wh: int
) -> dict[str, np.ndarray]:
    """Movements ``first_id .. first_id+n-1``; ids and dates both increase
    (MOVES_PER_DAY rows per day from DML_EPOCH), products are Zipf."""
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    types = _MOVE_TYPES[rng.integers(0, len(_MOVE_TYPES), n)]
    qty = rng.integers(1, 51, n).astype(np.int64)
    qty[np.isin(types, ("OUT", "TRANSFER"))] *= -1
    secs = ids * (86400 // MOVES_PER_DAY)
    return {
        "movement_id": ids,
        "product_id": zipf_keys(rng, n_products, n),
        "warehouse_id": rng.integers(0, n_wh, n, dtype=np.int64),
        "quantity": qty,
        "movement_date": np.datetime64(DML_EPOCH, "us")
        + secs.astype("timedelta64[s]").astype("timedelta64[us]"),
        "movement_type": types,
    }


def movement_time(movement_id: int) -> dt.datetime:
    """``movement_date`` of the movement with this id."""
    return DML_EPOCH + dt.timedelta(seconds=int(movement_id) * (86400 // MOVES_PER_DAY))


def write_movements(cols: dict[str, np.ndarray], path: str, row_groups: int = 1) -> None:
    table = pa.Table.from_pydict(cols, schema=MOVEMENT_SCHEMA)
    pq.write_table(
        table, path, row_group_size=max(1, -(-table.num_rows // row_groups))
    )


# --- drift gate snapshot pair -------------------------------------------------

DRIFT_OUTLIER_FRAC = 0.001
DRIFT_OUTLIER_QTY = 100_000
DRIFT_HOT_FRAC = 0.25
DRIFT_WAREHOUSES = 50
DRIFT_PRODUCTS = 2_000


def drift_snapshot(
    rng: np.random.Generator, n: int, today: bool
) -> dict[str, np.ndarray]:
    """One movement snapshot with a float ``unit_cost``. Today's quantities
    and costs are shifted up, ~DRIFT_OUTLIER_FRAC of its quantities are
    extreme, and ~DRIFT_HOT_FRAC of its rows move through one warehouse."""
    cols = movement_rows(rng, 0, n, DRIFT_PRODUCTS, DRIFT_WAREHOUSES)
    cols["reference_id"] = cols["movement_id"] // 2
    cols["unit_cost"] = np.round(rng.gamma(2.0, 6.0 if today else 5.0, n), 2)
    if today:
        sign = np.sign(cols["quantity"])
        cols["quantity"] = cols["quantity"] + sign * rng.integers(0, 6, n)
        out = rng.random(n) < DRIFT_OUTLIER_FRAC
        cols["quantity"][out] = sign[out] * DRIFT_OUTLIER_QTY
        hot = rng.random(n) < DRIFT_HOT_FRAC
        cols["warehouse_id"][hot] = rng.integers(0, DRIFT_WAREHOUSES)
    return cols


def write_drift_snapshots(out_dir: str, seed: int, n_rows: int) -> tuple[str, str]:
    """Write ``yesterday.parquet`` and ``today.parquet`` to ``out_dir``."""
    rng = np.random.default_rng([seed, 5])
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for name, today in (("yesterday", False), ("today", True)):
        cols = drift_snapshot(rng, n_rows, today)
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(pa.table(cols), path)
        paths.append(path)
    return paths[0], paths[1]
