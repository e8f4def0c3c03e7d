"""Correctness checks, run after the timed region.

- ETL: four written reports against DuckDB oracles over the same
  generated tables. ``abc_analysis``, ``daily_trends`` and
  ``warehouse_io_pivot`` use the registry's oracles
  (``build_registry()[name].oracle``, or the folded twin for
  ``daily_trends``); ``transfer_patterns`` uses the registry's SQL with the
  pipeline's leg-pairing key (see ``transfer_by_product_sql``). The
  ``daily_trends`` and ``warehouse_io_pivot`` oracles
  read an ``events`` table, so for them ``events`` is defined as the
  pipeline's clean movement frame: the adapters' movement SQL, the three
  DQ rules and, for an incremental run, the watermark.
- table_dml: the final fact and stock tables against a DuckDB replay of
  the seeded operation log; the MV against a full recompute from
  ``snap_read``.
- drift gate: ``drift_suite``'s KS statistics against an exact two-sample
  computation in numpy.

Every check returns a list of mismatch messages; empty means correct.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

# movement type (the pipeline's pivot columns, in order) -> the event type
# the registry's warehouse_io_pivot oracle counts in its place
_IO_PIVOT_TYPES = {
    "IN": "click",
    "OUT": "error",
    "TRANSFER": "purchase",
    "ADJUSTMENT": "signup",
    "RETURN": "view",
}
RTOL = 1e-9
_TRANSFER_COLS = ("from_warehouse_id", "to_warehouse_id", "total_transfers", "total_qty")


def transfer_by_product_sql() -> str:
    from wsspark import adapters as ad

    return f"""
WITH t AS ({ad.TRANSFER_MOVEMENTS_SQL}),
o AS (
    SELECT reference_id, product_id, warehouse_id AS from_warehouse_id
    FROM t WHERE quantity < 0
),
i AS (
    SELECT reference_id, product_id, warehouse_id AS to_warehouse_id, quantity AS qty_in
    FROM t WHERE quantity > 0
),
p AS (SELECT o.*, i.to_warehouse_id, i.qty_in FROM o JOIN i USING (reference_id, product_id))
SELECT from_warehouse_id, to_warehouse_id,
       COUNT(DISTINCT reference_id) AS total_transfers, SUM(qty_in) AS total_qty
FROM p GROUP BY 1, 2
"""


def read_report(out_dir: str, name: str) -> pd.DataFrame:
    import pyarrow.parquet as pq

    return pq.read_table(os.path.join(out_dir, name)).to_pandas()


def compare_frames(
    name: str,
    got: pd.DataFrame,
    want: pd.DataFrame,
    keys: list[str],
    rtol: float = RTOL,
    skip: dict | None = None,
) -> list[str]:
    """Row-for-row comparison after sorting by ``keys``: numbers within
    ``rtol`` (relative), everything else exactly. ``skip`` maps a column to
    a boolean mask of rows (aligned to the sorted ``want``) where that
    column may differ."""
    if list(got.columns) != list(want.columns):
        return [f"{name}: columns {list(got.columns)} != {list(want.columns)}"]
    if len(got) != len(want):
        return [f"{name}: {len(got)} rows, oracle has {len(want)}"]
    got = got.sort_values(keys, kind="mergesort").reset_index(drop=True)
    want = want.sort_values(keys, kind="mergesort").reset_index(drop=True)
    errors = []
    for c in got.columns:
        g, w = got[c], want[c]
        if pd.api.types.is_numeric_dtype(w) and not pd.api.types.is_bool_dtype(w):
            gv, wv = g.to_numpy(np.float64), w.to_numpy(np.float64)
            bad = ~np.isclose(gv, wv, rtol=rtol, atol=0.0, equal_nan=True)
        else:
            bad = (g.astype(str) != w.astype(str)).to_numpy()
        if skip and c in skip:
            bad &= ~skip[c]
        if bad.any():
            i = int(np.flatnonzero(bad)[0])
            errors.append(
                f"{name}.{c}: {int(bad.sum())} rows differ, first at "
                f"{dict(want.loc[i, keys])}: {g[i]!r} != {w[i]!r}"
            )
    return errors


def clean_movements_sql(since: str | None) -> str:
    from wsspark import adapters as ad
    from wsspark import quality as q

    positive = ", ".join(f"'{t}'" for t in q.POSITIVE_MOVEMENT_TYPES)
    where = [
        f"NOT (movement_date > TIMESTAMP '{ad.LINEITEM_AS_OF}')",
        f"NOT (movement_type IN ({positive}) AND quantity < 0)",
        f"reference_id <> {q.BAD_REFERENCE_ID}",
    ]
    if since is not None:
        where.append(f"movement_date > TIMESTAMP '{since}'")
    return f"SELECT * FROM ({ad.MOVEMENTS_SQL}) WHERE " + " AND ".join(where)


def check_etl_reports(sf_dir: str, out_dir: str, since: str | None) -> list[str]:
    import duckdb

    from wsspark.ops import financial as fin
    from wsspark.queries import build_registry
    from wsspark.queries.llm import FOLDED_QUERIES

    # daily_trends is a folded query: it keeps its oracle off the registry
    reg = {**{q.name: q for q in FOLDED_QUERIES}, **build_registry()}
    con = duckdb.connect()
    for t in ("lineitem", "part"):
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    clean = clean_movements_sql(since)
    errors: list[str] = []

    # Revenue: the pipeline sums float line revenue and the oracle sums
    # whole cents. Rounding moves a line by at most half a cent, and a line
    # earns at least 810 (price >= 900, discount <= 0.1), so any sum of
    # lines agrees within 0.005 / 810 < 1e-5 relative. Two products whose
    # revenues tie to within the rounding may swap places in the Pareto
    # order, so the running sums are compared as sorted sequences, and a
    # class may differ only where the cumulative share sits on a threshold
    # (the oracle also rounds the share to 6 decimals).
    want = con.execute(reg["abc_analysis"].oracle).df()
    got = read_report(out_dir, "abc_analysis")[list(want.columns)]
    want = want.sort_values("product_id").reset_index(drop=True)
    pct = want["revenue_percent"].to_numpy()
    edge = np.zeros(len(want), dtype=bool)
    for thr in (fin.ABC_THRESHOLD_A, fin.ABC_THRESHOLD_B):
        edge |= np.abs(pct - thr) < 2e-5
    cols = ["product_id", "revenue", "total_revenue", "abc_class"]
    errors += compare_frames(
        "abc_analysis", got[cols], want[cols], ["product_id"], rtol=1e-5,
        skip={"abc_class": edge},
    )
    if len(got) == len(want):
        for c, tol in (("revenue_cumsum", {"rtol": 1e-5}), ("revenue_percent", {"atol": 2e-5})):
            g, w = np.sort(got[c].to_numpy()), np.sort(want[c].to_numpy())
            if not np.allclose(g, w, **{"rtol": 0.0, "atol": 0.0, **tol}):
                errors.append(f"abc_analysis.{c}: sorted values differ from the oracle")

    # The pipeline pairs transfer legs by (order, product), the library
    # default, while the registry query pairs them by (order, pair_id); this
    # oracle is the registry SQL with the pipeline's pairing key.
    errors += compare_frames(
        "transfer_patterns",
        read_report(out_dir, "transfer_patterns")[list(_TRANSFER_COLS)],
        con.execute(transfer_by_product_sql()).df(),
        ["from_warehouse_id", "to_warehouse_id"],
    )

    con.execute(
        "CREATE OR REPLACE VIEW events AS SELECT movement_date AS ts, "
        f"'click' AS event_type FROM ({clean})"
    )
    want = con.execute(reg["daily_trends"].oracle).df()
    got = read_report(out_dir, "daily_trends")[list(want.columns)]
    errors += compare_frames("daily_trends", got, want, ["bucket_date"])

    case = " ".join(f"WHEN '{m}' THEN '{e}'" for m, e in _IO_PIVOT_TYPES.items())
    con.execute(
        "CREATE OR REPLACE VIEW events AS SELECT warehouse_id AS user_id, "
        f"CASE movement_type {case} END AS event_type FROM ({clean})"
    )
    want = con.execute(reg["warehouse_io_pivot"].oracle).df()
    want.columns = ["warehouse_id", *_IO_PIVOT_TYPES]
    got = read_report(out_dir, "warehouse_io_summary")[list(want.columns)]
    errors += compare_frames("warehouse_io_summary", got, want, ["warehouse_id"])
    con.close()
    return errors


def replay_dml(base_path: str, logs: list[dict]):
    """DuckDB replay of the operation log: (fact, stock) frames."""
    import duckdb

    con = duckdb.connect()
    con.execute(f"CREATE TABLE fact AS SELECT * FROM read_parquet('{base_path}')")
    con.execute(
        "CREATE TABLE stock AS SELECT product_id, warehouse_id, "
        "SUM(quantity)::BIGINT AS quantity_on_hand FROM fact GROUP BY 1, 2"
    )
    for log in logs:
        con.execute(f"INSERT INTO fact SELECT * FROM read_parquet('{log['batch']}')")
        _merge_stock(con, log["batch"])
        u0, u1 = log["update"]
        con.execute(
            f"UPDATE fact SET quantity = quantity + 1 "
            f"WHERE movement_id BETWEEN {u0} AND {u1}"
        )
        d0, d1 = log["delete"]
        con.execute(f"DELETE FROM fact WHERE movement_id BETWEEN {d0} AND {d1}")
    fact = con.execute("SELECT * FROM fact").df()
    stock = con.execute("SELECT * FROM stock").df()
    con.close()
    return fact, stock


def _merge_stock(con, batch_path: str) -> None:
    con.execute(
        "CREATE OR REPLACE TEMP TABLE delta AS SELECT product_id, warehouse_id, "
        f"SUM(quantity)::BIGINT AS delta FROM read_parquet('{batch_path}') GROUP BY 1, 2"
    )
    con.execute(
        "UPDATE stock SET quantity_on_hand = stock.quantity_on_hand + d.delta "
        "FROM delta d WHERE stock.product_id = d.product_id "
        "AND stock.warehouse_id = d.warehouse_id"
    )
    con.execute(
        "INSERT INTO stock SELECT d.product_id, d.warehouse_id, d.delta FROM delta d "
        "ANTI JOIN stock s USING (product_id, warehouse_id)"
    )


def _spark_frame(df) -> pd.DataFrame:
    out = df.toPandas()
    for c in out.columns:
        if pd.api.types.is_datetime64_any_dtype(out[c]):
            out[c] = out[c].astype("datetime64[us]")
    return out


def check_dml(
    spark, base_path: str, logs: list[dict], fact_root: str, stock_root: str, mv_root: str
) -> list[str]:
    from wsspark import snapstore as ss
    from wsspark.ops import incremental as ivm

    want_fact, want_stock = replay_dml(base_path, logs)
    for c in want_fact.columns:
        if pd.api.types.is_datetime64_any_dtype(want_fact[c]):
            want_fact[c] = want_fact[c].astype("datetime64[us]")
    fact = ss.snap_read(spark, fact_root)
    got_fact = _spark_frame(fact)[list(want_fact.columns)]
    errors = compare_frames("fact", got_fact, want_fact, ["movement_id"], rtol=0.0)
    got_stock = _spark_frame(ss.snap_read(spark, stock_root))[list(want_stock.columns)]
    errors += compare_frames(
        "stock", got_stock, want_stock, ["product_id", "warehouse_id"], rtol=0.0
    )
    want_mv = _spark_frame(ivm.movement_mv_cdf(fact))
    got_mv = _spark_frame(ss.snap_read(spark, mv_root))[list(want_mv.columns)]
    errors += compare_frames("mv", got_mv, want_mv, list(ivm.MV_KEYS), rtol=0.0)
    return errors


def ks_statistic(a: np.ndarray, b: np.ndarray) -> float:
    """Exact two-sample Kolmogorov-Smirnov D: the largest gap between the
    two right-continuous ECDFs, evaluated at every pooled value."""
    a, b = np.sort(a), np.sort(b)
    x = np.concatenate([a, b])
    fa = np.searchsorted(a, x, side="right") / len(a)
    fb = np.searchsorted(b, x, side="right") / len(b)
    return float(np.abs(fa - fb).max())


def check_drift(yesterday: str, today: str, rows: list) -> list[str]:
    """``rows`` are ``drift_suite(yesterday, today, ...)``'s rows; it
    rounds its statistics to 6 decimals."""
    import pyarrow.parquet as pq

    base, cur = pq.read_table(yesterday), pq.read_table(today)
    ks = {r["column"]: r for r in rows if r["family"] == "ks"}
    if not ks:
        return ["drift: drift_suite returned no ks rows"]
    errors = []
    for col, r in sorted(ks.items()):
        want = ks_statistic(base[col].to_numpy(), cur[col].to_numpy())
        if (r["n_base"], r["n_current"]) != (base.num_rows, cur.num_rows):
            errors.append(f"drift.ks.{col}: counts {r['n_base']}, {r['n_current']}")
        if abs(r["statistic"] - want) > 1e-6:
            errors.append(f"drift.ks.{col}: statistic {r['statistic']!r} != {want!r}")
    return errors
