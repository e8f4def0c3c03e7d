#!/usr/bin/env python
"""Benchmark harness: run the engine's headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}.

Timing discipline: each query is materialized with a noop-format write (full
execution, zero driver-side collection), mirroring how a production job would
sink results. A warmup query absorbs one-time JVM/codegen costs so the numbers
measure the engine, not Spark startup.

Reference baseline (BASELINE.md): pandas extract+transform over 549,874
movement rows ~= 12 s. We run the analog pass over sf0.1 (~600k lineitem rows)
plus the LLM-pipeline extensions.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from wsspark.queries import build_registry  # noqa: E402
from wsspark.session import get_session  # noqa: E402

# Headline set: one per §2 family + the LLM-pipeline extensions. Keys are the
# short names recorded in BENCH_r{N}.json.
HEADLINE = {
    "q1_abc_analysis": "abc_analysis",
    "q2_dq_flag_summary": "dq_flag_summary",
    "q3_dead_stock": "dead_stock",
    "q4_daily_trends": "daily_trends",
    "q5_transfer_patterns": "transfer_patterns",
    "q6_warehouse_io_pivot": "warehouse_io_pivot",
    "q7_snapshot_recompute": "snapshot_recompute",
    "q8_stock_valuation": "stock_valuation_all",
    "q9_pricing_summary": "pricing_summary",
    "q10_top_unshipped": "top_unshipped_orders",
    "q11_doc_stats": "doc_stats",
    "q12_minhash_dedup": "minhash_dedup_pairs",
    "q13_ann_cosine_topk": "ann_cosine_topk",
    "q14_sessionize": "sessionize",
    # round-6 rotation: the heaviest multi-join shape (Q7 two-fact join with
    # broadcast dims), the collapsed-fact top-k (Q18), and the skew-safe
    # salted aggregate — previously correctness-only, now perf-tracked.
    "q15_nation_trade_volume": "nation_trade_volume",
    "q16_large_orders": "large_orders",
    "q17_salted_product_totals": "salted_product_totals",
    # round-7: the chunk -> pack corpus-prep chain (doc_chunks explode +
    # single-exchange packing) joins the perf-tracked set.
    "q18_pack_chunks": "pack_chunks",
    # round-7 additions: the iterative-fixpoint shape (5 chained
    # join+agg+checkpoint rounds), the O(delta) MV refresh merge, and the
    # one-pass expectations audit — three execution shapes the headline
    # set didn't cover.
    "q19_pagerank_routes": "pagerank_transfer_routes",
    "q20_incremental_mv": "incremental_mv_refresh",
    "q21_dq_expectations": "dq_expectations",
    # round-7 third wave: the llmops flagship — the fused quality-gate ->
    # LSH-dedup -> chunk -> pack corpus build, end to end.
    "q22_corpus_build": "corpus_build_summary",
    # the Q21 EXISTS/NOT-EXISTS shape as a single-window rewrite — the
    # heaviest fact-fact correlation pattern in the registry.
    "q23_late_sole_supplier": "late_sole_supplier",
    # round-9: the two newest driver queries join the perf-tracked set.
    # rfm_segments exercises the triple-ntile segmentation windows;
    # ivf_pq_search is the most plan-fragile operator in the repo (broadcast
    # codebooks -> IVF cell pruning -> PQ ADC shortlist -> exact re-rank) —
    # a plan regression there would pass CORRECTNESS but blow up wall time.
    "q24_rfm_segments": "rfm_segments",
    "q25_ivf_pq_search": "ivf_pq_search",
    # round-9 fifth wave: the hashing-trick vectorizer — the only operator
    # whose hot path is md5-per-token (portable-hash discipline), so its
    # cost profile differs from every other text query; a slope row keeps
    # the explode -> keyed-agg -> dense-assembly chain perf-tracked.
    "q26_hashed_vectors": "hashed_vector_entries",
    # round-9 late waves: the two most plan-fragile new operators.
    # prefix_jaccard is the exact-subquadratic AllPairs join — its whole
    # value is candidate pruning (prefix + positional + length filters),
    # so a filter regression multiplies wall time while CORRECTNESS stays
    # green (the result set is unchanged, just computed the slow way).
    # exact_quantiles is the 4-pass radix-bisection selection — a pass
    # regression (e.g. a lost map-side combine) shows up only here.
    "q27_prefix_jaccard": "prefix_jaccard_pairs",
    "q28_exact_quantiles": "exact_price_quantiles",
    # round-10: the PSI drift gate — a shape the headline set lacked
    # (two-input driver-composed verdicts over stacked multi-column count
    # aggregations); its cost model is two scans + O(cols x buckets)
    # driver state, so a slope regression means a lost map-side combine.
    "q29_drift_report": "snapshot_drift_report",
    # round-11: the exact two-sample KS — first benched representative of
    # the distinct-value-bounded window-cumsum shape (the classifier.auc
    # discipline). A slope regression here means the sort stopped being
    # distinct-value-bounded (e.g. a lost pre-aggregation) while the hash
    # gate stays green.
    "q30_ks_drift": "ks_drift_report",
    # round-12: the FUSED drift family — PSI + KS + top-k + embedding
    # Welch-z over one cached fact read per snapshot. Its perf claim IS
    # the fusion: the suite's lineitem half should cost well under
    # q29 + q30 (which pay four separate fact scans per snapshot between
    # them); a regression here means a lost cache reuse (the
    # InMemoryTableScan plan assertion passes but a branch recomputes).
    "q31_drift_suite": "drift_suite_report",
    # round-13: the change-data-feed path gets a wall-clock number — a
    # multi-commit DML span (COW update + DV delete over the committed
    # fact) maintained through snap_read_changes_cdf's coalesced span
    # read and the signed retraction algebra (mv_refresh_cdf). Its perf
    # claim is O(delta): the refresh reads the CHANGE sidecars, never
    # re-scans resident data; a regression here means either the span
    # read stopped coalescing (plan legs back to O(commits)) or the
    # refresh lost its delta-only scan and went O(table).
    "q32_cdf_ivm": "mv_refresh_cdf",
    # round-14: the metadata plane gets a wall-clock number — a 600-file
    # range-clustered store committed in O(1)-HEAD mode (path list in the
    # parquet detail sidecar, constant-size JSON head), then a deferred
    # multipart append, a typed-index-pruned COW update, a DV delete, and
    # a pruned range read. Its perf claim is that planning cost tracks
    # SELECTIVITY, not file count: a regression here means the prune
    # index stopped deciding (full 600-file scans), the append path
    # rematerialized O(table) metadata, or the head grew back to O(files).
    "q33_snapstore_metadata": "snapstore_pruned_dml_read",
}

# q0b: the reference's flagship operational mode (--load_type incremental,
# etl/config/config.yaml:11-15). A fixed watermark leaves a ~2.5% tail delta
# at every testdata SF (lineitem spans 1995-01..2001-11 at all scales), so
# the high-watermark pushdown path (wsspark/quality.py:58) gets a tracked
# perf number alongside the full load.
INCREMENTAL_SINCE = "2001-09-01 00:00:00"


# --- external-load probe -----------------------------------------------
# BENCH_r09's official medians ran ~20% above the idle-host truth because the
# suite shared the box (loadavg_start 6.64). Raw loadavg can't gate per-query
# retries — our own local[32] work drives the 1-min loadavg past any threshold
# mid-suite — so contamination is measured as EXTERNAL cpu: the delta of
# system-wide busy jiffies (/proc/stat) minus the delta of this process tree's
# jiffies (python driver + the py4j-spawned JVM + descendants) over the same
# wall interval. A sample whose external usage exceeds EXT_CORES_THRESHOLD
# cores is retried after a backoff; if the budget runs out the row is kept but
# stamped contaminated so the artifact self-adjudicates.
EXT_CORES_THRESHOLD = float(os.environ.get("SPARK_GRAFT_EXT_CPU_MAX", "1.0"))
_CLK_TCK = os.sysconf("SC_CLK_TCK") if hasattr(os, "sysconf") else 100


def _system_busy_jiffies():
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()[1:]
        vals = [int(v) for v in parts]
        # busy = everything except idle (idx 3) and iowait (idx 4)
        return sum(vals) - vals[3] - (vals[4] if len(vals) > 4 else 0)
    except (OSError, ValueError, IndexError):
        return None


def _tree_jiffies():
    """utime+stime jiffies of this process and all live descendants."""
    try:
        stats = {}
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat") as f:
                    raw = f.read()
            except OSError:
                continue
            # comm may contain spaces/parens: fields after the LAST ')'
            rest = raw.rsplit(")", 1)[1].split()
            stats[int(pid)] = (int(rest[1]), int(rest[11]) + int(rest[12]))
        me = os.getpid()
        tree = {me}
        grew = True
        while grew:
            grew = False
            for pid, (ppid, _) in stats.items():
                if pid not in tree and ppid in tree:
                    tree.add(pid)
                    grew = True
        return sum(stats[p][1] for p in tree if p in stats)
    except (OSError, ValueError, IndexError):
        return None


def external_cpu_probe():
    """Returns finish(wall_sec) -> external busy cores, or None if unreadable."""
    s0, t0 = _system_busy_jiffies(), _tree_jiffies()

    def finish(wall: float):
        if s0 is None or t0 is None or wall <= 0:
            return None
        s1, t1 = _system_busy_jiffies(), _tree_jiffies()
        if s1 is None or t1 is None:
            return None
        ext = max(0, (s1 - s0) - (t1 - t0))
        return ext / _CLK_TCK / wall

    return finish


def materialize(df) -> int:
    """Fully execute a plan without collecting rows to the driver."""
    try:
        df.write.format("noop").mode("overwrite").save()
        return -1
    except Exception:
        # noop source unavailable -> fall back to a count action
        return df.count()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # scale factor from the dir name; derived dirs like .testdata_sf1 parse
    # via the sfN(.N) suffix, anything unrecognizable records sf=0
    m_sf = re.search(r"sf(\d+(?:\.\d+)?)", os.path.basename(sf_dir.rstrip("/")))
    sf = float(m_sf.group(1)) if m_sf else 0.0
    spark = get_session(app_name="wsspark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    registry = dict(build_registry())
    # Folded queries lose their driver slot, not their bench slot — perf
    # tracking is independent of the correctness-rotation budget.
    from wsspark.queries.llm import FOLDED_QUERIES

    for q in FOLDED_QUERIES:
        registry.setdefault(q.name, q)

    # Warmup: touch every input table + run the flagship once (JIT/codegen).
    materialize(registry["abc_analysis"].fn(spark, sf_dir))

    timings: dict[str, float] = {}

    # Apples-to-apples with BASELINE.md's "full ETL": one pipeline run
    # writing all 12 reference reports (reference: ~12 s extract+transform,
    # ~19 s with report generation, at the same ~600k-row scale).
    import tempfile

    from wsspark.pipeline import run_pipeline

    # Steady-state measurement: one discarded warmup run (whole-stage-codegen
    # JIT adds 2-8 s of per-plan jitter on first execution), then three
    # measured runs. Since r15 the RECORDED per-query number is the MIN of
    # the samples, not the median: two rounds running, this host has shown
    # ambient multi-core bursts that stamp random rows contaminated even at
    # idle (r13/r14 adjudication prose, closed by checkout bisection as
    # host drift) — contention noise is strictly ADDITIVE, so the minimum
    # is the unbiased idle-host estimator while a median drifts with the
    # burst rate. Median/max still ride in the dispersion sidecar so
    # variance stays a tracked number; the artifact carries a
    # ``methodology`` stamp so cross-round comparisons know r14-and-earlier
    # headline numbers were medians.
    def timed(fn) -> tuple[float, float, float, float | None, bool]:
        """(min, median, max, max_ext_cores, contaminated) — three measured
        runs after one warmup, each load-guarded.

        The spread is recorded so round-over-round deltas are
        adjudicable from the artifact alone: BENCH_r06 showed a uniform
        23-87% drift that turned out to be ambient host contention, but
        proving that required re-running the whole suite. With per-query
        dispersion in the JSON, a shifted headline inside the envelope
        of the previous round reads as noise; one outside it reads as a
        regression. A sample run while EXTERNAL cpu (system busy minus this
        process tree) exceeded EXT_CORES_THRESHOLD cores is discarded and
        retried after a backoff, up to 3 extra attempts per query; if the
        retry budget runs out, the sample is kept and the row is stamped
        ``contaminated`` so the artifact self-adjudicates instead of silently
        disagreeing with the idle-host truth (BENCH_r09's 20% drift).
        """
        fn()
        samples: list[float] = []
        ext_seen: list[float] = []
        retries = 3
        contaminated = False
        while len(samples) < 3:
            probe = external_cpu_probe()
            t0 = time.perf_counter()
            fn()
            wall = time.perf_counter() - t0
            ext = probe(wall)
            if ext is not None and ext > EXT_CORES_THRESHOLD and retries > 0:
                retries -= 1
                time.sleep(2.0)
                continue
            if ext is not None and ext > EXT_CORES_THRESHOLD:
                contaminated = True
            samples.append(wall)
            if ext is not None:
                ext_seen.append(ext)
        samples.sort()
        max_ext = round(max(ext_seen), 2) if ext_seen else None
        return (
            round(samples[0], 3),
            round(samples[1], 3),
            round(samples[2], 3),
            max_ext,
            contaminated,
        )

    dispersion: dict[str, dict[str, float]] = {}

    # Spot-bench subset: SPARK_GRAFT_QUERIES="q17_...,q27_..." restricts the
    # suite to the named labels (q0/q0b included only if named) — used for
    # scale-extension runs on derived data dirs that carry only the tables
    # those queries read (tools/make_sf1.py).
    only = {
        s.strip()
        for s in os.environ.get("SPARK_GRAFT_QUERIES", "").split(",")
        if s.strip()
    }

    def run_suite(suite_dir: str) -> dict[str, float]:
        out: dict[str, float] = {}

        def record(label: str, fn) -> None:
            if only and label not in only:
                return
            lo, med, hi, max_ext, contaminated = timed(fn)
            out[label] = lo
            row: dict = {"median": med, "max": hi}
            if max_ext is not None:
                row["ext_cpu_max"] = max_ext
            if contaminated:
                row["contaminated"] = True
            dispersion[label] = row

        record(
            "q0_full_etl_12_reports",
            lambda: run_pipeline(
                spark, suite_dir, tempfile.mkdtemp(prefix="wsspark_bench_")
            ),
        )
        record(
            "q0b_incremental_etl",
            lambda: run_pipeline(
                spark,
                suite_dir,
                tempfile.mkdtemp(prefix="wsspark_bench_inc_"),
                load_type="incremental",
                incremental_since=INCREMENTAL_SINCE,
            ),
        )
        for label, name in HEADLINE.items():
            record(
                label,
                lambda name=name: materialize(registry[name].fn(spark, suite_dir)),
            )
        return out

    try:
        load_at_start = os.getloadavg()
    except OSError:
        load_at_start = None
    timings = run_suite(sf_dir)
    total = round(sum(timings.values()), 3)
    headline_dispersion = dict(dispersion)

    # Second scale point: the same suite + methodology at a smaller SF makes
    # the scaling SLOPE a tracked number — the strongest single-node evidence
    # for 100x extrapolation. Opt out with SPARK_GRAFT_SECOND_SF="".
    scales: dict[str, dict] = {
        str(sf): {
            "total": total,
            "queries": timings,
            "dispersion": headline_dispersion,
        }
    }
    second = os.environ.get("SPARK_GRAFT_SECOND_SF", "/root/testdata/sf0.01")
    if second and os.path.isdir(second) and os.path.abspath(second) != os.path.abspath(
        sf_dir
    ):
        second_sf = os.path.basename(second.rstrip("/")).replace("sf", "")
        dispersion.clear()
        second_timings = run_suite(second)
        scales[second_sf] = {
            "total": round(sum(second_timings.values()), 3),
            "queries": second_timings,
            "dispersion": dict(dispersion),
        }

    # r15: the q33 sf DECADE rides in the committed artifact — the
    # metadata plane's wall-clock claim is that it is file-count- and
    # selectivity-bound, never table-size-bound, so its sf0.1 vs sf1
    # slope is a tracked number regenerated every round instead of a
    # quoted one-off. Runs only when the derived sf1 dir exists
    # (tools/make_sf1.py) and no spot-bench subset was requested.
    sf1_dir = os.environ.get(
        "SPARK_GRAFT_SF1_DIR",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), ".testdata_sf1"),
    )
    # r16: the three most scale-critical families each carry their own
    # tracked decade — the metadata plane (q33), the fused drift suite
    # (q31, one stacked scan at any width), and the corpus scorecard
    # (q22, the quality->dedup->chunk->pack fusion).
    # r17 (additions only, per the optimization-round contract): q30's
    # distinct-value-bounded KS and q32's O(delta) CDF refresh join the
    # decade — their fixed-cost-removal story is exactly the claim that
    # needs a 10x point.
    sf1_labels = {
        s.strip()
        for s in os.environ.get(
            "SPARK_GRAFT_SF1_QUERIES",
            "q33_snapstore_metadata,q31_drift_suite,q22_corpus_build,"
            "q30_ks_drift,q32_cdf_ivm",
        ).split(",")
        if s.strip()
    }
    if not only and sf1_labels and os.path.isdir(sf1_dir):
        dispersion.clear()
        only.update(sf1_labels)
        sf1_timings = run_suite(sf1_dir)
        only.clear()
        if sf1_timings:
            scales["1"] = {
                "total": round(sum(sf1_timings.values()), 3),
                "queries": sf1_timings,
                "dispersion": dict(dispersion),
            }

    try:
        load_at_end = os.getloadavg()
    except OSError:
        load_at_end = None
    # Artifact contract (BENCH_r07 regression: the one-line JSON grew past the
    # driver's tail capture and the recorded artifact had "parsed": null).
    # The LAST stdout line is now a compact headline — total + per-query
    # medians at the primary sf only — guaranteed to fit the tail capture.
    # The full detail (second scale point, min/max dispersion, loadavg) goes
    # to a sidecar file plus one preceding stdout line, so nothing is lost
    # but nothing bulky rides on the machine-read line either.
    detail = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "sf": sf,
        # r15 methodology change: per-query numbers are the MIN of three
        # load-guarded samples (idle-host estimator under additive ambient
        # noise); r14-and-earlier artifacts recorded medians — compare
        # against their per-row "min" dispersion fields, not their
        # headline numbers.
        "methodology": "min_of_3_load_guarded",
        "scales": scales,
        # 1/5/15-min host load at run start+end: a high ambient load
        # stamp contextualizes a slow round without a re-run.
        "loadavg_start": load_at_start,
        "loadavg_end": load_at_end,
        # Rows whose samples still saw > EXT_CORES_THRESHOLD external cores
        # after exhausting per-query retries; their medians are suspect.
        "contaminated_queries": sorted(
            {
                label
                for scale in scales.values()
                for label, row in scale["dispersion"].items()
                if row.get("contaminated")
            }
        ),
        "ext_cpu_threshold_cores": EXT_CORES_THRESHOLD,
    }
    sidecar = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_detail.json"
    )
    try:
        with open(sidecar, "w") as f:
            json.dump(detail, f, indent=1)
    except OSError:
        sidecar = None
    print(json.dumps(detail))
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "detail": sidecar,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
