"""Benchmark runner: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload etl_incremental --seed 1 --seconds 12 --trace 0

Run from the repository root. The run

1. sets up cold, as a fresh ``spark-submit`` would: imports wsspark, starts
   Spark at ``local[nproc]`` in a new JVM through
   ``wsspark.session.get_session`` and writes the seeded inputs
   (``perfbench.gen``) under ``.perfbench_tmp/`` in the current directory
   (``cold_setup_s``);
2. runs the first unit of work in that fresh session, then the workload's
   unmeasured warm-up units (``warmups``);
3. runs the measured units: the workload's fixed count (``cycles``), or
   else units for ``--seconds`` (at least ``MIN_WARM`` of them);
4. when traced, runs the workload's drift gate, if it has one: once to
   warm it up, once measured;
5. checks the outputs (``perfbench.checks``), outside the timed region;
6. sets up ``SETUPS`` more times, each a new session on the running JVM
   with the inputs written again; ``setup_s`` is their median, so every
   sample is timed the same way;
7. removes every input, output, store and event-log directory, stops the
   JVM and waits for it to exit.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. With ``--trace 0``
the metrics are the ``end_to_end`` list of BENCHMARK.json; with
``--trace 1`` they are the ``per_layer`` list, from a run that wraps
wsspark's public functions (``perfbench.trace``) and reads Spark's event
log. The line before it stamps the run with the core count, load average,
the external-CPU and CPU-steal shares during the warm units, and each
unit's time. A failed correctness check exits with code 1.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
SETUPS = 3
# three, so run_s is a median that one slow unit does not move, and a
# traced run has an untraced unit on each side of its traced one
MIN_WARM = 3
# wsspark's default Spark driver heap is 8g; the inputs need far less, and the
# host's memory is shared
DRIVER_MEMORY = "2g"


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def load_spec(root: str) -> dict:
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def prepare_env(tmp: str, cores: int) -> None:
    """Run hygiene; must happen before wsspark is imported, because
    ``wsspark.session`` reads ``SPARK_GRAFT_CPUS`` at import."""
    for d in ("local", "py", "jvm"):
        os.makedirs(os.path.join(tmp, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["TMPDIR"] = os.path.join(tmp, "py")
    os.environ["WSSPARK_DRIVER_MEM"] = DRIVER_MEMORY


def session_conf(tmp: str, event_log: str | None) -> dict[str, str]:
    conf = {
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(tmp, 'jvm')} -XX:-UsePerfData"
        ),
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.logBlockUpdates.enabled": "true",
            }
        )
    return conf


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    out = []
    for p in os.listdir("/proc"):
        if p.isdigit():
            try:
                with open(f"/proc/{p}/stat") as f:
                    if int(f.read().rsplit(")", 1)[1].split()[1]) == pid:
                        out.append(int(p))
            except OSError:
                continue
    return out


def peak_rss_mb() -> float:
    """Peak RSS (VmHWM) of this process plus its live descendants (the
    JVM and any Python workers)."""
    todo, total = [os.getpid()], 0
    while todo:
        pid = todo.pop()
        total += _status_kb(pid, "VmHWM")
        todo.extend(_children(pid))
    return total / 1024


def _steal_jiffies() -> tuple[int, int]:
    """(steal, total) CPU jiffies of the host so far (/proc/stat)."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals[:8])


def _steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    return (after[0] - before[0]) / max(1, after[1] - before[1])


def stop_jvm(spark) -> None:
    """Stop the session, then the py4j gateway and its JVM, and wait."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()


class Run:
    def __init__(self, args, root: str):
        self.args = args
        self.root = root
        self.cores = len(os.sched_getaffinity(0))  # what nproc prints
        self.tmp = os.path.join(root, ".perfbench_tmp", f"{args.workload}-{os.getpid()}")
        self.event_log = os.path.join(self.tmp, "eventlog") if args.trace else None
        self.cold_setup = 0.0
        self.setups: list[float] = []  # the warm set-ups
        # {"phase": "first" | "warmup" | "measured" | "drift_warmup" | "drift",
        #  "t0", "t1", "traced", "ops"}
        self.units: list[dict] = []
        self.attempted = self.failed = 0
        self.tracer = None
        self.spark = None

    # -- phases -----------------------------------------------------------
    def setup(self, index: int):
        from perfbench import workloads
        from wsspark.session import get_session

        wl = workloads.make(self.args.workload, self.args.seed)
        wl.trace = bool(self.args.trace)
        run_dir = os.path.join(self.tmp, f"setup{index}")
        self.spark = get_session(
            app_name=f"perfbench-{self.args.workload}",
            extra_conf=session_conf(self.tmp, self.event_log),
        )
        wl.generate(run_dir)
        return wl

    def attempt(self, fn, phase: str, traced: bool):
        self.attempted += 1
        span = None
        if self.tracer is not None:
            self.tracer.enabled = traced
            if traced:
                span = self.tracer.begin(phase, root=True)
        t0, steal0 = time.time(), _steal_jiffies()
        try:
            ops = fn(self.spark)
        except Exception:
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            ops = []
        finally:
            if span is not None:
                self.tracer.end(span)
        self.units.append(
            {
                "phase": phase, "t0": t0, "t1": time.time(), "traced": traced,
                "ops": ops, "steal": _steal_share(steal0, _steal_jiffies()),
            }
        )
        return ops

    def execute(self) -> dict:
        sys.path.insert(0, self.root)
        sys.path.insert(0, os.path.dirname(HERE))
        t_start = time.perf_counter()
        prepare_env(self.tmp, self.cores)
        try:
            from bench import external_cpu_probe
            from perfbench import trace as tr
        except ImportError as e:
            raise SystemExit(f"perfbench: cannot import the program: {e}")
        load0 = os.getloadavg()

        if self.args.trace:
            self.tracer = tr.Tracer()
            self.tracer.install()
            self.tracer.enabled = True
        wl = self.setup(0)
        self.cold_setup = time.perf_counter() - t_start
        first = self.attempt(wl.first, "first", traced=True)
        # the JVM is still compiling the unit's code paths after the first
        # unit, which makes the next units slower by a varying amount
        for _ in range(wl.warmups):
            self.attempt(wl.unit, "warmup", traced=False)
        probe = external_cpu_probe()
        steal0 = _steal_jiffies()
        loop0 = time.perf_counter()
        warm = 0
        def more() -> bool:
            if wl.cycles is not None:
                return warm < wl.cycles
            return warm < MIN_WARM or time.perf_counter() - loop0 < self.args.seconds

        while more():
            # a traced run alternates untraced and traced units (U T U ...),
            # so the tracing overhead is measured in one session
            traced = bool(self.args.trace) and warm % 2 == 1
            self.attempt(wl.unit, "measured", traced=traced)
            warm += 1
        ext = probe(time.perf_counter() - loop0)
        steal1 = _steal_jiffies()
        peak = peak_rss_mb()
        gate = getattr(wl, "drift_gate", None)
        if self.args.trace and gate is not None:
            # the first call compiles the drift code paths in the JVM
            self.attempt(gate, "drift_warmup", traced=False)
            self.attempt(gate, "drift", traced=True)
        t_check = time.perf_counter()
        try:
            errors = wl.check(self.spark)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            errors = ["check raised"]
        for e in errors:
            print(f"perfbench: CHECK FAILED {e}", file=sys.stderr)
        layer_inputs = wl.layer_inputs()
        t_check = time.perf_counter() - t_check

        engine = None
        if self.args.trace:
            self.spark.stop()
            # only this application's log exists yet; the later set-ups
            # log to the same directory and are not read
            engine = tr.EngineLog(tr.read_event_log(self.event_log))
        for i in range(1, SETUPS + 1):
            if self.tracer is not None:
                self.tracer.enabled = True
            self.spark.stop()
            shutil.rmtree(os.path.join(self.tmp, f"setup{i - 1}"), ignore_errors=True)
            t0 = time.perf_counter()
            self.setup(i)
            self.setups.append(time.perf_counter() - t0)

        stamp = {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "cores": self.cores,
            "loadavg_start": load0,
            "loadavg_end": os.getloadavg(),
            # during the warm units
            "external_cpu_cores": ext,
            "external_cpu_share": None if ext is None else ext / self.cores,
            # CPU time the hypervisor gave to other guests
            "steal_share": _steal_share(steal0, steal1),
            "cold_setup_s": self.cold_setup,
            "setups_s": self.setups,
            "units_s": [round(sum(d for _, d in u["ops"]), 4) for u in self.units],
            "units_steal": [round(u["steal"], 4) for u in self.units],
            "first_s": sum(d for _, d in first),
            "check_s": t_check,
        }
        print("perfbench stamp: " + json.dumps(stamp))
        values = self.end_to_end(wl, first, peak)
        if self.args.trace:
            values.update(self.per_layer(wl, engine, layer_inputs))
            for span in self.tracer.spans:
                span["engine"] = engine.span_counts(str(span["id"]))
            out = os.path.join(
                self.root, ".perfbench_out",
                f"trace-{self.args.workload}-seed{self.args.seed}.json",
            )
            self.tracer.dump(out, {"stamp": stamp, "units": self.units, "values": values})
            print(f"perfbench: spans written to {out}", file=sys.stderr)
        return {"errors": errors, "values": values}

    # -- metrics ------------------------------------------------------------
    def unit_seconds(self, traced: bool | None = None) -> list[float]:
        warm = [u for u in self.units if u["phase"] == "measured"]
        return [
            sum(d for _, d in u["ops"])
            for u in warm
            if u["ops"] and (traced is None or u["traced"] == traced)
        ]

    def end_to_end(self, wl, first, peak) -> dict:
        """Medians over the warm set-ups and the measured units (zero where
        every unit failed, which also fails the run)."""
        warm = self.unit_seconds()
        run_s = statistics.median(warm) if warm else 0.0
        return {
            "setup_s": statistics.median(self.setups),
            "cold_setup_s": self.cold_setup,
            "first_run_s": sum(d for _, d in first),
            "run_s": run_s,
            "rows_per_s": wl.fact_rows / run_s if run_s else 0.0,
            "peak_rss_mb": peak,
        }

    def per_layer(self, wl, engine, inputs: dict) -> dict:
        """Layer metrics of the traced run: medians over its traced
        measured units (over the first unit when none was traced)."""
        from perfbench import trace as tr

        spans = self.tracer.spans
        roots = [s for s in spans if s["parent"] is None]
        warm_roots = [s for s in roots if s["name"] == "measured"] or [
            s for s in roots if s["name"] == "first"
        ]
        jobs = engine.job_intervals()
        med = tr.median_or_zero
        per_unit: list[dict] = []
        for root in warm_roots:
            sub = tr.descendants_of(spans, root["id"])
            v = engine.fold(root["t0"], root["t1"], self.cores)
            for name in (
                "pipeline.build_reports", "pipeline.release", "io.load_tables",
                "adapters.build", "ops.build", "quality.dq_flag",
                "quality.incremental_filter",
            ):
                v[name + "_s"] = tr.layer_seconds(sub, name)
            pipe = [s for s in sub if s["name"] == "pipeline.run_pipeline"]
            v["pipeline.self_s"] = sum(
                tr.self_time(s, [c for c in sub if c["parent"] == s["id"]]) for s in pipe
            )
            writes = [s["t1"] - s["t0"] for s in sub if s["name"] == "io.write_report"]
            v["io.write_report.sum_s"] = sum(writes)
            v["io.write_report.max_s"] = max(writes, default=0.0)
            v["io.write_report.calls"] = len(writes)
            client = [s for s in sub if s["parent"] == root["id"]]
            snap = [s for s in client if s["name"].startswith("snapstore.")]
            for name in (
                "snap_commit", "snap_merge", "snap_update_where", "snap_delete_dv",
                "snap_read_between",
            ):
                v[f"snapstore.{name}_s"] = sum(
                    s["t1"] - s["t0"] for s in snap if s["name"] == f"snapstore.{name}"
                )
            v["snapstore.driver_s"] = sum(tr.driver_only_s(s, jobs) for s in snap)
            refresh = [s for s in client if s["name"] == "incremental.refresh"]
            v["incremental.refresh_s"] = sum(s["t1"] - s["t0"] for s in refresh)
            v["incremental.refresh.driver_s"] = sum(
                tr.driver_only_s(s, jobs) for s in refresh
            )
            per_unit.append(v)
        out = {k: med(u[k] for u in per_unit) for k in per_unit[0]}

        # the warm set-ups, as in setup_s (the first one launched the JVM)
        setups = [s for s in spans if s["name"] == "session.get_session"][1:]
        out["session.get_session_s"] = med(s["t1"] - s["t0"] for s in setups)
        drift = [s for s in spans if s["name"] == "quality.drift_suite"]
        out["quality.drift_suite_s"] = sum(s["t1"] - s["t0"] for s in drift)
        # drift_suite calls no other traced function, so its self time is
        # the part of its span with no Spark job running
        out["quality.drift_suite.self_s"] = sum(tr.driver_only_s(s, jobs) for s in drift)
        rows = out["engine.input_rows"]
        out["engine.scan_useful_frac"] = (
            inputs["useful_rows"] / rows if rows and "useful_rows" in inputs else 0.0
        )
        lay = wl.layer
        out["snapstore.files_written"] = med(lay.get("write.files", []))
        out["snapstore.bytes_written"] = med(lay.get("write.bytes", []))
        out["snapstore.manifest_bytes"] = med(lay.get("write.manifest_bytes", []))
        out["snapstore.prune_kept_frac"] = med(lay.get("prune_kept_frac", []))
        out["incremental.refresh.bytes_written"] = med(lay.get("refresh.bytes", []))
        live = inputs.get("live_rows", 0)
        row_bytes = inputs.get("store_bytes", 0) / live if live else 0.0
        written = sum(lay.get("write.bytes", [])) - sum(lay.get("write.manifest_bytes", []))
        changed = sum(lay.get("rows_changed", []))
        out["snapstore.write_amp"] = (
            written / (changed * row_bytes) if changed and row_bytes else 0.0
        )
        out["snapstore.store_bytes_per_row"] = row_bytes

        kinds = {"write": [], "read": [], "refresh": []}
        for unit in self.units:
            if unit["phase"] != "measured":
                continue
            for k, d in unit["ops"]:
                if k in kinds:
                    kinds[k].append(d * 1000)
        out["dml.write_p50_ms"] = med(kinds["write"])
        out["dml.read_p50_ms"] = med(kinds["read"])
        out["dml.refresh_p50_ms"] = med(kinds["refresh"])

        traced = self.unit_seconds(traced=True)
        plain = self.unit_seconds(traced=False)
        out["trace.traced_run_s"] = med(traced)
        out["trace.untraced_run_s"] = med(plain)
        out["trace.overhead_s"] = (med(traced) - med(plain)) if traced and plain else 0.0
        return out

    def cleanup(self) -> None:
        try:
            if self.tracer is not None:
                self.tracer.uninstall()
            if "pyspark" in sys.modules:
                stop_jvm(self.spark)
        finally:
            shutil.rmtree(self.tmp, ignore_errors=True)
            parent = os.path.dirname(self.tmp)
            if os.path.isdir(parent) and not os.listdir(parent):
                os.rmdir(parent)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    spec = load_spec(root)
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        raise SystemExit(f"perfbench: unknown workload {args.workload!r}; one of {names}")
    listed = spec["per_layer" if args.trace else "end_to_end"]

    run = Run(args, root)
    try:
        result = run.execute()
    finally:
        run.cleanup()
    values = result["values"]
    missing = [m["name"] for m in listed if m["name"] not in values]
    if missing:
        raise SystemExit(f"perfbench: metrics not measured: {missing}")
    correct = not result["errors"] and run.failed == 0
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": {
                    m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in listed
                },
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
