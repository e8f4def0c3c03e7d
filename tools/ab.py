"""Cold A/B of perfbench between a base git ref and the current checkout.

    python tools/ab.py --base main --workload table_dml --seeds 501-510

Extracts the tree of the base ref (``git archive``) into a directory under
the system temp dir, then runs
``perfbench/run.py --workload W --seed S --seconds N --trace T`` once per
side for every seed, each run a fresh process and a cold JVM started from
that side's own files. ``N`` is BENCHMARK.json's ``run_seconds``. The side
that runs first alternates per seed: the base on the 1st, 3rd, ... seed,
the change on the 2nd, 4th, ...

The steal-exclusion rule is printed before any run: a pair whose base or
change run spent more than ``MAX_STEAL`` of the host's CPU time on
hypervisor steal (perfbench's ``steal_share`` stamp) is excluded from the
summary and listed. For every metric of the run's list in BENCHMARK.json
(``end_to_end`` untraced, ``per_layer`` traced) the summary prints each
side's median, quartiles, min and max over the kept pairs, and how many
kept pairs the change won. Every run's ``steal_share`` and
``external_cpu_share`` is printed, excluded pairs included. The extracted
base tree is removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STAMP = "perfbench stamp: "
MAX_STEAL = 0.02  # steal_share above which a pair is excluded
RUN_TIMEOUT_S = 1800


def parse_seeds(text: str) -> list[int]:
    """``"501-510"`` or ``"501,503,507"`` (ranges inclusive, mixable)."""
    seeds = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def quartiles(values: list[float]) -> tuple[float, float]:
    if len(values) < 2:
        return values[0], values[0]
    q1, _, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q3


def extract_tree(ref: str, dest: str) -> None:
    """The files of ``ref`` under ``dest``: a plain directory, no git state."""
    tar = subprocess.run(
        ["git", "-C", REPO, "archive", ref], check=True, capture_output=True
    ).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=tar, check=True)


def run_side(root: str, args, seconds: float, seed: int) -> dict:
    """One cold perfbench run from ``root``; its JSON result plus stamp."""
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", args.workload,
        "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(args.trace),
    ]
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        cmd, cwd=root, env=env, capture_output=True, text=True,
        timeout=RUN_TIMEOUT_S,
    )
    lines = proc.stdout.strip().splitlines()
    stamp = next(
        (json.loads(x[len(STAMP):]) for x in lines if x.startswith(STAMP)), {}
    )
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        result = {"correct": False, "failed": None, "metrics": {}}
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
    return {
        "rc": proc.returncode,
        "correct": result.get("correct", False),
        "failed": result.get("failed"),
        "metrics": {k: v["value"] for k, v in result.get("metrics", {}).items()},
        "steal_share": stamp.get("steal_share"),
        "external_cpu_share": stamp.get("external_cpu_share"),
    }


def summarize(pairs: list[dict], metrics: list[dict]) -> list[dict]:
    rows = []
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        got = [
            p for p in pairs
            if name in p["base"]["metrics"] and name in p["change"]["metrics"]
        ]
        if not got:
            continue
        row = {"metric": name, "unit": m["unit"], "better": m["better"], "n": len(got)}
        for side in ("base", "change"):
            vals = sorted(p[side]["metrics"][name] for p in got)
            q1, q3 = quartiles(vals)
            row[side] = {
                "median": statistics.median(vals), "q1": q1, "q3": q3,
                "min": vals[0], "max": vals[-1],
            }
        row["wins"] = sum(
            (p["change"]["metrics"][name] < p["base"]["metrics"][name])
            if lower
            else (p["change"]["metrics"][name] > p["base"]["metrics"][name])
            for p in got
        )
        rows.append(row)
    return rows


def fmt(v) -> str:
    if v is None:
        return "-"
    return f"{v:.4g}" if isinstance(v, float) else str(v)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--base", required=True, help="git ref of the base side")
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", required=True, type=parse_seeds)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    metrics = bench["per_layer" if args.trace else "end_to_end"]
    print(
        f"exclusion rule: a pair is excluded when its base or change run has "
        f"steal_share > {MAX_STEAL}",
        flush=True,
    )
    pairs = []
    with tempfile.TemporaryDirectory(prefix="wsspark-ab-") as base_root:
        extract_tree(args.base, base_root)
        for i, seed in enumerate(args.seeds):
            order = ("base", "change") if i % 2 == 0 else ("change", "base")
            pair = {"seed": seed, "first": order[0]}
            for side in order:
                root = base_root if side == "base" else REPO
                pair[side] = run_side(root, args, seconds, seed)
            pairs.append(pair)
            print(
                f"seed {seed} ({order[0]} first): "
                + "  ".join(
                    f"{side} run_s={fmt(pair[side]['metrics'].get('run_s'))} "
                    f"rc={pair[side]['rc']} correct={pair[side]['correct']} "
                    f"failed={pair[side]['failed']} "
                    f"steal={fmt(pair[side]['steal_share'])} "
                    f"ext_cpu={fmt(pair[side]['external_cpu_share'])}"
                    for side in ("base", "change")
                ),
                flush=True,
            )

    def excluded(pair) -> bool:
        return any(
            (pair[s]["steal_share"] or 0.0) > MAX_STEAL for s in ("base", "change")
        )

    kept = [x for x in pairs if not excluded(x)]
    dropped = [x["seed"] for x in pairs if excluded(x)]
    bad = [
        (x["seed"], s) for x in pairs for s in ("base", "change")
        if not x[s]["correct"] or x[s]["rc"] != 0
    ]
    rows = summarize(kept, metrics)
    print(f"\nworkload {args.workload}, trace {args.trace}, base {args.base}")
    print(
        f"kept pairs: {len(kept)} of {len(pairs)}; "
        f"excluded (steal): {dropped or 'none'}"
    )
    print(f"runs not correct or failing: {bad or 'none'}")
    print(f"{'metric':40s} {'side':6s} {'median':>10s} {'q1':>10s} {'q3':>10s} "
          f"{'min':>10s} {'max':>10s}  wins")
    for r in rows:
        for side in ("base", "change"):
            s = r[side]
            wins = f"{r['wins']}/{r['n']}" if side == "change" else ""
            print(f"{r['metric']:40s} {side:6s} " + " ".join(
                f"{fmt(s[k]):>10s}" for k in ("median", "q1", "q3", "min", "max")
            ) + f"  {wins}")
    shown = [
        m["name"] for m in metrics if m["name"] in ("setup_s", "run_s", "rows_per_s")
    ]
    print(
        "\nper run (seed, side: "
        + ", ".join(shown + ["steal_share", "external_cpu_share"])
        + "):"
    )
    for x in pairs:
        for side in ("base", "change"):
            r = x[side]
            vals = " ".join(fmt(r["metrics"].get(k)) for k in shown)
            print(f"  {x['seed']} {side:6s} {vals} steal={fmt(r['steal_share'])} "
                  f"ext_cpu={fmt(r['external_cpu_share'])}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
