"""Steadiness record: run the benchmark on several seeds and report, per
end-to-end metric, the spread between the first and third quartile as a
share of the median (``statistics.quantiles(values, n=4)``), beside the
metric's bound from BENCHMARK.json. With ``--trace 1`` it instead checks
that every span's per-call job counts repeat exactly across the seeds.

Run from the repository root, one run at a time:

    python3 perfbench/steady.py --workload cold_import --seeds 1-10
    python3 perfbench/steady.py --workload nightly_curation --seeds 1-3 --trace 1
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    wall = time.perf_counter() - t
    lines = proc.stdout.strip().splitlines() or ["{}"]
    result = json.loads(lines[-1]) if lines[-1].startswith("{") else {}
    steal = [float(l.split()[2].rstrip("%")) for l in lines
             if l.startswith("host: steal ")]
    print(f"seed {seed}: exit {proc.returncode}, process {wall:.1f} s, "
          f"steal {steal[0] if steal else float('nan'):.2f}%, "
          f"correct {result.get('correct')}", flush=True)
    return {"seed": seed, "exit": proc.returncode, "wall_s": wall,
            "steal_pct": steal[0] if steal else None, **result}


def spreads(runs: list[dict], bench: dict) -> dict:
    out = {}
    for m in bench["end_to_end"]:
        values = [r["metrics"][m["name"]]["value"] for r in runs]
        q1, med, q3 = statistics.quantiles(values, n=4)
        out[m["name"]] = {
            "median": med, "spread": (q3 - q1) / med, "bound": m["bound"],
            "values": values,
        }
    return out


def job_counts(workload: str, seed: int) -> dict[str, list[int]]:
    path = os.path.join(ROOT, ".perfbench", f"trace-{workload}-{seed}.json")
    with open(path) as f:
        calls = json.load(f)["calls"]
    out: dict[str, list[int]] = {}
    for c in calls:
        out.setdefault(c["name"], []).append(c["jobs"])
    # calls on the engine's own threads (parallel publish arms) may finish
    # in either order, so compare each span's counts as a sorted list
    return {name: sorted(jobs) for name, jobs in out.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="a range such as 1-10")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    runs = [run_once(args.workload, s, bench["run_seconds"], args.trace)
            for s in seeds(args.seeds)]
    failed = [r["seed"] for r in runs if r["exit"] != 0 or not r.get("correct")]
    report = {"workload": args.workload, "trace": args.trace,
              "failed_seeds": failed,
              "process_s": [round(r["wall_s"], 1) for r in runs],
              "steal_pct": [r["steal_pct"] for r in runs]}
    if args.trace:
        counts = {r["seed"]: job_counts(args.workload, r["seed"]) for r in runs}
        first = counts[runs[0]["seed"]]
        report["per_call_jobs"] = first
        report["jobs_repeat_exactly"] = all(c == first for c in counts.values())
        report["traced_run_s"] = [
            r["metrics"]["trace.run_s"]["value"] for r in runs
        ]
    else:
        report["metrics"] = spreads(runs, bench)
        for name, s in report["metrics"].items():
            print(f"{name:14} median {s['median']:12.4f}  spread "
                  f"{s['spread']:.4f}  bound {s['bound']}")
    print(json.dumps(report))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
