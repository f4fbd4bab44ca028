"""Run a workload on several seeds and summarize each metric the way a
comparison of two sets of runs reads them: median, first and third quartile
(``statistics.quantiles(values, n=4)``), N, and the spread
(Q3 - Q1) / median.

    python3 perfbench/repeat.py --workload dag --seeds 1-10 [--trace 0]
        [--baseline perfbench/baseline.json]

Runs are sequential, from the repository root, with ``run_seconds``
from BENCHMARK.json. ``--baseline`` records the summary in
the committed baseline under the workload, as ``end_to_end`` (trace 0)
or ``per_layer`` (trace 1); a traced summary also records the tracing
overhead, the traced median of each end-to-end metric over the
untraced one, minus 1 (for ``dag``, whose traced run replays the build
layer by layer, it is recorded as the replay overhead).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def summarize(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {"median": med, "q1": q1, "q3": q3, "n": len(values),
            "spread": (q3 - q1) / med if med else 0.0}


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--baseline")
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    runs = []
    for seed in _seeds(args.seeds):
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", str(args.trace)],
            cwd=ROOT, capture_output=True, text=True, timeout=900,
        )
        if proc.returncode != 0:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        detail, result = (json.loads(x) for x in proc.stdout.strip().splitlines()[-2:])
        runs.append({"seed": seed, "result": result, "detail": detail["detail"]})
        vals = {k: round(v["value"], 3) for k, v in result["metrics"].items()}
        print(f"seed {seed} correct={result['correct']} "
              f"wall={detail['detail']['wall_s']:.1f}s "
              f"steal={detail['detail']['host_steal_pct']:.1f}% {vals}", flush=True)
    # a traced run's workload-specific layers are in its details
    metrics = [{**r["detail"].get("layers", {}), **r["result"]["metrics"]} for r in runs]
    summary = {n: summarize([m[n]["value"] for m in metrics]) for n in metrics[0]}
    summary["wall_s"] = summarize([r["detail"]["wall_s"] for r in runs])
    for n, s in summary.items():
        print(f"{n:28s} median {s['median']:.4g}  q1 {s['q1']:.4g}  q3 {s['q3']:.4g}  "
              f"n {s['n']}  spread {s['spread']:.3f}")
    failed = sum(r["result"]["failed"] for r in runs)
    print(f"all correct: {all(r['result']['correct'] for r in runs)}  failed ops: {failed}")
    if args.baseline:
        record_baseline(args.baseline, args.workload, args.trace, summary, runs)
    return 0


def record_baseline(path: str, workload: str, trace: int, summary: dict, runs: list) -> None:
    base = {}
    if os.path.exists(path):
        with open(path) as f:
            base = json.load(f)
    base["nproc"] = len(os.sched_getaffinity(0))
    w = base.setdefault("workloads", {}).setdefault(workload, {})
    w["end_to_end" if trace == 0 else "per_layer"] = summary
    w["failures" if trace == 0 else "traced_failures"] = [
        {"seed": r["seed"], "problems": r["detail"]["problems"]}
        for r in runs if r["result"]["failed"]
    ]
    if "end_to_end" in w and "per_layer" in w:
        # the traced dag run replays the build layer by layer, serially,
        # instead of the CLI's threaded build: its ratio measures that
        # replay, not tracing alone
        key = "replay_overhead" if workload == "dag" else "trace_overhead"
        w.pop("trace_overhead", None)
        w[key] = {
            name: w["per_layer"][f"trace.{name}"]["median"] / s["median"] - 1.0
            for name, s in w["end_to_end"].items()
            if f"trace.{name}" in w["per_layer"] and s["median"]
        }
    with open(path, "w") as f:
        json.dump(base, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    sys.exit(main())
