"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload suite --seed 1 --seconds 15 --trace 0

Run from the repository root. ``--trace 0`` measures the end-to-end
metrics with tracing off; ``--trace 1`` is the separate traced run that
reports the per-layer metrics (and the end-to-end metrics as measured
under tracing, as ``trace.*``), and writes its spans to
``.perfbench/trace-<workload>-s<seed>.json``; the layers only some
workloads exercise are printed with the details, under ``layers``.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the line before
it holds the workload's named details (for example ``suite_s``,
``query_p90_s`` and its sample count, or ``build_cold_s``) and any
failure messages. Scratch data lives under ``.perfbench/`` in the
repository root and is removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("suite", "dag")     # the ones BENCHMARK.json lists
EXTRA_WORKLOADS = ("stream",)    # run by hand; see stream.py


class Context:
    """What a workload run gets: its seed, time budget, scratch
    directory, session, and tracer."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, work: str):
        from harness import Session, Tracer

        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.tracer = Tracer(f"{workload}-s{seed}-{os.getpid()}", enabled=trace)
        self.session = Session(os.path.join(work, "eventlog") if trace else None)


def _environment(work: str) -> None:
    """Point every scratch location at ``work`` and make the package
    importable by Python workers, before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # -XX:-UsePerfData: no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    paths = [ROOT, os.path.join(ROOT, "tools")]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        paths + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    # spark-warehouse/ and derby files land in the scratch directory
    os.chdir(work)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS + EXTRA_WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    for path in (ROOT, os.path.join(ROOT, "tools"), HERE):
        if path not in sys.path:
            sys.path.insert(0, path)
    # the engine must be importable; without it the run fails here,
    # before anything is measured or printed
    import dbt_economic_indicators_eu_spark.session  # noqa: F401

    import metrics
    from harness import cpu_ticks, exec_counters

    workload = __import__(args.workload)
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"work-{args.workload}-s{args.seed}-{os.getpid()}")
    cwd = os.getcwd()
    _environment(work)
    ctx = Context(args.workload, args.seed, args.seconds, bool(args.trace), work)
    t0 = time.perf_counter()
    ticks0 = cpu_ticks()
    try:
        res = workload.run(ctx)
        ctx.session.stop()
        if ctx.trace:
            res["layers"].update(
                {f"exec.{k}": v for k, v in exec_counters(ctx.session.event_log_dir).items()}
            )
    finally:
        ctx.session.stop()
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)

    steal, total = (b - a for a, b in zip(ticks0, cpu_ticks()))
    detail = dict(res["detail"], wall_s=time.perf_counter() - t0,
                  host_steal_pct=100.0 * steal / max(total, 1), problems=res["problems"])
    if ctx.trace:
        values = dict(res["layers"])
        values.update({f"trace.{k}": v for k, v in res["values"].items()})
        names = [n for n, *_ in metrics.PER_LAYER]
        detail["layers"] = metrics.metric_block(
            values, [n for n, _ in metrics.LAYER_DETAIL if n in values])
        ctx.tracer.write(
            os.path.join(base, f"trace-{args.workload}-s{args.seed}.json"), values
        )
    else:
        values = res["values"]
        names = [n for n, *_ in metrics.END_TO_END]
    print(json.dumps({"workload": args.workload, "seed": args.seed, "detail": detail}))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics.metric_block(values, names),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
