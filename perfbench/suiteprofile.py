"""Measure every registered query once under ``session.get_spark`` and
rank them by time: the measurement the ``suite`` workload's subset is
chosen from.

    python3 perfbench/suiteprofile.py --seed 1 [--passes 2] [--out FILE]
    python3 perfbench/suiteprofile.py --data DIR ...

Run from the repository root. With ``--seed`` the queries read the
seeded corpus the ``suite`` workload generates (``suitedata.py`` at
``suite.SCALE``); with ``--data`` they read an existing table set.
After one untimed pass, each of ``--passes`` passes builds every query
and writes it into the ``noop`` sink, one at a time, as the workload
does. The output lists each query's median time, whether it is
effectful, and the share of a whole pass that the heaviest queries,
and the workload's ``QUERIES``, cover. ``--out`` adds the report to a
JSON file under the name of its data (``seed-N`` or the data
directory's name), so one file can hold several profiles;
``suite_profile.json`` holds the ones the subset was chosen from.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    src = p.add_mutually_exclusive_group(required=True)
    src.add_argument("--seed", type=int)
    src.add_argument("--data")
    p.add_argument("--passes", type=int, default=2)
    p.add_argument("--out")
    args = p.parse_args()

    for path in (ROOT, os.path.join(ROOT, "tools"), HERE):
        if path not in sys.path:
            sys.path.insert(0, path)
    import run
    import suite
    from harness import Session
    from suitedata import generate

    out = os.path.abspath(args.out) if args.out else None
    data_dir = os.path.abspath(args.data) if args.data else None
    work = os.path.join(ROOT, ".perfbench", f"profile-{os.getpid()}")
    cwd = os.getcwd()
    run._environment(work)
    session = Session()
    try:
        if data_dir is None:
            data_dir = os.path.join(work, "data")
            generate(data_dir, args.seed, suite.SCALE)
        from __spark_entry__ import queries

        from dbt_economic_indicators_eu_spark.queries import all_queries

        effectful = {n for n, q in all_queries().items() if q.effectful}
        builders = queries()
        spark = session.start()
        samples: dict[str, list[float]] = {n: [] for n in builders}
        errors: dict[str, str] = {}
        for i in range(args.passes + 1):
            for name, build in builders.items():
                t0 = time.perf_counter()
                try:
                    build(spark, data_dir).write.mode("overwrite").format("noop").save()
                except Exception as exc:  # noqa: BLE001 - reported with the profile
                    errors[name] = f"{type(exc).__name__}: {exc}"[:300]
                    continue
                if i:
                    samples[name].append(time.perf_counter() - t0)
            print(f"pass {i} done", file=sys.stderr, flush=True)
    finally:
        session.stop()
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)

    med = {n: statistics.median(v) for n, v in samples.items() if v}
    total = sum(med.values())
    ranked = sorted(med, key=med.get, reverse=True)
    cum = 0.0
    rows = []
    for rank, name in enumerate(ranked, 1):
        cum += med[name]
        rows.append({"rank": rank, "query": name, "median_s": med[name],
                     "effectful": name in effectful, "cum_share": cum / total})
    subset = sum(med.get(n, 0.0) for n in suite.QUERIES)
    label = os.path.basename(data_dir.rstrip("/")) if args.data else f"seed-{args.seed}"
    report = {
        "data": label if args.data else f"suitedata seed {args.seed} sf {suite.SCALE}",
        "nproc": len(os.sched_getaffinity(0)),
        "passes": args.passes,
        "pass_s": total,
        "suite_subset_share": subset / total,
        "queries": rows,
        "errors": errors,
    }
    for r in rows:
        print(f"{r['rank']:3d} {r['query']:28s} {r['median_s']:7.3f}s "
              f"{'E' if r['effectful'] else ' '} cum {r['cum_share']:.3f}")
    print(f"pass {total:.2f}s; suite.QUERIES cover {subset / total:.3f}; errors {len(errors)}")
    if out:
        profiles = {}
        if os.path.exists(out):
            with open(out) as f:
                profiles = json.load(f)
        profiles[label] = report
        with open(out, "w") as f:
            json.dump(profiles, f, indent=1, sort_keys=True)
            f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
