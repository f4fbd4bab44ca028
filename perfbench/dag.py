"""``dag`` workload: the CLI ``build`` verb (seed, run, snapshot, test)
over the 14-node Eurostat DAG, on a seeded raw corpus
(``dagcorpus.DagCorpus``).

The timed operation is the first ``build`` in the process, from an
empty warehouse: what a CLI user pays on every invocation. The data is
about 4k raw rows, so fixed cost dominates and the ``materialize``,
``testing`` and ``plans`` layers do most of the work. One cold build
takes about a minute on 4 cores, which is why a run holds exactly one.

The traced run (``--trace 1``) replaces the CLI call with the same cold
build replayed layer by layer, so every node and test layer gets its
own span (its ``trace.work_s`` is that replay, run serially, against
the CLI's ``--threads 4``), then lands one incremental cycle (a new
month plus a GDP revision) through the fact merge and the SCD2
snapshot and checks both.
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import time

COLD_NOW = "2025-02-01T00:00:00"
CYCLE_NOW = "2025-03-01T00:00:00"
_TESTS_LINE = re.compile(r"^(\d+) of (\d+) tests passed$", re.M)


def _cli_build(warehouse: str, raw_dir: str, now: str) -> tuple[int, str]:
    from dbt_economic_indicators_eu_spark.__main__ import main

    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        rc = main(["build", "--warehouse", warehouse, "--raw-dir", raw_dir, "--now", now])
    return rc, out.getvalue()


def check_warehouse(spark, warehouse: str, corpus, closed: int) -> list[str]:
    """Problems with a built warehouse: the fact grain (geos x months)
    and the snapshot's open and closed version counts."""
    problems = []
    fct = spark.read.parquet(os.path.join(warehouse, "fct_economic_indicators")).count()
    if fct != corpus.fct_rows:
        problems.append(f"fct_economic_indicators has {fct} rows, expected {corpus.fct_rows}")
    snap = spark.read.parquet(os.path.join(warehouse, "snap_gdp_history"))
    current = snap.filter("is_current").count()
    if current != corpus.snapshot_current:
        problems.append(f"snapshot has {current} current rows, expected {corpus.snapshot_current}")
    n_closed = snap.filter("NOT is_current").count()
    if n_closed != closed:
        problems.append(f"snapshot has {n_closed} closed rows, expected {closed}")
    return problems


def check_build(rc: int, out: str) -> list[str]:
    """Problems with a build's exit code and its test summary line."""
    problems = [] if rc == 0 else [f"build exited {rc}"]
    m = _TESTS_LINE.search(out)
    if m is None:
        problems.append("no 'N of N tests passed' line")
    elif m.group(1) != m.group(2) or m.group(2) == "0":
        problems.append(f"tests: {m.group(0)}")
    return problems


def _traced(ctx, spark, corpus, warehouse: str) -> dict:
    """The traced run: the cold build from an empty warehouse replayed
    layer by layer (the dependency-graph probe, each node through
    ``run_models(select=[node])`` in declaration order, then the three
    test layers called directly), then one incremental cycle through
    the two nodes it changes, the fact merge and the SCD2 snapshot."""
    import datetime as dt

    from dbt_economic_indicators_eu_spark.__main__ import _registry
    from dbt_economic_indicators_eu_spark.materialize.incremental import has_parquet_files
    from dbt_economic_indicators_eu_spark.materialize.run import (
        make_stored_resolver, read_stored, run_models, warehouse_base,
    )
    from dbt_economic_indicators_eu_spark.models.unit_tests import run_reference_unit_tests
    from dbt_economic_indicators_eu_spark.testing.schedule import run_schema_tests
    from harness import catalyst_totals, dir_bytes
    from metrics import DAG_NODES

    tr = ctx.tracer
    now = dt.datetime.fromisoformat(COLD_NOW)
    reg = _registry(corpus.raw_dir)
    base = warehouse_base(warehouse, "prod", None)
    problems: list[str] = []

    def resolve(name):
        path = os.path.join(base, name)
        if os.path.isdir(path) and has_parquet_files(path):
            return read_stored(spark, path)
        return None

    def context(exclude=None):
        return reg.context(spark, vars={"now": now},
                           stored_resolver=make_stored_resolver(reg, spark, base,
                                                                exclude=exclude))

    with tr.span("build"):
        with tr.span("plans.dependency_graph"):
            reg.dependency_graph(spark, vars={"now": now},
                                 stored_resolver=make_stored_resolver(reg, spark, base))
        for node in DAG_NODES:
            with tr.span(f"materialize.{node}"):
                run_models(reg, spark, warehouse, select=[node], now=now)
        tctx = context()
        with tr.span("testing.generic"):
            ok, rows = run_schema_tests(reg, tctx, None, resolve)
        problems += [f"generic test failed: {r['model']}.{r['column']} {r['test']}"
                     for r in rows if r["violations"]]
        with tr.span("testing.unit"):
            unit = run_reference_unit_tests(reg, spark)
        problems += [f"unit test failed: {r['name']}" for r in unit if not r["passed"]]
        with tr.span("testing.singular"):
            for name in reg.singular_tests:
                if reg.singular_test_frame(tctx, name).count():
                    problems.append(f"singular test failed: {name}")
    problems += check_warehouse(spark, warehouse, corpus, closed=0)

    layers = {
        "session.start_s": ctx.session.start_s,
        "plans.dependency_graph_s": tr.total("plans.dependency_graph"),
        **{f"materialize.node_s.{n}": tr.total(f"materialize.{n}") for n in DAG_NODES},
        **{f"testing.{t}_s": tr.total(f"testing.{t}") for t in ("generic", "unit", "singular")},
        # each node's own plan over its stored upstreams, as run_models
        # builds it (the node itself is excluded from the stored lookup)
        **catalyst_totals(spark, [context(exclude={n}).ref(n) for n in DAG_NODES]),
    }
    layers["materialize.files_written"], layers["materialize.bytes_written"] = dir_bytes(warehouse)

    now = dt.datetime.fromisoformat(CYCLE_NOW)
    corpus.land_cycle()
    with tr.span("incremental_cycle"):
        run_models(reg, spark, warehouse,
                   select=["fct_economic_indicators", "snap_gdp_history"], now=now)
    # each revision closes the revised member's version and the EU
    # aggregate's version of that year
    cycle_problems = check_warehouse(spark, warehouse, corpus, closed=2 * corpus.cycles)

    retained = ctx.session.retained_mb()
    return {
        "values": {
            "setup_s": ctx.session.start_s,
            "retained_mb": sum(retained.values()),
            "work_s": tr.total("build"),
        },
        "layers": layers,
        "detail": {
            "layered_build_s": tr.total("build"),
            "incremental_cycle_s": tr.total("incremental_cycle"),
            "peak_rss_mb": ctx.session.peak_rss_mb(),
            "retained": retained,
            "fct_rows": corpus.fct_rows,
        },
        "attempted": 2,
        "failed": int(bool(problems)) + int(bool(cycle_problems)),
        "problems": problems + [f"incremental cycle: {p}" for p in cycle_problems],
    }


def run(ctx) -> dict:
    from dagcorpus import DagCorpus

    raw_dir = os.path.join(ctx.work, "raw")
    warehouse = os.path.join(ctx.work, "warehouse")
    corpus = DagCorpus(raw_dir, ctx.seed)
    corpus.write()

    with ctx.tracer.span("session.start"):
        spark = ctx.session.start()
    if ctx.trace:
        return _traced(ctx, spark, corpus, warehouse)

    t0 = time.perf_counter()
    rc, out = _cli_build(warehouse, raw_dir, COLD_NOW)
    build_s = time.perf_counter() - t0
    problems = [f"build: {p}" for p in check_build(rc, out)]
    if rc == 0:
        problems += [f"build: {p}" for p in check_warehouse(spark, warehouse, corpus, closed=0)]

    retained = ctx.session.retained_mb()
    m = _TESTS_LINE.search(out)
    return {
        "values": {
            "setup_s": ctx.session.start_s,
            "retained_mb": sum(retained.values()),
            "work_s": build_s,
        },
        "layers": {},
        "detail": {
            "build_cold_s": build_s,
            "peak_rss_mb": ctx.session.peak_rss_mb(),
            "retained": retained,
            "tests": m.group(0) if m else None,
            "nodes_ran": out.count("ran "),
            "fct_rows": corpus.fct_rows,
        },
        "attempted": 1,
        "failed": int(bool(problems)),
        "problems": problems,
    }
