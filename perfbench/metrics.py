"""Metric names, units and bounds of the benchmark.

``BENCHMARK.json`` at the repository root lists the same names; the
benchmark's tests check that the two agree.

End-to-end metrics are reported by every workload, each with the
meaning of that workload's unit of work (a query for ``suite``, a
``build`` for ``dag``):

- ``setup_s``: set-up before the first timed operation: the session
  start through ``session.get_spark``, from the call that launches the
  JVM to the end of a first one-row job, plus the workload's one-time
  warm-up (``suite``: one collected pass over its queries; ``dag``:
  none, its timed build is the first in the process). A cold start
  takes 12-15 s on 4 cores, so a run makes one;
- ``retained_mb``: memory the Spark JVM and the Python process hold at
  the end of the timed operations: JVM heap in use after a full
  collection, JVM non-heap in use, and the Python process's resident
  set. The peak resident set is
  printed with the details; it moves by a fifth between identical runs,
  with the collector's timing, so it carries no bound;
- ``work_s``: one whole unit of the workload's job (``suite``: the sum
  over its queries of each query's median latency, plan build plus
  execution into the ``noop`` sink; ``dag``: the cold ``build`` from an
  empty warehouse, which is all a CLI user runs).

The median and 90th percentile over the suite's query x pass samples
are printed with the details, with their sample count, but carry no
bound: one pass over four queries gives four samples, too few for
either order statistic to be steady.

Per-layer metrics come from a separate traced run (``--trace 1``).
``perfbench/README.md`` maps each layer metric to the end-to-end metric
it should move, and on which workload.
"""

from __future__ import annotations

DAG_NODES = (
    "stg_eurostat__gdp",
    "stg_eurostat__unemployment",
    "stg_eurostat__inflation",
    "stg_eurostat__population",
    "country_metadata",
    "int_country_annual_metrics",
    "int_country_monthly_indicators",
    "dim_country",
    "fct_economic_indicators",
    "rpt_annual_economic_summary",
    "snap_gdp_history",
    "py_anomaly_detection",
    "py_unemployment_forecast",
    "py_data_quality_scores",
)

# name, unit, better, bound (share of the parent's median)
END_TO_END = (
    ("setup_s", "s", "lower", 0.25),
    ("retained_mb", "MB", "lower", 0.10),
    ("work_s", "s", "lower", 0.25),
)

# name, unit, better: the layers every workload exercises, so every
# traced run measures each of them (BENCHMARK.json ``per_layer``)
PER_LAYER = (
    ("session.start_s", "s", "lower"),
    ("catalyst.analysis_s", "s", "lower"),
    ("catalyst.optimization_s", "s", "lower"),
    ("catalyst.planning_s", "s", "lower"),
    ("exec.jobs", "count", "lower"),
    ("exec.stages", "count", "lower"),
    ("exec.tasks", "count", "lower"),
    ("exec.task_run_s", "s", "lower"),
    ("exec.task_cpu_s", "s", "lower"),
    ("exec.gc_s", "s", "lower"),
    ("exec.scheduler_delay_s", "s", "lower"),
    ("exec.input_bytes", "bytes", "lower"),
    ("exec.shuffle_read_bytes", "bytes", "lower"),
    ("exec.shuffle_write_bytes", "bytes", "lower"),
    # the end-to-end metrics as the traced run measured them; their
    # ratio to the untraced medians is the tracing overhead
    *((f"trace.{name}", unit, better) for name, unit, better, _ in END_TO_END),
)

# name, unit: layers only some workloads exercise (or, for spills, that
# none reaches at these sizes). A traced run prints the ones it
# measured with its details and keeps them in its trace file; they
# stay out of the result line, where a layer a workload never touches
# would read a constant 0.
LAYER_DETAIL = (
    ("queries.plan_build_s", "s"),
    ("queries.plan_rebuild_s", "s"),
    ("queries.effectful_build_s", "s"),
    ("exec.spill_bytes", "bytes"),
    ("exec.python_stage_s", "s"),
    ("streaming.batches", "count"),
    ("streaming.batch_p50_ms", "ms"),
    ("streaming.latestOffset_ms", "ms"),
    ("streaming.queryPlanning_ms", "ms"),
    ("streaming.addBatch_ms", "ms"),
    ("streaming.walCommit_ms", "ms"),
    ("streaming.commitOffsets_ms", "ms"),
    ("streaming.state_rows", "count"),
    ("streaming.state_mem_bytes", "bytes"),
    *((f"materialize.node_s.{n}", "s") for n in DAG_NODES),
    ("materialize.files_written", "count"),
    ("materialize.bytes_written", "bytes"),
    ("testing.generic_s", "s"),
    ("testing.unit_s", "s"),
    ("testing.singular_s", "s"),
    ("plans.dependency_graph_s", "s"),
)

UNITS = {name: unit for name, unit, *_ in END_TO_END + PER_LAYER + LAYER_DETAIL}


def metric_block(values: dict[str, float], names) -> dict[str, dict]:
    """Metrics as ``{name: {"value", "unit"}}`` for every name in
    ``names``, a name the run did not measure reading 0."""
    return {n: {"value": float(values.get(n, 0.0)), "unit": UNITS[n]} for n in names}
