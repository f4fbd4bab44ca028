"""Tests of the benchmark itself: generator determinism, the suite's
query choice against its measured profile, the metric names against
BENCHMARK.json, failure without the engine, and one
smoke run per workload and mode (marked ``slow``, 1-3 min each).

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics  # noqa: E402
from dagcorpus import GEOS, DagCorpus  # noqa: E402
from suitedata import generate  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _tables(path: str) -> dict:
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in sorted(files):
            full = os.path.join(root, f)
            out[os.path.relpath(full, path)] = pq.read_table(full).to_pylist()
    return out


def test_dag_corpus_deterministic_per_seed(tmp_path):
    a, b, c = (DagCorpus(str(tmp_path / n), seed) for n, seed in (("a", 5), ("b", 5), ("c", 6)))
    for corpus in (a, b, c):
        corpus.write()
        corpus.land_cycle()
    assert _tables(a.raw_dir) == _tables(b.raw_dir)
    assert _tables(a.raw_dir) != _tables(c.raw_dir)


def test_dag_corpus_shape(tmp_path):
    corpus = DagCorpus(str(tmp_path / "raw"), 1, first_year=2020, last_year=2021)
    corpus.write()
    gdp = pq.read_table(corpus.table("raw_gdp")).to_pylist()
    unemp = pq.read_table(corpus.table("raw_unemployment")).to_pylist()
    geos = {r["geo_code"] for r in gdp}
    assert geos == set(GEOS) | {"EU27_2020"}
    assert {r["geo_code"] for r in unemp} == set(GEOS)
    for year in ("2020", "2021"):
        members = sum(r["value"] for r in gdp
                      if r["time_code"] == year and r["geo_code"] != "EU27_2020"
                      and r["value"] is not None)
        (eu,) = [r["value"] for r in gdp if r["time_code"] == year and r["geo_code"] == "EU27_2020"]
        assert abs(eu - members) < 1.0
    assert any(r["value"] is None for r in unemp)
    assert any(len(r["time_code"]) < 7 for r in unemp)
    valid = {(r["geo_code"], r["time_code"]) for r in unemp
             if r["value"] is not None and len(r["time_code"]) >= 7}
    assert len(valid) == corpus.fct_rows == len(GEOS) * 24
    corpus.land_cycle()
    assert corpus.fct_rows == len(GEOS) * 25
    assert len(os.listdir(corpus.table("raw_unemployment"))) == 2


def test_suite_data_deterministic_per_seed(tmp_path):
    counts = generate(str(tmp_path / "a"), 3, sf=0.001)
    generate(str(tmp_path / "b"), 3, sf=0.001)
    generate(str(tmp_path / "c"), 4, sf=0.001)
    a, b, c = (_tables(str(tmp_path / n)) for n in "abc")
    assert a == b and a != c
    assert counts["lineitem"] == 6000 and len(counts) == 10


def test_suite_queries_are_the_heaviest_of_each_profile():
    import suite

    with open(os.path.join(HERE, "suite_profile.json")) as f:
        profiles = json.load(f)
    assert profiles
    for profile in profiles.values():
        top = [r["query"] for r in profile["queries"][:len(suite.QUERIES)]]
        assert set(top) == set(suite.QUERIES), profile["data"]
        assert len(profile["queries"]) == 98 and not profile["errors"]


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert set(bench) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert [[m["name"], m["unit"], m["better"], m["bound"]] for m in bench["end_to_end"]] == [
        list(m) for m in metrics.END_TO_END
    ]
    assert [[m["name"], m["unit"], m["better"]] for m in bench["per_layer"]] == [
        list(m) for m in metrics.PER_LAYER
    ]
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"] + bench["workloads"]]
    names += [n for n, _ in metrics.LAYER_DETAIL]
    assert len(names) == len(set(names))
    for name in names:
        assert NAME.match(name), name
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert UNIT.match(m["unit"]), m
        assert m["better"] in ("lower", "higher")
    for m in bench["end_to_end"]:
        assert 0 < m["bound"] <= 0.25
    assert ["setup_s", "s", "lower"] == [bench["end_to_end"][0][k] for k in ("name", "unit", "better")]
    assert max(m["bound"] for m in bench["end_to_end"]) == bench["end_to_end"][0]["bound"]
    from run import WORKLOADS

    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "suite", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "11",
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    detail_line, result_line = proc.stdout.strip().splitlines()[-2:]
    return json.loads(detail_line), json.loads(result_line)


@pytest.mark.slow
def test_suite_traced_smoke():
    detail, result = _run("suite", 1)
    assert result["correct"] and result["failed"] == 0, detail["detail"]["problems"]
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert list(m) == [n for n, *_ in metrics.PER_LAYER]
    assert all(v > 0 for v in m.values()), m
    layers = {k: v["value"] for k, v in detail["detail"]["layers"].items()}
    for name in ("queries.plan_build_s", "exec.python_stage_s", "streaming.batches",
                 "streaming.addBatch_ms"):
        assert layers[name] > 0, name
    assert "materialize.files_written" not in layers
    with open(os.path.join(ROOT, ".perfbench", "trace-suite-s11.json")) as f:
        trace = json.load(f)
    assert {s["name"] for s in trace["spans"]} >= {"session.start", "warmup", "pass", "query"}


@pytest.mark.slow
def test_dag_traced_smoke():
    detail, result = _run("dag", 1)
    assert result["correct"] and result["attempted"] == 2, detail["detail"]["problems"]
    assert detail["detail"]["incremental_cycle_s"] > 0
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert all(v > 0 for v in m.values()), m
    layers = {k: v["value"] for k, v in detail["detail"]["layers"].items()}
    for name in ("plans.dependency_graph_s", "materialize.node_s.fct_economic_indicators",
                 "materialize.node_s.snap_gdp_history", "materialize.files_written",
                 "testing.generic_s", "testing.unit_s", "testing.singular_s"):
        assert layers[name] > 0, name
    assert "queries.plan_build_s" not in layers


@pytest.mark.slow
def test_dag_untraced_runs_the_cli_build():
    detail, result = _run("dag", 0)
    assert result["correct"] and result["attempted"] == 1, detail["detail"]["problems"]
    assert detail["detail"]["tests"] == "59 of 59 tests passed"
    assert detail["detail"]["nodes_ran"] == 14


@pytest.mark.slow
def test_suite_untraced_reports_end_to_end():
    _, result = _run("suite", 0)
    assert result["correct"]
    assert list(result["metrics"]) == [n for n, *_ in metrics.END_TO_END]
    assert all(v["value"] > 0 for v in result["metrics"].values())


@pytest.mark.slow
def test_stream_smoke():
    detail, result = _run("stream", 0)
    d = detail["detail"]
    assert result["correct"], d["problems"]
    assert d["latency_samples"] == 10 and 0 < d["stream_lat_p50_s"] <= d["stream_lat_p90_s"]
    assert d["stream_sustained_eps"] > 0
