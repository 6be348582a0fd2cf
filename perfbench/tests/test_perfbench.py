"""Tests of the benchmark itself: input generation, the oracle check,
the metric contract of BENCHMARK.json and a smoke run of every
workload on the sf0.001 fixtures, untraced and traced.

Run with ``python3 -m pytest perfbench/tests`` from the repository
root (the smoke runs start Spark and take a few minutes).
"""

from __future__ import annotations

import argparse
import filecmp
import json
import os
import pickle
import shutil
import subprocess
import sys

import duckdb
import pandas as pd
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
REPO = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import run  # noqa: E402
import worker  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SMOKE = os.path.join(BENCH, "data", "sf0.001")
SPEC = json.load(open(os.path.join(REPO, "BENCHMARK.json")))


def _files(d):
    return sorted(
        os.path.relpath(os.path.join(r, n), d)
        for r, _, names in os.walk(d)
        for n in names
    )


def _oracle(data_dir, names):
    from sas_etl_spark.registry import QUERIES, queries_map

    queries_map()
    parity = worker.load_parity(REPO)
    con = duckdb.connect()
    for t in gen.source_tables(SMOKE):
        con.execute(f"create view {t} as select * from read_parquet('{data_dir}/{t}.parquet/*.parquet')")
    return {q: parity._normalize(con.execute(QUERIES[q].oracle).df()) for q in names}


def test_same_seed_gives_identical_files(tmp_path):
    a, ma = gen.generate(SMOKE, str(tmp_path / "a"), 7)
    b, mb = gen.generate(SMOKE, str(tmp_path / "b"), 7)
    assert ma == mb
    files = _files(a)
    assert files == _files(b)
    match, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
    assert not mismatch and not errors


def test_other_seed_permutes_rows_but_keeps_answers(tmp_path):
    a, ma = gen.generate(SMOKE, str(tmp_path), 1)
    b, mb = gen.generate(SMOKE, str(tmp_path), 2)
    assert {t: v["rows"] for t, v in ma["tables"].items()} == {
        t: v["rows"] for t, v in mb["tables"].items()
    }
    la = pq.read_table(os.path.join(a, "lineitem.parquet")).to_pandas()
    lb = pq.read_table(os.path.join(b, "lineitem.parquet")).to_pandas()
    assert not la.equals(lb)
    names = sorted({q for w in WORKLOADS.values() for q in w.queries})
    oa, ob = _oracle(a, names), _oracle(b, names)
    for q in names:
        pd.testing.assert_frame_equal(oa[q], ob[q], check_exact=True, obj=q)


def test_changed_source_makes_new_inputs(tmp_path):
    src = tmp_path / "src"
    shutil.copytree(SMOKE, src)
    a, _ = gen.generate(str(src), str(tmp_path / "out"), 1)
    assert gen.generate(str(src), str(tmp_path / "out"), 1)[0] == a
    pq.write_table(pq.read_table(src / "region.parquet").slice(1), src / "region.parquet")
    b, mb = gen.generate(str(src), str(tmp_path / "out"), 1)
    assert b != a
    assert mb["tables"]["region"]["rows"] == 4


def test_changed_oracle_sql_recomputes_answers(tmp_path, monkeypatch):
    import dataclasses

    from sas_etl_spark.registry import QUERIES

    data_dir, _ = gen.generate(SMOKE, str(tmp_path), 1)
    w = WORKLOADS["etl-sf0.1"]
    first = run.oracle_answers(w, data_dir)
    assert run.oracle_answers(w, data_dir) == first
    spec = QUERIES["q_rollup"]
    monkeypatch.setitem(QUERIES, "q_rollup", dataclasses.replace(
        spec, oracle=f"select * from ({spec.oracle}) limit 1"))
    second = run.oracle_answers(w, data_dir)
    assert second != first
    with open(first, "rb") as f, open(second, "rb") as g:
        assert len(pickle.load(f)["q_rollup"]) > 1
        assert len(pickle.load(g)["q_rollup"]) == 1


def test_check_reports_a_differing_result():
    frame = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]})
    run = worker.Run.__new__(worker.Run)
    run.parity = worker.load_parity(REPO)
    run.answers = {"q": frame.iloc[::-1].reset_index(drop=True)}
    assert run.check("q", frame) is None
    changed = frame.assign(v=[0.5, 1.5, 2.75])
    assert "differs from DuckDB" in run.check("q", changed)
    assert "differs from DuckDB" in run.check("q", frame.head(2))


def test_self_time_subtracts_children():
    t = worker.Tracer()
    root = t.add("run", 0.0, 10.0)
    p = t.add("pass", 1.0, 9.0, root)
    q = t.add("query:a", 1.0, 8.0, p)
    t.add("build", 1.0, 3.0, q)
    t.add("exec", 3.0, 8.0, q)
    assert t.self_times() == pytest.approx(
        {"run": 2.0, "pass": 1.0, "query": 0.0, "build": 2.0, "exec": 5.0}
    )


def test_end_to_end_skips_the_warm_up_and_takes_the_slowest_query():
    run = worker.Run(argparse.Namespace(trace=0))
    run.setup_s = 1.0

    def one_pass(wall, a, b):
        return {"traced": False, "wall": wall, "floor": 0.0,
                "queries": [{"name": "a", "latency": a}, {"name": "b", "latency": b}]}

    run.passes = ([one_pass(10.0, 5.0, 5.0)] + [one_pass(9.0, 9.0, 9.0)] * worker.WARM_PASSES
                  + [one_pass(2.0, 0.5, 1.5), one_pass(3.0, 0.7, 2.5), one_pass(4.0, 0.6, 2.0)])
    e2e, slowest = run.end_to_end()
    assert slowest == "b"
    assert e2e == pytest.approx({"setup_s": 1.0, "first_pass_s": 10.0, "pass_s": 3.0,
                                 "query_p50_s": 1.3, "query_tail_s": 2.0})


def test_benchmark_json_names_the_workloads():
    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)
    assert SPEC["command"] == ["python3", "perfbench/run.py"]


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("data", "__pycache__", ".pytest_cache"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "etl-sf0.1", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert p.stdout == ""


def _run(tmp_path, workload, trace, seed=1):
    p = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace), "--source", "sf0.001"],
        cwd=REPO, capture_output=True, text=True, timeout=300,
        env=dict(os.environ, PERFBENCH_CACHE=str(tmp_path)),
    )
    lines = p.stdout.strip().splitlines()
    return p, lines, json.loads(lines[-1]) if lines else None


@pytest.mark.parametrize("workload", list(WORKLOADS))
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_run_prints_every_metric_with_its_unit(tmp_path, workload, trace):
    p, lines, result = _run(tmp_path, workload, trace)
    assert p.returncode == 0, p.stderr[-3000:]
    assert result["correct"] is True and result["failed"] == 0
    # pass 0, the warm-up passes and the measured passes
    passes = 1 + worker.WARM_PASSES + (worker.TRACE_PASSES if trace else 1)
    assert result["attempted"] == passes * len(WORKLOADS[workload].queries)
    wanted = SPEC["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in wanted} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
    for name, metric in result["metrics"].items():
        assert isinstance(metric["value"], (int, float)), name
        assert any(line.split()[:1] == [name] and line.split()[-1] == metric["unit"]
                   for line in lines[:-1]), f"{name} not in the printed table"
    assert any(line.split()[:1] == ["failed_frac"] for line in lines[:-1])
    if trace:
        spans = json.load(open(os.path.join(tmp_path, "trace", f"{workload}-seed1.json")))
        names = {s["name"].split(":")[0] for s in spans["spans"]}
        assert {"run", "setup", "pass", "query", "build", "plan", "exec", "convert"} <= names
        if workload.startswith("write"):
            assert result["metrics"]["sources.write_files"]["value"] > 0


def test_mismatch_fails_the_run(tmp_path):
    workload = "etl-sf0.1"
    data_dir, _ = gen.generate(SMOKE, str(tmp_path / "inputs"), 5)
    w = WORKLOADS[workload]
    path = run.oracle_path(w, data_dir)
    os.makedirs(os.path.dirname(path))
    answers = _oracle(data_dir, w.queries)
    answers["q_rollup"] = answers["q_rollup"].iloc[1:]
    with open(path, "wb") as f:
        pickle.dump(answers, f)
    p, lines, result = _run(tmp_path, workload, 0, seed=5)
    assert p.returncode != 0
    assert result["correct"] is False
    # q_rollup in pass 0, in the warm-up passes and in the measured pass
    assert result["failed"] == 2 + worker.WARM_PASSES
    assert any("q_rollup" in line and "FAILED" in line for line in lines)
