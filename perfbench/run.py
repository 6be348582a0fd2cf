"""Benchmark entry point.

    python3 perfbench/run.py --workload etl-sf0.1 --seed 1 --seconds 16 --trace 0

Generates the workload's inputs from ``--seed`` (gen.py), computes the
DuckDB answer of every query on them, then runs worker.py as a fresh
process that sets up Spark and runs the queries for ``--seconds``.
Input generation and the DuckDB answers are cached per seed under
``.perfbench/`` and are outside every timer.

Prints a metric table and, as the last line, one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Exits non-zero when any query raised or differed from DuckDB.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import pickle
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
#: Generated inputs, DuckDB answers, run scratch and span files.
CACHE = os.environ.get("PERFBENCH_CACHE", os.path.join(REPO, ".perfbench"))
sys.path.insert(0, HERE)

from gen import generate  # noqa: E402
from worker import WARM_PASSES  # noqa: E402
from workloads import SOURCE, WORKLOADS  # noqa: E402

#: End-to-end metrics of the JSON line and their units. The table also
#: prints first_pass_s, failed_frac and peak_rss_mb. The JSON line
#: carries failed_frac as failed/attempted, and the per-layer run
#: peak_rss_mb as python.peak_rss_mb + jvm.peak_rss_mb (the JVM's heap
#: growth under the 32g default is bimodal). first_pass_s is one cold
#: pass per run, most of it JIT compilation racing the queries for CPU;
#: across runs on a shared 4-core host its quartiles spread by half its
#: median, too unsteady to bound.
END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "query_p50_s": "s",
    "query_tail_s": "s",
}

PER_LAYER = {
    "session.get_spark_s": "s",
    "session.job_floor_s": "s",
    "registry.import_s": "s",
    "catalog.load_s": "s",
    "queries.build_s": "s",
    "queries.build_share": "1",
    "queries.build_jobs": "count",
    "queries.build_jobs_first": "count",
    "spark.plan_s": "s",
    "spark.exec_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_s": "s",
    "spark.cpu_s": "s",
    "spark.gc_s": "s",
    "spark.core_util": "1",
    "spark.input_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.failed_tasks": "count",
    "spark.fetch_rows": "count",
    "spark.fetch_mb": "MB",
    "arrow.convert_s": "s",
    "sources.write_mb": "MB",
    "sources.write_files": "count",
    "sources.write_amp": "1",
    "scratch.disk_mb": "MB",
    "python.peak_rss_mb": "MB",
    "jvm.peak_rss_mb": "MB",
    "trace.overhead_s": "s",
}

#: Whole-run limit; the worker is killed past it.
RUN_LIMIT_S = 170
#: Generated input sets kept in the cache.
KEEP_INPUTS = 4


def oracle_path(workload, data_dir: str) -> str:
    """Cache file of the workload's DuckDB answers on ``data_dir``. Its
    name hashes the queries' oracle SQL, so a changed oracle is re-run."""
    from sas_etl_spark.registry import QUERIES, queries_map

    queries_map()
    sql = json.dumps([[q, QUERIES[q].oracle] for q in workload.queries])
    key = hashlib.sha256(sql.encode()).hexdigest()[:12]
    return os.path.join(data_dir, "_oracle", f"{workload.name}-{key}.pkl")


def oracle_answers(workload, data_dir: str) -> str:
    """DuckDB answers for the workload's queries on ``data_dir``, cached."""
    path = oracle_path(workload, data_dir)
    if os.path.exists(path):
        return path
    import duckdb

    from sas_etl_spark.registry import QUERIES

    with open(os.path.join(data_dir, "_manifest.json")) as f:
        tables = json.load(f)["tables"]
    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(f"create view {t} as select * from "
                        f"read_parquet('{data_dir}/{t}.parquet/*.parquet')")
        answers = {q: con.execute(QUERIES[q].oracle).df() for q in workload.queries}
    finally:
        con.close()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".partial", "wb") as f:
        pickle.dump(answers, f)
    os.replace(path + ".partial", path)
    return path


def prune_inputs(root: str, keep: str):
    dirs = sorted((os.path.join(root, d) for d in os.listdir(root)),
                  key=os.path.getmtime, reverse=True)
    for d in dirs[KEEP_INPUTS:]:
        if d != keep:
            shutil.rmtree(d, ignore_errors=True)


def stop_group(proc: subprocess.Popen):
    """Kill whatever is left of the worker's process group (its JVM
    included) and wait until the group is gone."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.time() + 10
    while time.time() < deadline:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def table(rows) -> str:
    width = max(len(r[0]) for r in rows)
    return "\n".join(f"  {name:<{width}}  {value:>14.6g}  {unit}" for name, value, unit in rows)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--source", default=SOURCE, help="fixture set under perfbench/data")
    args = ap.parse_args()
    started = time.time()
    # On SIGTERM unwind through the finally below, which stops the worker.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    for need in ("sas_etl_spark/__init__.py", "tests/parity.py"):
        if not os.path.isfile(os.path.join(REPO, need)):
            print(f"perfbench: {need} not found under {REPO}; run from a full checkout",
                  file=sys.stderr)
            return 2
    w = WORKLOADS[args.workload]
    os.makedirs(os.path.join(CACHE, "inputs"), exist_ok=True)
    data_dir, manifest = generate(os.path.join(HERE, "data", args.source),
                                  os.path.join(CACHE, "inputs"), args.seed)
    os.utime(data_dir)
    prune_inputs(os.path.join(CACHE, "inputs"), data_dir)
    env = dict(os.environ, PYTHONPATH=REPO)
    sys.path.insert(0, REPO)
    oracle_path = oracle_answers(w, data_dir)

    tmp = os.path.join(CACHE, "tmp", f"run-{os.getpid()}")
    os.makedirs(os.path.join(tmp, "spark"))
    trace_out = os.path.join(CACHE, "trace", f"{w.name}-seed{args.seed}.json")
    os.makedirs(os.path.dirname(trace_out), exist_ok=True)
    result_path = os.path.join(tmp, "result.json")
    # Every temporary file of the run stays in it; JVMs (the launcher's
    # too) write no /tmp/hsperfdata_* file.
    env.update(TMPDIR=tmp, SPARK_LOCAL_DIRS=os.path.join(tmp, "spark"),
               JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--workload", w.name,
           "--repo", REPO, "--data", data_dir, "--oracle", oracle_path,
           "--result", result_path, "--trace-out", trace_out,
           "--seconds", str(args.seconds), "--trace", str(args.trace)]
    spawned = time.time()
    proc = subprocess.Popen(cmd + ["--spawned", repr(spawned)], cwd=tmp, env=env,
                            stdout=sys.stderr, start_new_session=True)
    rc = None
    try:
        rc = proc.wait(timeout=max(1.0, RUN_LIMIT_S - (time.time() - started)))
    except subprocess.TimeoutExpired:
        print(f"perfbench: worker exceeded {RUN_LIMIT_S} s; killed", file=sys.stderr)
    finally:
        stop_group(proc)
        result = None
        if rc == 0 and os.path.exists(result_path):
            with open(result_path) as f:
                result = json.load(f)
        shutil.rmtree(tmp, ignore_errors=True)
    if result is None:
        print(f"perfbench: worker failed (exit {rc})", file=sys.stderr)
        return 1

    attempted, failures = result["attempted"], result["failures"]
    failed = len(failures)
    read = {t: manifest["tables"][t] for t in w.tables}
    sizes = ", ".join(f"{t} {v['rows']} rows/{v['bytes'] / 1e6:.1f} MB" for t, v in read.items())
    print(f"workload {w.name}  seed {args.seed}  trace {args.trace}  passes {result['passes']}  "
          f"(oracle checks, outside the timers: {result['check_s']:.1f} s)")
    total = sum(v["bytes"] for v in read.values()) / 1e6
    print(f"input {args.source}, tables read: {total:.1f} MB ({sizes})")
    common = [("failed_frac", failed / attempted, "1"),
              ("peak_rss_mb", sum(result["rss_mb"]), "MB")]
    if args.trace:
        layers = result["per_layer"]
        print("per layer (medians over the measured traced passes):")
        print(table([(k, layers[k], u) for k, u in PER_LAYER.items()] + common))
        print("self time per span layer, whole run:")
        print(table([(k, v, "s") for k, v in result["self_s"].items()]))
        gaps = result["span_gaps"]
        within = [k for k, v in gaps.items() if abs(v) <= 0.1]
        print("per query, median of traced build+plan+exec+convert / untraced latency - 1"
              f" ({len(within)} of {len(gaps)} within 10%):")
        print(table([(k, v, "1") for k, v in gaps.items()]))
        print(f"spans: {trace_out}")
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        e2e = result["end_to_end"]
        print(f"end to end over {result['passes'] - 1 - WARM_PASSES} measured passes "
              f"(query_tail_s: the slowest query, {result['tail_query']}):")
        print(table([(k, e2e[k], u) for k, u in END_TO_END.items()]
                    + [(k, e2e[k], "s") for k in ("first_pass_s",)] + common))
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    print("  (peak_rss_mb = python driver {:.0f} MB + JVM {:.0f} MB)".format(*result["rss_mb"]))
    for msg in failures:
        print(f"  FAILED {msg}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
