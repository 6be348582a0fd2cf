"""The measured process of one benchmark run.

``run.py`` generates the inputs and the DuckDB answers, then starts
this script as a fresh process. It sets up a session the way a batch
job does (``get_spark``, registry import, ``catalog.load_table`` of
the workload's tables, one trivial job), then runs the workload's queries in a
closed loop with one client: each query is built fresh, executed and
fetched to pandas, and its result is compared with the DuckDB answer
outside the timers. Pass 0 is the cold pass a one-shot job pays. Then
``WARM_PASSES`` passes run untimed while the JIT compiles the hot code,
and the measured passes follow: ``--seconds`` divided by the nominal
pass time ``PASS_S``, rounded, at least one.

With ``--trace 1`` pass 0 is traced and, after the warm-up passes,
``TRACE_PASSES`` measured passes alternate untraced and traced. A
traced run of a query forces the plan before execution, runs the
builder and the executed plan in their
own Spark job groups so their jobs can be told apart in the status
store, and keeps spans run -> pass -> query -> {build, plan, exec,
convert} in memory; they are written out at the end. The untraced
passes give the tracing overhead. Nothing in
``sas_etl_spark`` is modified: every number comes from the calls this
file makes into its public functions and from Spark's status store.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import pickle
import resource
import statistics
import time

from workloads import WORKLOADS

#: Status-store StageData getters summed per query: metric -> (getter, scale).
STAGE_FIELDS = {
    "tasks": ("numCompleteTasks", 1),
    "failed_tasks": ("numFailedTasks", 1),
    "task_s": ("executorRunTime", 1e-3),
    "cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "input_mb": ("inputBytes", 1e-6),
    "shuffle_write_mb": ("shuffleWriteBytes", 1e-6),
    "shuffle_read_mb": ("shuffleReadBytes", 1e-6),
    "spill_mb": ("diskBytesSpilled", 1e-6),
}

PHASES = ("build", "plan", "exec", "convert")

#: Later passes of a traced run, in the order untraced, traced, traced,
#: untraced, repeated, so a steady warm-up drift of a run cancels out.
TRACE_PASSES = 8

#: Untimed passes between pass 0 and the measured passes. The JVM keeps
#: compiling: on a 4-core box passes 1, 2 and 3 of both workloads take
#: ~1.8x, ~1.4x and ~1.2x as long as passes 4-8, and passes still
#: shorten slowly after that (each pass loads ~50 new generated classes
#: and JIT-compiles for 2-5 CPU-seconds). Passes measured on the steep
#: part move with how much CPU the compiler threads happened to get, so
#: they are left out.
WARM_PASSES = 2

#: Nominal settled pass time of both workloads on a 4-core box.
#: ``--seconds`` divided by it, rounded, fixes the number of measured
#: passes, so two commits compared with the same ``--seconds`` run the
#: same passes (a time-bounded loop would hand a faster commit extra,
#: faster passes).
PASS_S = 4.0


def median(values) -> float:
    return statistics.median(values) if values else 0.0


def tree_usage(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    sizes = [os.path.getsize(os.path.join(root, n))
             for root, _, names in os.walk(path) for n in names]
    return sum(sizes), len(sizes)


def load_parity(repo: str):
    """tests/parity.py, loaded by path so no other ``tests`` package shadows it."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_parity", os.path.join(repo, "tests", "parity.py")
    )
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


class Fetched:
    """Hands an already-fetched frame to ``parity.assert_parity`` in place
    of a Spark DataFrame (``toPandas``) or a DuckDB connection
    (``execute(sql).df()``)."""

    def __init__(self, frame):
        self.frame = frame

    def toPandas(self):  # noqa: N802 - the DataFrame method assert_parity calls
        return self.frame

    def execute(self, _sql):
        return self

    def df(self):
        return self.frame


class Clock:
    """perf_counter with the oracle-check pauses cut out, so spans and
    pass walls cover only the program's work and the tracing."""

    def __init__(self):
        self.origin = time.perf_counter()
        self.paused = 0.0

    def now(self) -> float:
        return time.perf_counter() - self.origin - self.paused

    def pause(self, seconds: float):
        self.paused += seconds


class Tracer:
    """In-memory spans: id, parent, name, start, end, counters."""

    def __init__(self):
        self.spans: list[dict] = []

    def add(self, name, start, end, parent=None, **counters) -> int:
        self.spans.append({"id": len(self.spans), "parent": parent, "name": name,
                           "start": start, "end": end, **counters})
        return len(self.spans) - 1

    def self_times(self) -> dict[str, float]:
        """Per layer: span time minus the part its children cover."""
        covered = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                covered[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            layer = s["name"].split(":")[0]
            own = s["end"] - s["start"] - covered[s["id"]]
            out[layer] = out.get(layer, 0.0) + own
        return out


class Run:
    def __init__(self, args):
        self.args = args
        self.clock = Clock()
        self.tracer = Tracer()
        self.passes: list[dict] = []
        self.failures: list[str] = []
        self.attempted = 0

    # -- set-up ----------------------------------------------------------
    def setup(self):
        a = self.args
        t0 = time.time()
        from sas_etl_spark.session import get_spark

        self.spark = get_spark(
            "perfbench",
            cpus=len(os.sched_getaffinity(0)),
            extra_confs={"spark.ui.showConsoleProgress": "false"},
        )
        t1 = time.time()
        from sas_etl_spark.registry import QUERIES, queries_map

        queries_map()
        t2 = time.time()
        from sas_etl_spark.catalog import load_table

        w = WORKLOADS[a.workload]
        for t in w.tables:
            load_table(self.spark, a.data, t)
        t3 = time.time()
        self.spark.range(1).collect()
        ready = time.time()
        self.setup_s = ready - a.spawned
        self.setup_layers = {
            "session.get_spark_s": t1 - t0,
            "registry.import_s": t2 - t1,
            "catalog.load_s": t3 - t2,
        }
        self.tracer.add("setup", 0.0, self.clock.now())
        self.sc = self.spark.sparkContext
        self.cores = self.sc.defaultParallelism
        self.specs = [QUERIES[q] for q in w.queries]
        self.parity = load_parity(a.repo)
        with open(a.oracle, "rb") as f:
            self.answers = pickle.load(f)
        with open(os.path.join(a.data, "_manifest.json")) as f:
            self.table_mb = {t: v["bytes"] / 1e6 for t, v in json.load(f)["tables"].items()}
        self.writes = w.writes

    def scratch_root(self) -> str:
        from sas_etl_spark.scratch import scratch_root

        return scratch_root(self.spark)

    # -- status store ------------------------------------------------------
    def group_jobs(self, group: str) -> list[int]:
        """Job ids of ``group``, once the status store has seen them end."""
        tracker = self.sc.statusTracker()
        ids = tracker.getJobIdsForGroup(group)
        deadline = time.perf_counter() + 5
        while time.perf_counter() < deadline and any(
            (info := tracker.getJobInfo(j)) is not None and info.status == "RUNNING"
            for j in ids
        ):
            time.sleep(0.005)
        return ids

    def stage_totals(self, job_ids: list[int]) -> dict:
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        stage_ids = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        tot = {k: 0.0 for k in STAGE_FIELDS}
        tot["jobs"], tot["stages"] = len(job_ids), 0
        for s in stage_ids:
            sd = store.lastStageAttempt(s)
            if sd.numCompleteTasks() + sd.numFailedTasks() == 0:
                continue  # skipped: an earlier stage's shuffle output was reused
            tot["stages"] += 1
            for k, (getter, scale) in STAGE_FIELDS.items():
                tot[k] += getattr(sd, getter)() * scale
        return tot

    # -- measurement -------------------------------------------------------
    def run_query(self, group: str, spec, traced: bool, pass_span):
        """Build, execute and fetch one query; return (record, frame)."""
        rec = {"name": spec.name}
        now = self.clock.now
        if traced:
            scratch = self.scratch_root()
            before = tree_usage(scratch)
            self.sc.setJobGroup("b" + group, spec.name)
        t0 = now()
        try:
            df = spec.fn(self.spark, self.args.data)
            t1 = now()
            if traced:
                self.sc.setJobGroup("e" + group, spec.name)
                df._jdf.queryExecution().executedPlan()
            t2 = now()
            table = df.toArrow()
            t3 = now()
            frame = table.to_pandas()
            t4 = now()
        except Exception as e:  # a failing query is counted, not fatal
            rec["error"] = f"{spec.name}: {type(e).__name__}: {str(e).splitlines()[0][:300]}"
            return rec, None
        rec.update(latency=t4 - t0, rows=table.num_rows, mb=table.nbytes / 1e6)
        if not traced:
            if pass_span is not None:
                self.tracer.add(f"untraced-query:{spec.name}", t0, t4, pass_span)
            return rec, frame
        edges = (t0, t1, t2, t3, t4)
        rec.update({ph: edges[k + 1] - edges[k] for k, ph in enumerate(PHASES)})
        rec["build_jobs"] = len(self.group_jobs("b" + group))
        rec.update(self.stage_totals(self.group_jobs("e" + group)))
        after = tree_usage(scratch)
        rec["write_mb"] = (after[0] - before[0]) / 1e6
        rec["write_files"] = after[1] - before[1]
        written = self.writes.get(spec.name)
        rec["written_mb"] = self.table_mb[written] if written else 0.0
        q = self.tracer.add(f"query:{spec.name}", t0, t4, pass_span, rows=rec["rows"],
                            build_jobs=rec["build_jobs"], jobs=rec["jobs"],
                            stages=rec["stages"], tasks=rec["tasks"])
        for k, phase in enumerate(PHASES):
            self.tracer.add(phase, edges[k], edges[k + 1], q)
        return rec, frame

    def check(self, name: str, frame) -> str | None:
        try:
            self.parity.assert_parity(Fetched(frame), Fetched(self.answers[name]), "", name)
        except AssertionError as e:
            return f"{name}: differs from DuckDB: {str(e).splitlines()[0][:300]}"
        return None

    def run_pass(self, p: int, traced: bool):
        """Run every query once, traced or not."""
        f0 = time.perf_counter()
        self.spark.range(1).collect()
        floor = time.perf_counter() - f0
        start = self.clock.now()
        pass_span = self.tracer.add("pass", start, start, index=p) if self.args.trace else None
        recs = []
        for i, spec in enumerate(self.specs):
            rec, frame = self.run_query(f"{p}.{i}", spec, traced, pass_span)
            self.attempted += 1
            if frame is not None:
                c0 = time.perf_counter()
                error = self.check(spec.name, frame)
                del frame
                self.clock.pause(time.perf_counter() - c0)
                if error:
                    rec["error"] = error
            if "error" in rec:
                self.failures.append(rec["error"])
            recs.append(rec)
        end = self.clock.now()
        if pass_span is not None:
            self.tracer.spans[pass_span]["end"] = end
        self.passes.append({"index": p, "traced": traced, "wall": end - start, "floor": floor,
                            "queries": recs})

    def measure(self):
        """Pass 0, WARM_PASSES untimed passes, then the measured passes:
        ``--seconds`` / PASS_S of them.

        With ``--trace 1``: pass 0 traced, the warm-up passes untraced,
        then TRACE_PASSES measured passes in the order U T T U U T T U, so
        a JIT warm-up still going on does not bias the comparison.
        (Running each query twice back to back would not do: the second
        run of a query is often much faster than the first, traced or
        not.)"""
        a = self.args
        self.run_pass(0, bool(a.trace))
        for p in range(1, 1 + WARM_PASSES):
            self.run_pass(p, False)
        if a.trace:
            for k in range(1, TRACE_PASSES + 1):
                self.run_pass(WARM_PASSES + k, k % 4 in (2, 3))
            self.tracer.add("run", 0.0, self.clock.now())
            root = len(self.tracer.spans) - 1
            for s in self.tracer.spans[:-1]:
                if s["parent"] is None:
                    s["parent"] = root
        else:
            for k in range(1, 1 + max(1, round(a.seconds / PASS_S))):
                self.run_pass(WARM_PASSES + k, False)

    # -- results -----------------------------------------------------------
    def peak_rss_mb(self) -> tuple[float, float]:
        """Peak RSS of this Python driver and of its JVM child, MB."""
        own = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
        jvm_pid = self.sc._gateway.proc.pid
        with open(f"/proc/{jvm_pid}/status") as f:
            hwm = next(line for line in f if line.startswith("VmHWM:"))
        return own, int(hwm.split()[1]) / 1024

    def measured(self, traced: bool) -> list[dict]:
        """The measured traced or untraced passes (after the warm-up)."""
        return [p for p in self.passes[1 + WARM_PASSES:] if p["traced"] == traced]

    def later(self, traced: bool) -> list[list[dict]]:
        """Per measured traced or untraced pass, the records of its queries."""
        return [[q for q in p["queries"] if "latency" in q] for p in self.measured(traced)]

    def later_walls(self, traced: bool) -> list[float]:
        return [p["wall"] for p in self.measured(traced)]

    def latencies(self, traced: bool) -> dict[str, list[float]]:
        """Per query, its latencies over the measured traced or untraced passes."""
        runs: dict[str, list[float]] = {}
        for recs in self.later(traced):
            for q in recs:
                runs.setdefault(q["name"], []).append(q["latency"])
        return runs

    def end_to_end(self) -> tuple[dict, str]:
        """The end-to-end metrics, and the query that sets query_tail_s."""
        medians = {name: median(v) for name, v in self.latencies(False).items()}
        slowest = max(medians, key=medians.get)
        return {
            "setup_s": self.setup_s,
            "first_pass_s": self.passes[0]["wall"],
            "pass_s": median(self.later_walls(False)),
            # median over queries of each query's median over the passes
            "query_p50_s": median(list(medians.values())),
            # the slowest query's median over the passes
            "query_tail_s": medians[slowest],
        }, slowest

    def per_layer(self, rss_mb: tuple[float, float]) -> dict:
        traced = self.later(True)
        first = [q for q in self.passes[0]["queries"] if "latency" in q]

        def per_pass(key, passes=traced):
            return median([sum(q.get(key, 0.0) for q in recs) for recs in passes])

        build_s, exec_s = per_pass("build"), per_pass("exec")
        query_s, task_s = per_pass("latency"), per_pass("task_s")
        written = per_pass("written_mb")
        out = dict(self.setup_layers)
        out.update({
            "session.job_floor_s": median([p["floor"] for p in self.passes]),
            "queries.build_s": build_s,
            "queries.build_share": build_s / query_s if query_s else 0.0,
            "queries.build_jobs": per_pass("build_jobs"),
            "queries.build_jobs_first": per_pass("build_jobs", [first]),
            "spark.plan_s": per_pass("plan"),
            "spark.exec_s": exec_s,
            "spark.jobs": per_pass("jobs"),
            "spark.stages": per_pass("stages"),
        })
        out.update({f"spark.{k}": per_pass(k) for k in STAGE_FIELDS})
        out["spark.core_util"] = task_s / (exec_s * self.cores) if exec_s else 0.0
        out.update({
            "spark.fetch_rows": per_pass("rows"),
            "spark.fetch_mb": per_pass("mb"),
            "arrow.convert_s": per_pass("convert"),
            "sources.write_mb": per_pass("write_mb"),
            "sources.write_files": per_pass("write_files"),
            "sources.write_amp": per_pass("write_mb") / written if written else 0.0,
            "scratch.disk_mb": tree_usage(self.scratch_root())[0] / 1e6,
            "python.peak_rss_mb": rss_mb[0],
            "jvm.peak_rss_mb": rss_mb[1],
            "trace.overhead_s": median(self.later_walls(True)) - median(self.later_walls(False)),
        })
        return out

    def span_gaps(self) -> dict[str, float]:
        """Per query: median traced build+plan+exec+convert over the later
        traced passes / median latency over the untraced ones - 1."""
        traced, untraced = self.latencies(True), self.latencies(False)
        return {name: median(traced[name]) / median(u) - 1
                for name, u in untraced.items() if name in traced}

    def stop(self):
        """Stop Spark and wait for its JVM to exit."""
        gateway = self.sc._gateway
        proc = gateway.proc
        self.spark.stop()
        gateway.shutdown()
        proc.stdin.close()  # the JVM exits at end of input
        proc.wait(timeout=60)


def main():
    ap = argparse.ArgumentParser()
    for name in ("--workload", "--repo", "--data", "--oracle", "--result", "--trace-out"):
        ap.add_argument(name, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--spawned", type=float, required=True)
    args = ap.parse_args()

    run = Run(args)
    run.setup()
    run.measure()
    rss_mb = run.peak_rss_mb()
    result = {"attempted": run.attempted, "failures": run.failures, "rss_mb": rss_mb,
              "passes": len(run.passes), "check_s": run.clock.paused}
    if args.trace:
        result["per_layer"] = run.per_layer(rss_mb)
        result["span_gaps"] = run.span_gaps()
        result["self_s"] = run.tracer.self_times()
        with open(args.trace_out, "w") as f:
            json.dump({"spans": run.tracer.spans, "self_s": result["self_s"],
                       "passes": run.passes}, f)
    else:
        result["end_to_end"], result["tail_query"] = run.end_to_end()
    run.stop()
    with open(args.result, "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()
