#!/usr/bin/env python
"""Benchmark: run the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print
ONE JSON line with per-query median latency.

Protocol (comparable to history/BENCH_r01-r08.json; see the round-9 correction in
SCALE.md for what it does and does not measure):
- Warm session; JVM startup and first-action warmup excluded.
- Each query's logical plan is built once and re-collected per run.
  IMPORTANT (round-9 finding): a re-collected DataFrame REUSES its
  shuffle map outputs, so warm runs re-execute only the final stage +
  result fetch — this is a RESIDENT-PLAN re-serve measurement, not a
  one-shot batch cost. At the default sf0.1 every query sits at the
  job floor either way, and the protocol is kept for round-over-round
  comparability.
- BOTH series are emitted in one invocation (round-10 rule, VERDICT
  r9 item 2): after the resident passes, COLD_RUNS cold passes build
  a FRESH plan inside the timer per sample (no shuffle reuse;
  includes Catalyst analysis, as DuckDB's per-run parse+plan does —
  the scratch/measure_cold_spark.py protocol) and land under the
  cold_* keys. SCALE.md's standing rule: decade/scale claims read
  the COLD tables only; the resident series prices re-serving and
  round-over-round drift.
- Median of BENCH_RUNS runs per query, measured in ROUND-ROBIN order
  (run pass 1 of every query, then pass 2, ...): box-level noise
  bursts (GC, background load) then land across all queries instead
  of poisoning one query's whole sample, so medians are robust.

Shuffle partitions default to 4: the sf0.1 inputs are ~16 MiB total,
so 4 post-shuffle partitions keep every partition well above the
too-small regime while AQE coalesces further when profitable. At
larger SFs set SPARK_GRAFT_SHUFFLE ~ input_bytes / 128 MiB (and at
cluster scale, ~2-3x total cores).

AQE stays ON — the engine default and the 100 TB posture. Round 5
gated it off below 1 GiB after a single A/B showed a win; wider
sampling (round 6, n=5+ per config) showed the off mode is BIMODAL
on this box (sum 0.25 s or 0.42-0.77 s, scheduler-jitter-dependent)
while AQE-on is stable (0.37-0.41 s) because coalescing tiny
post-shuffle stages to one partition removes multi-task scheduling
jitter. Benching the engine in its shipped config is also the honest
number. SPARK_GRAFT_AQE=off remains as a manual override for A/Bs.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPO_DIR = os.path.dirname(os.path.abspath(__file__))
if REPO_DIR not in sys.path:
    sys.path.insert(0, REPO_DIR)

BENCH_RUNS = 7
WARMUP_PASSES = 2
COLD_RUNS = 3  # fresh-plan passes; each sample pays full execution

#: Historical same-session job-floor band on this box, ms (rounds
#: 1-15 measured 25-44 ms; stamped per VERDICT r16 item 2). A run
#: whose measured floor exceeds 2x the band's top is flagged
#: "degraded" in floor_health and warned on stderr: its RAW warm
#: numbers are floor-dominated noise (round 16's 128.5 ms floor
#: mechanically scored 10 phantom regressions) and round-over-round
#: comparisons must read the *_norm_* series instead.
FLOOR_BAND_MS = (25.0, 44.0)

#: Per-query DuckDB medians at sf0.1, ms — BASELINE.md's re-measured
#: 2026-08-16 same-session pairing (round 15, VERDICT r14 item 4).
#: Used ONLY to emit the above-floor ratios below; update when
#: BASELINE.md is re-stamped.
DUCKDB_MS_SF01 = {
    "q_pricing_summary": 46.8,
    "q_join3_revenue": 74.9,
    "q_window_rank": 44.7,
    "q_rollup": 35.6,
    "q_text_tokens": 24.6,
    "q_sessionize": 18.5,
    "q_exact_dup": 8.1,
    "q_dedup_firstlast": 5.0,
    "q_pivot_status": 10.0,
    "q_knn_cosine": 7.2,
}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)
    shuffle = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "4"))

    from sas_etl_spark.registry import QUERIES, queries_map
    from sas_etl_spark.session import get_spark

    queries_map()
    bench_specs = {n: s for n, s in sorted(QUERIES.items()) if "bench" in s.tags}
    # Second bench group (VERDICT r8 item 4): the LLM-pipeline lane.
    # Measured in the same round-robin under the same floor control,
    # but reported under separate keys so "value" stays the headline
    # sum BASELINE.md prices (its DuckDB twins were measured on the
    # relational ten only).
    llm_specs = {
        n: s for n, s in sorted(QUERIES.items()) if "bench_llm" in s.tags
    }

    # AQE on (engine default; see module docstring for the round-6
    # bimodality data). SPARK_GRAFT_AQE=off is a manual A/B override.
    aqe = os.environ.get("SPARK_GRAFT_AQE", "on") != "off"

    spark = get_spark("sas_etl_spark-bench", shuffle_partitions=shuffle)

    # Prepare plans once; warm codegen/broadcast/IO/JIT with two passes.
    plans = {name: spec.fn(spark, sf_dir) for name, spec in bench_specs.items()}
    llm_plans = {name: spec.fn(spark, sf_dir) for name, spec in llm_specs.items()}
    # Set after plan construction: query builders call configure(),
    # which re-asserts the session default (AQE on).
    spark.conf.set("spark.sql.adaptive.enabled", str(aqe).lower())
    for _ in range(WARMUP_PASSES):
        for df in plans.values():
            df.toPandas()
        for df in llm_plans.values():
            df.toPandas()

    # Round-robin measurement: pass p runs every query once, so a
    # transient slowdown degrades one sample per query, not one
    # query's full sample. Each pass also times a trivial control job
    # (warm `spark.range(10).toPandas()`): its median, floor_ms, is
    # the box's same-session job floor. Read sum-of-medians AGAINST
    # it — the floor drifts 25-130 ms with box load (VERDICT r7:
    # an apparent +20% round-over-round "regression" was fully
    # explained by a 2-3x higher floor on the bench day), so a
    # latency delta only indicates a plan change when floor_ms is
    # comparable between the readings (protocol in SCALE.md).
    floor_df = spark.range(10)
    floor_df.toPandas()  # warm the control path too
    samples: dict[str, list[float]] = {name: [] for name in plans}
    llm_samples: dict[str, list[float]] = {name: [] for name in llm_plans}
    floor_samples: list[float] = []
    for _ in range(BENCH_RUNS):
        t0 = time.perf_counter()
        floor_df.toPandas()
        floor_samples.append(time.perf_counter() - t0)
        for name, df in plans.items():
            t0 = time.perf_counter()
            df.toPandas()
            samples[name].append(time.perf_counter() - t0)
        for name, df in llm_plans.items():
            t0 = time.perf_counter()
            df.toPandas()
            llm_samples[name].append(time.perf_counter() - t0)

    # Cold series: a FRESH plan per sample, built inside the timer —
    # no shuffle-map reuse, Catalyst analysis included (what a one-shot
    # batch run pays, and what DuckDB pays every run). Same round-robin
    # + same-session floor control as the resident series.
    cold_samples: dict[str, list[float]] = {name: [] for name in plans}
    cold_llm_samples: dict[str, list[float]] = {name: [] for name in llm_plans}
    cold_floor_samples: list[float] = []
    for _ in range(COLD_RUNS):
        t0 = time.perf_counter()
        floor_df.toPandas()
        cold_floor_samples.append(time.perf_counter() - t0)
        for name in plans:
            t0 = time.perf_counter()
            bench_specs[name].fn(spark, sf_dir).toPandas()
            cold_samples[name].append(time.perf_counter() - t0)
        for name in llm_plans:
            t0 = time.perf_counter()
            llm_specs[name].fn(spark, sf_dir).toPandas()
            cold_llm_samples[name].append(time.perf_counter() - t0)

    med = lambda d: {  # noqa: E731
        name: round(statistics.median(times), 4) for name, times in d.items()
    }
    per_query, llm_per_query = med(samples), med(llm_samples)
    cold_per_query, cold_llm_per_query = med(cold_samples), med(cold_llm_samples)

    # Floor-NORMALIZED cold series (VERDICT r11 item 6): driver and
    # builder boxes read the same tree at different background load,
    # and the per-query job floor (scheduler + Arrow fetch + Python
    # round-trip) is the part that drifts 20-130 ms with load while
    # the plan's own work does not. Subtracting the SAME-SESSION cold
    # floor from each cold median (clamped at 0) yields the series to
    # compare across boxes/rounds; the raw cold_* keys stay for
    # absolute one-shot cost.
    cold_floor = statistics.median(cold_floor_samples)
    norm = lambda d: {  # noqa: E731
        name: round(max(0.0, v - cold_floor), 4) for name, v in d.items()
    }
    cold_norm, cold_llm_norm = norm(cold_per_query), norm(cold_llm_per_query)

    total = round(sum(per_query.values()), 4)

    # Above-floor ratios (VERDICT r15 item 7): (warm_ms - floor_ms) /
    # duckdb_ms per headline query, against BASELINE.md's re-measured
    # same-session DuckDB medians. The raw 2x per-query comparison is
    # floor-vs-floor noise on the sub-25 ms DuckDB rows (BASELINE.md
    # interpretation note); subtracting the SAME-SESSION floor makes
    # the per-query regression check mechanical instead of prose.
    # Negative values mean the query sits below the measured floor
    # (pure jitter) and are kept signed. Emitted only at sf0.1, where
    # the baselines were stamped.
    floor_ms = round(statistics.median(floor_samples) * 1000, 2)
    # Floor health gate (VERDICT r16 item 2): loud, mechanical flag
    # when the warm-series floor leaves the stamped band — the JSON
    # contract line is unchanged (keys are additive), the warning goes
    # to stderr so stdout stays one parseable line.
    floor_health = "ok" if floor_ms <= 2 * FLOOR_BAND_MS[1] else "degraded"
    if floor_health == "degraded":
        print(
            f"WARNING: job floor {floor_ms} ms exceeds 2x the stamped "
            f"band {FLOOR_BAND_MS} — the box is contaminated; read the "
            "norm_* / cold_norm_* series, not the raw warm numbers",
            file=sys.stderr,
        )
    # Floor-NORMALIZED warm series (same rule as the cold_norm_* keys
    # below): the cross-box round-over-round comparison series for the
    # resident-plan numbers.
    warm_norm = {
        name: round(max(0.0, v - floor_ms / 1000), 4)
        for name, v in per_query.items()
    }
    llm_warm_norm = {
        name: round(max(0.0, v - floor_ms / 1000), 4)
        for name, v in llm_per_query.items()
    }
    above_floor = (
        {
            name: round((per_query[name] * 1000 - floor_ms) / duck_ms, 3)
            for name, duck_ms in DUCKDB_MS_SF01.items()
            if name in per_query
        }
        if abs(sf - 0.1) < 1e-9
        else {}
    )

    print(
        json.dumps(
            {
                "metric": "sum_of_median_query_latencies",
                "value": total,
                "unit": "sec",
                "queries": per_query,
                "sf": sf,
                "floor_ms": floor_ms,
                # floor-health gate + floor-subtracted warm medians
                # (VERDICT r16 item 2): the series PERF should compare
                # round-over-round when floors differ
                "floor_health": floor_health,
                "floor_band_ms": list(FLOOR_BAND_MS),
                "norm_value": round(sum(warm_norm.values()), 4),
                "norm_queries": warm_norm,
                "llm_norm_value": round(sum(llm_warm_norm.values()), 4),
                "llm_norm_queries": llm_warm_norm,
                # mechanical per-query regression gate (r16): warm
                # above-floor latency as a ratio of the re-measured
                # DuckDB medians; see DUCKDB_MS_SF01
                "above_floor_ratios": above_floor,
                "llm_queries": llm_per_query,
                "llm_value": round(sum(llm_per_query.values()), 4),
                # cold fresh-plan series (one-shot batch cost — the
                # series SCALE.md's decade claims read)
                "cold_value": round(sum(cold_per_query.values()), 4),
                "cold_queries": cold_per_query,
                "cold_llm_value": round(sum(cold_llm_per_query.values()), 4),
                "cold_llm_queries": cold_llm_per_query,
                "cold_floor_ms": round(
                    statistics.median(cold_floor_samples) * 1000, 2
                ),
                # floor-subtracted cold medians: the cross-box/round
                # comparison series (VERDICT r11 item 6)
                "cold_norm_value": round(sum(cold_norm.values()), 4),
                "cold_norm_queries": cold_norm,
                "cold_llm_norm_value": round(sum(cold_llm_norm.values()), 4),
                "cold_llm_norm_queries": cold_llm_norm,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
