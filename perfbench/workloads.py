"""Benchmark workloads: which registry queries run, on which tables."""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]
    #: Fixture tables the queries read; set-up loads these.
    tables: tuple[str, ...]
    #: Sink query -> the fixture table it writes (for sources.write_amp).
    writes: dict[str, str] = field(default_factory=dict)


#: Fixture directory under perfbench/data that every workload's inputs
#: are generated from (run.py --source swaps it for a smoke run).
SOURCE = "sf0.1"

WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            name="etl-sf0.1",
            queries=(
                "q_pricing_summary",
                "q_pivot_status",
                "q_rollup",
                "q_join3_revenue",
                "q_text_tokens",
                "q_exact_dup",
                "q_knn_cosine",
                "q_window_rank",
                "q_dedup_firstlast",
                "q_sessionize",
                "q_pipeline_spec",
                "q_proc_sql",
            ),
            tables=("nation", "customer", "orders", "lineitem", "events", "documents",
                    "embeddings"),
        ),
        Workload(
            name="write-sf0.1",
            queries=(
                "q_partitioned_write",
                "q_multi_split",
                "q_csv_roundtrip",
                "q_orc_roundtrip",
                "q_snapshot_upsert",
            ),
            tables=("orders", "lineitem"),
            writes={
                "q_partitioned_write": "orders",
                "q_multi_split": "orders",
                "q_csv_roundtrip": "orders",
                "q_orc_roundtrip": "lineitem",
                "q_snapshot_upsert": "orders",
            },
        ),
    )
}
