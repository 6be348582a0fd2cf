"""Physical-plan audit helpers.

The 100 TB design rules (SURVEY.md §4.2) are properties of the
*physical plan*, not the code that built it — so they are asserted on
plans. Used by tests/test_plan_audit.py to pin, for every headline
query, that:

- filters/projections reached the parquet scan (PushedFilters /
  ReadSchema),
- small dimensions broadcast (BroadcastHashJoin, no shuffled SMJ for
  them),
- global top-N compiles to TakeOrderedAndProject (no full sort),
- no CartesianProduct against a non-broadcast side,
- no Exchange SinglePartition feeding a window (the "global window"
  anti-pattern that serializes 100 TB through one task).
"""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout
from pathlib import Path

from pyspark.sql import DataFrame

#: Committed normalized plans, one ``<query>.txt`` per benchmarked
#: query. The registry sweep in tests/test_plan_audit.py diffs them;
#: ``python -m sas_etl_spark.plans [names...]`` rewrites them.
GOLDEN_DIR = Path(__file__).resolve().parents[2] / "plans" / "golden"


def formatted_plan(df: DataFrame) -> str:
    """df.explain('formatted') as a string."""
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def normalized_plan(df: DataFrame) -> str:
    """formatted_plan without what varies between runs of one plan:
    expression ids, plan ids, lambda-variable and ``_common_expr_``
    suffixes (JVM-wide counters), scanned file lists and paths, and
    the partition counts of exchanges (they follow core count and
    ``spark.sql.shuffle.partitions``, not the query)."""
    plan = formatted_plan(df)
    plan = re.sub(r"#\d+L?", "", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=", plan)
    plan = re.sub(r"(lambda \w+?)_\d+\b", r"\1", plan)
    plan = re.sub(r"_common_expr_\d+", "_common_expr_", plan)
    plan = re.sub(r"(Location: \w+) \[.*\]", r"\1", plan)
    plan = re.sub(r"(?:file:|/tmp/)[^\s,\]\)]*", "<path>", plan)
    # an exchange's partitioning ends in its count, then the shuffle
    # origin: "hashpartitioning(k, 8), ENSURE_REQUIREMENTS, [plan_id="
    return re.sub(r"([(\s])\d+\)(, \w+, \[plan_id=)", r"\1N)\2", plan)


def single_partition_exchanges(
    plan: str,
) -> list[tuple[str, str | None, str | None]]:
    """(exchange_id, child_operator, child_id) for every SinglePartition
    exchange in a FORMATTED plan.

    Round-6 fix: ``explain('formatted')`` prints an operator and its
    arguments in separate sections — the tree says ``Exchange (5)`` and
    the detail block says ``Arguments: SinglePartition`` — so the
    executedPlan-style literal ``"Exchange SinglePartition"`` NEVER
    occurs in formatted output and matching it was a silent no-op (it
    let a value-buffering percentile funnel ship unflagged). This
    parses the detail blocks for the partitioning and the indent tree
    for each flagged exchange's child operator, because the child
    decides whether the exchange is scale-benign (see
    assert_no_single_partition_exchange).
    """
    flagged: set[str] = set()
    # Detail blocks: "(id) Exchange\n<lines until the next (id) header>"
    for m in re.finditer(
        r"\((\d+)\) Exchange\n((?:(?!\(\d+\) ).)*)", plan, re.S
    ):
        if "Arguments: SinglePartition" in m.group(2):
            flagged.add(m.group(1))
    if not flagged:
        return []
    # Tree lines: "<branch art> OpName (id)"; a node's child is the
    # next line rendered at a deeper offset.
    tree: list[tuple[int, str, str]] = []
    for line in plan.splitlines():
        t = re.search(r"([A-Za-z][\w ]*?)\s*\((\d+)\)\s*$", line)
        if t:
            tree.append((line.index(t.group(1)), t.group(1).strip(), t.group(2)))
    out: list[tuple[str, str | None, str | None]] = []
    for i, (indent, _op, node_id) in enumerate(tree):
        if node_id in flagged:
            child_op, child_id = next(
                (
                    (op2, id2)
                    for ind2, op2, id2 in tree[i + 1 :]
                    if ind2 > indent
                ),
                (None, None),
            )
            out.append((node_id, child_op, child_id))
    return out


#: Child operators that make a SinglePartition exchange scale-benign:
#: a partial HashAggregate emits ONE constant-size row per upstream
#: task (sum/count/min/max/avg state), so the exchange moves
#: O(n_tasks) bytes no matter the data volume — the unavoidable and
#: harmless final-merge of any global aggregate. Value-buffering
#: partials (ObjectHashAggregate: exact percentile, collect_list) and
#: non-aggregate children (Sort, Window) funnel O(rows) through one
#: task and stay violations — EXCEPT the bloom-filter partials Spark's
#: own InjectRuntimeFilter inserts (see _is_bloom_merge): their state
#: is a fixed-size bit array (numBits capped by
#: spark.sql.optimizer.runtime.bloomFilter.maxNumBits), so that merge
#: also moves O(n_tasks) constant-size buffers, never O(rows).
BENIGN_SINGLE_PARTITION_CHILDREN: tuple[str, ...] = ("HashAggregate",)


def _is_bloom_merge(
    plan: str, child: str | None, child_id: str | None
) -> bool:
    """True when a SinglePartition exchange merges Spark's injected
    runtime-filter bloom aggregate: the child ObjectHashAggregate's
    detail block carries ``partial_bloom_filter_agg`` — constant-size
    state per task, a planner optimization (it PREVENTS shuffled rows
    downstream), not a data funnel.

    The child is identified by ITS OWN node id from the indent tree
    (the exchange's actual plan child), not by assuming formatted
    numbering places the partial at exchange_id - 1 — adjacency is a
    numbering accident, and relying on it would silently drop the
    exemption (false funnel report) if a plan ever numbered the
    partial non-adjacently."""
    if child != "ObjectHashAggregate" or child_id is None:
        return False
    m = re.search(
        rf"\({re.escape(child_id)}\) ObjectHashAggregate\n"
        rf"((?:(?!\(\d+\) ).)*)",
        plan,
        re.S,
    )
    return bool(m) and "partial_bloom_filter_agg" in m.group(1)


def _agg_constant_state(plan: str, agg_id: str | None) -> bool:
    """True when the HashAggregate with ``agg_id`` provably moves
    constant-or-bounded state per upstream task: every aggregate
    function is a ``partial_``/``merge_`` mode (one constant-size
    state row per task), or the aggregate has zero grouping keys (a
    global aggregate emits at most one row regardless of mode). A
    FINAL keyed aggregate emits O(groups) rows — NOT exempt here
    (ADVICE r16: the r16 Project-descend relaxation blessed any
    HashAggregate, which would also bless a high-cardinality groupBy
    feeding a global window; bounded-key cases are whitelisted at the
    query level instead)."""
    if agg_id is None:
        return False
    m = re.search(
        rf"\({re.escape(agg_id)}\) HashAggregate\n((?:(?!\(\d+\) ).)*)",
        plan,
        re.S,
    )
    if not m:
        return False
    detail = m.group(1)
    km = re.search(r"Keys \[(\d+)\]", detail)
    if km and km.group(1) == "0":
        return True
    fm = re.search(r"Functions \[\d+\]: \[(.*?)\]\n", detail, re.S)
    if not fm:
        return False
    funcs = fm.group(1)
    # every function must be a partial/merge mode; formatted output
    # prints them comma-separated as e.g. "partial_sum(x#1L)"
    return bool(funcs) and all(
        f.strip().startswith(("partial_", "merge_"))
        for f in re.split(r",(?![^()]*\))", funcs)
    )


def _descend_through_projects(
    plan: str, child: str | None, child_id: str | None
) -> tuple[str | None, str | None]:
    """Resolve a node's effective child for the funnel rule by looking
    through Project chains: a deterministic Project preserves row
    count and per-row state exactly, so Exchange->Project->X moves
    the same bytes through one task as Exchange->X (r16 — the staged
    window-operand Projects above the O(groups) aggregates in the
    mixture family are row-preserving by construction)."""
    tree: list[tuple[int, str, str]] = []
    for line in plan.splitlines():
        t = re.search(r"([A-Za-z][\w ]*?)\s*\((\d+)\)\s*$", line)
        if t:
            tree.append((line.index(t.group(1)), t.group(1).strip(), t.group(2)))
    while child == "Project" and child_id is not None:
        nxt: tuple[str | None, str | None] = (None, None)
        for i, (indent, _op, node_id) in enumerate(tree):
            if node_id == child_id:
                nxt = next(
                    (
                        (op2, id2)
                        for ind2, op2, id2 in tree[i + 1 :]
                        if ind2 > indent
                    ),
                    (None, None),
                )
                break
        child, child_id = nxt
    return child, child_id


def single_partition_funnels(
    plan: str,
) -> list[tuple[str, str | None, str | None]]:
    """SinglePartition exchanges whose child (looking through
    row-preserving Project chains) is NOT a constant-state partial
    aggregate — the ones that serialize O(rows) through one task at
    scale.

    Two tiers (ADVICE r16 tightening): a DIRECT HashAggregate child
    keeps the historical exemption (the classic two-stage global
    aggregate places the partial directly under the exchange —
    validated across every sf10 sweep since round 6), but a child
    reached THROUGH a Project chain must additionally prove
    constant/bounded state via its detail block
    (_agg_constant_state): partial/merge mode or zero grouping keys.
    A final keyed groupBy behind a Project — O(groups) rows into one
    task — flags, and bounded-cardinality cases (e.g. the mixture
    family's O(sources) window operands) are whitelisted per query
    with justification in tests/test_plan_audit.py."""
    out = []
    for node_id, child, child_id in single_partition_exchanges(plan):
        if child in BENIGN_SINGLE_PARTITION_CHILDREN:
            continue  # direct partial-merge child: historical rule
        eff_child, eff_id = _descend_through_projects(plan, child, child_id)
        descended = (eff_child, eff_id) != (child, child_id)
        if (
            descended
            and eff_child in BENIGN_SINGLE_PARTITION_CHILDREN
            and _agg_constant_state(plan, eff_id)
        ):
            continue
        if _is_bloom_merge(plan, eff_child, eff_id):
            continue
        out.append((node_id, child, child_id))
    return out


def audit(df: DataFrame, execute: bool = False) -> dict[str, object]:
    """Summarize scale-relevant plan facts.

    Pass ``execute=True`` when the query plan is adaptive (AQE wraps any
    plan with an exchange): the pre-execution formatted plan shows
    ``isFinalPlan=false`` with no ``[codegen id]`` annotations, so
    codegen facts are only observable on the executed final plan.
    """
    if execute:
        df.collect()
    plan = formatted_plan(df)
    return {
        "plan": plan,
        "broadcast_joins": plan.count("BroadcastHashJoin"),
        "sort_merge_joins": plan.count("SortMergeJoin"),
        "cartesian": "CartesianProduct" in plan,
        "take_ordered": "TakeOrderedAndProject" in plan,
        "single_partition_exchanges": len(single_partition_exchanges(plan)),
        "single_partition_funnels": len(single_partition_funnels(plan)),
        "pushed_filters": re.findall(r"PushedFilters: \[(.*?)\]", plan),
        "read_schemas": re.findall(r"ReadSchema: (\S+)", plan),
        # operators carrying "[codegen id : N]" run inside whole-stage
        # codegen; a hot-path Project without it is interpreted per-row
        "codegen_projects": len(re.findall(r"Project \[codegen id", plan)),
    }


def assert_no_cartesian(df: DataFrame, name: str = "") -> None:
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, f"{name}: CartesianProduct in plan"


def assert_no_exchange(df: DataFrame, name: str = "") -> None:
    """ZERO shuffle anywhere in the plan — the bar for bucketed
    co-located join pipelines, where the on-disk layout must carry the
    hash partitioning through join AND same-key aggregation."""
    plan = formatted_plan(df)
    assert "Exchange" not in plan, f"{name}: Exchange in plan:\n{plan}"


def assert_no_single_partition_exchange(df: DataFrame, name: str = "") -> None:
    """No SinglePartition exchange that funnels O(rows) through one
    task. Constant-state partial-aggregate merges (child =
    HashAggregate) are exempt: they move one row per upstream task —
    see BENIGN_SINGLE_PARTITION_CHILDREN. (TakeOrderedAndProject is
    also fine: it merges only k rows per partition on the driver.)"""
    plan = formatted_plan(df)
    funnels = single_partition_funnels(plan)
    assert not funnels, (
        f"{name}: SinglePartition funnel(s) {funnels} in plan:\n{plan}"
    )
