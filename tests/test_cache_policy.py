"""Cache policy (sas_etl_spark/session.py docstring): per-application
state lives in ``session.app_cache`` and holds plan handles and
build-once input artifacts only. No module-level memo may grow back,
and a build that reads a value from its inputs runs that read every
time."""

from __future__ import annotations

import ast
import pathlib
import uuid

import pytest

from tests.conftest import SF_SMOKE

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "sas_etl_spark"

#: The module-level containers that are not memos: the query registry,
#: and the scratch roots, which own directories removed on an app switch.
ALLOWED = {("registry.py", "QUERIES"), ("scratch.py", "_ROOTS")}


def _is_empty_container(value: ast.expr | None) -> bool:
    if isinstance(value, ast.Dict):
        return not value.keys
    if isinstance(value, ast.Call) and isinstance(value.func, ast.Name):
        return value.func.id in ("dict", "set")
    return False


def test_no_module_level_memos():
    found = []
    for path in sorted(PACKAGE.rglob("*.py")):
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, ast.Assign):
                targets = node.targets
            elif isinstance(node, ast.AnnAssign):
                targets = [node.target]
            else:
                continue
            if not _is_empty_container(node.value):
                continue
            for target in targets:
                name = ast.unparse(target)
                rel = path.relative_to(PACKAGE).as_posix()
                if (rel, name) not in ALLOWED:
                    found.append(f"{rel}:{node.lineno} {name}")
    assert not found, (
        "module-level dict/set assignments (use session.app_cache for "
        f"per-application state): {found}"
    )


def test_guard_sees_each_memo_form():
    for src in ("_M = {}", "_M: dict[str, int] = {}", "_M = dict()", "_M = set()"):
        assert _is_empty_container(ast.parse(src).body[0].value), src
    for src in ("_M = {'a': 1}", "_M = (1, 2)", "_M = frozenset()"):
        assert not _is_empty_container(ast.parse(src).body[0].value), src


@pytest.mark.parametrize("name", ["q_knn_cosine", "q_ivf_serve"])
def test_repeat_build_still_reads_its_inputs(spark, name):
    """A repeat build of a query that reads a value from its inputs (the
    query vector; the IVF probe grid) launches that job again."""
    from sas_etl_spark.registry import QUERIES, queries_map

    queries_map()
    fn = QUERIES[name].fn
    fn(spark, SF_SMOKE)  # first build: loads tables, builds the index
    sc = spark.sparkContext
    group = f"repeat-build-{name}-{uuid.uuid4().hex}"
    sc.setJobGroup(group, name)
    try:
        fn(spark, SF_SMOKE)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group)
