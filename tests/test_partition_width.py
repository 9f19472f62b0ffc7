"""The package's one partition-count rule (catalog.partition_width): answers
that do not depend on the width it picks, and a guard against partition
counts chosen anywhere else."""

from __future__ import annotations

import ast
import pathlib
import sys

import pytest

from streamline_hybrid_engine_spark import catalog
from streamline_hybrid_engine_spark.operators import graph
from streamline_hybrid_engine_spark.registry import all_queries
from streamline_hybrid_engine_spark.session import pinned_confs

_QS = all_queries()

#: One id per width consumer: stateful drains (complete mode, the
#: stream-static join, applyInPandasWithState), the CC link loop, the keyed
#: applyInPandas repartition and the compute fan-out of a parallel load.
WIDTH_CONSUMERS = (
    "stream_tumble_1h",
    "stream_static_enrich",
    "stream_user_session_state",
    "llm_dedup_clusters",
    "cep_pattern_abc",
    "llm_pii_redact",
)

#: The CC link loop runs only when a component crosses partitions of the
#: loop's input. At the fixture size that happens for the dedup candidate
#: pairs with AQE partition coalescing off, and for no id with it on.
LINK_LOOP_CONFS = {"spark.sql.adaptive.coalescePartitions.enabled": "false"}


@pytest.mark.parametrize("qid", WIDTH_CONSUMERS)
def test_answers_do_not_depend_on_width(spark, sf_dir, monkeypatch, qid):
    """Width 1 and width = cores give the same sorted rows. Only the
    width changes here, not the core count: a second core count needs a
    second JVM, which one test session cannot start."""
    cores = spark.sparkContext.defaultParallelism
    confs = LINK_LOOP_CONFS if qid == "llm_dedup_clusters" else {}
    link_calls = []
    link_labels = graph._link_labels
    monkeypatch.setattr(
        graph, "_link_labels", lambda *a: link_calls.append(1) or link_labels(*a)
    )
    rule = catalog.partition_width
    users = [
        m
        for name, m in list(sys.modules.items())
        if name.startswith("streamline_hybrid_engine_spark")
        and getattr(m, "partition_width", None) is rule
    ]
    answers, looped = [], []
    for width in (1, cores):
        for m in users:
            monkeypatch.setattr(m, "partition_width", lambda *_a, w=width, **_k: w)
        n_calls = len(link_calls)
        with pinned_confs(spark, confs):
            answers.append(sorted(map(tuple, _QS[qid].fn(spark, sf_dir).collect())))
        looped.append(len(link_calls) > n_calls)
    assert answers[0] == answers[1] and answers[0], qid
    if confs:
        assert looped == [True, True], "the CC link loop did not run at each width"


PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "streamline_hybrid_engine_spark"
SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"

#: (module, function) pairs allowed a ``repartition`` to a fixed count,
#: each for a count the demo itself is about, not a parallelism choice.
ALLOWED_FIXED_REPARTITION = {
    # AQE splits a skewed reduce partition along map-output blocks, so the
    # skew demo needs 8 map outputs to have something to split
    ("operators/joins.py", "join_aqe_skew_split"),
    # the rate-limited backfill stages 8 files to drain one per trigger
    ("streaming/jobs.py", "stream_rate_limited_backfill"),
    # the compaction demo writes many small files to compact
    ("sources/io.py", "lake_compact_small_files"),
}


def _width_sites(tree: ast.Module) -> dict[str, list[tuple[str, int]]]:
    """(enclosing function, line) of each partition-count choice, by kind."""
    int_names = {
        t.id
        for node in tree.body
        if isinstance(node, ast.Assign)
        and isinstance(node.value, ast.Constant)
        and type(node.value.value) is int
        for t in node.targets
        if isinstance(t, ast.Name)
    }
    sites: dict[str, list[tuple[str, int]]] = {
        "defaultParallelism": [],
        SHUFFLE_PARTITIONS: [],
        "fixed repartition": [],
        "calls partition_width": [],
    }

    def visit(node: ast.AST, func: str) -> None:
        for child in ast.iter_child_nodes(node):
            f = child.name if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)) else func
            if isinstance(child, ast.Attribute) and child.attr == "defaultParallelism":
                sites["defaultParallelism"].append((f, child.lineno))
            elif isinstance(child, ast.Constant) and child.value == SHUFFLE_PARTITIONS:
                sites[SHUFFLE_PARTITIONS].append((f, child.lineno))
            elif isinstance(child, ast.Call):
                callee = child.func
                if isinstance(callee, ast.Name) and callee.id == "partition_width":
                    sites["calls partition_width"].append((f, child.lineno))
                if (
                    isinstance(callee, ast.Attribute)
                    and callee.attr == "repartition"
                    and child.args
                    and (
                        (
                            isinstance(child.args[0], ast.Constant)
                            and type(child.args[0].value) is int
                        )
                        or (isinstance(child.args[0], ast.Name) and child.args[0].id in int_names)
                    )
                ):
                    sites["fixed repartition"].append((f, child.lineno))
            visit(child, f)

    visit(tree, "<module>")
    return sites


def test_partition_counts_come_from_the_width_rule():
    """Only session.py (the session's own width) and the width rule read
    the core count; every shuffle-partitions pin is sized by the width
    rule in the same function; no repartition to a fixed count outside
    the allowed demos."""
    stray: dict[str, list] = {}
    fixed = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        if rel == "session.py":
            continue
        sites = _width_sites(ast.parse(path.read_text()))
        sized_funcs = {f for f, _ in sites["calls partition_width"]}
        for f, line in sites["defaultParallelism"]:
            if (rel, f) != ("catalog.py", "partition_width"):
                stray.setdefault("defaultParallelism", []).append((rel, f, line))
        for f, line in sites[SHUFFLE_PARTITIONS]:
            if f not in sized_funcs:
                stray.setdefault(SHUFFLE_PARTITIONS, []).append((rel, f, line))
        for f, line in sites["fixed repartition"]:
            fixed.setdefault((rel, f), []).append(line)
    stray_fixed = {k: v for k, v in fixed.items() if k not in ALLOWED_FIXED_REPARTITION}
    assert not stray, f"size these through catalog.partition_width: {stray}"
    assert not stray_fixed, f"size these through catalog.partition_width: {stray_fixed}"
    assert set(fixed) == ALLOWED_FIXED_REPARTITION  # drop an entry once its site goes
