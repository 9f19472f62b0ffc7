"""The driver-side iteration primitive (iteration.iterate): Spark job counts
of the loops that run on it, and a guard against hand-rolled loops. Next to
it, the same guard for the one stream drain (streaming.jobs.drain)."""

from __future__ import annotations

import ast
import pathlib

import pytest

from streamline_hybrid_engine_spark import catalog
from streamline_hybrid_engine_spark.registry import all_queries

_QS = all_queries()

#: Spark jobs per collected query, tables already loaded. The counts are
#: the same at local[4] and local[8]: every loop round, probe and AQE
#: query stage is one job whatever the core count, and the fixture data
#: gives every loop the same number of rounds on both.
LOOP_JOBS = {
    "graph_connected_components": 5,
    "graph_pagerank_suppliers": 17,
    "graph_sssp_hops": 24,
    "graph_kcore": 10,
    "graph_label_propagation": 15,
    "graph_triangle_count": 12,
    "llm_bpe_train_merges": 15,
    "llm_kmeans_lloyd": 20,
}


@pytest.mark.parametrize("qid", sorted(LOOP_JOBS))
def test_loop_job_count(spark, sf_dir, qid):
    """Pin the job count of each loop query. A table's first load runs a
    schema-inference job, so every table is loaded before the count."""
    catalog.load_tables(spark, sf_dir)
    sc = spark.sparkContext
    group = f"loop-jobs-{qid}"
    sc.setJobGroup(group, group)
    try:
        _QS[qid].fn(spark, sf_dir).collect()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the tracker is fed async
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == LOOP_JOBS[qid]


def test_iterate_until_settled_and_release(spark):
    """``until`` stops the loop at the first round that changed nothing,
    the flag says whether it did, and ``release`` is unpersisted."""
    import pyspark.sql.functions as F
    from pyspark import StorageLevel

    from streamline_hybrid_engine_spark.iteration import iterate

    def climb(df):  # x rises by 1 per round up to 3; `moved` marks changes
        x = F.least(F.col("x") + 1, F.lit(3))
        return df.select(x.alias("x"), (x != F.col("x")).alias("moved"))

    def moved(df):
        return df.filter(F.col("moved"))

    start = spark.range(4).select(F.col("id").alias("x"))
    out, settled = iterate(climb, start, 2)
    assert not settled and sorted(r.x for r in out.collect()) == [2, 3, 3, 3]
    out, settled = iterate(climb, start, 2, until=moved)
    assert not settled
    cache = start.persist()
    cache.count()
    out, settled = iterate(climb, cache, 10, until=moved, release=cache)
    assert settled and sorted(r.x for r in out.collect()) == [3, 3, 3, 3]
    assert cache.storageLevel == StorageLevel.NONE


PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "streamline_hybrid_engine_spark"

#: (module, function) pairs allowed a localCheckpoint inside a loop body.
ALLOWED_IN_LOOP = {
    # the kNN ring loop checkpoints each ring's ranked candidates, which
    # three consumers read; its move onto iterate is a ROADMAP open item
    ("operators/joins.py", "grid_knn_join"),
    # the exactly-once replay pins each epoch's rows before the overwrite
    # deletes their files: safety code, not a round of an iteration
    ("streaming/jobs.py", "stream_sink_exactly_once"),
}

_LOOPS = (ast.For, ast.AsyncFor, ast.While)
_COMPREHENSIONS = (ast.ListComp, ast.SetComp, ast.DictComp, ast.GeneratorExp)


def _checkpoints_in_loops(tree: ast.AST) -> list[tuple[str, int]]:
    """(enclosing function, line) of every ``localCheckpoint`` call inside
    a loop or comprehension body. A nested function body is not a loop
    body, whatever calls it."""
    found = []

    def visit(node: ast.AST, func: str, in_loop: bool) -> None:
        for child in ast.iter_child_nodes(node):
            f, loop = func, in_loop
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                f, loop = child.name, False
            elif isinstance(node, _LOOPS) and (
                child in node.body or child in node.orelse
            ):
                loop = True
            elif isinstance(node, _COMPREHENSIONS):
                loop = True
            if (
                loop
                and isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr == "localCheckpoint"
            ):
                found.append((f, child.lineno))
            visit(child, f, loop)

    visit(tree, "<module>", False)
    return found


def test_no_hand_rolled_checkpoint_loops():
    """Every per-round checkpoint goes through iteration.iterate, the one
    place the loop rules live; only the allowed sites keep their own."""
    sites = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        if rel == "iteration.py":
            continue
        for func, line in _checkpoints_in_loops(ast.parse(path.read_text())):
            sites.setdefault((rel, func), []).append(line)
    stray = {k: v for k, v in sites.items() if k not in ALLOWED_IN_LOOP}
    assert not stray, f"run these loops on iteration.iterate: {stray}"
    assert set(sites) == ALLOWED_IN_LOOP  # drop an entry once its loop moves


#: (module, function) pairs allowed a ``writeStream`` besides the drain.
ALLOWED_WRITE_STREAM = {
    ("streaming/jobs.py", "drain"),
    # returns an unbounded running query to its caller: not a drain
    ("sources/kafka.py", "write_stream_kafka"),
    # a simple Python stream reader prefetches one batch per trigger, so
    # availableNow would stop after the first batch; this drain keeps its
    # own processingTime loop until the bounded source is exhausted
    ("sources/pydatasource.py", "stream_python_datasource"),
}


def _write_stream_functions(tree: ast.AST) -> set[str]:
    """Innermost enclosing function of every ``.writeStream``."""
    found = set()

    def visit(node: ast.AST, func: str) -> None:
        for child in ast.iter_child_nodes(node):
            f = func
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                f = child.name
            elif isinstance(child, ast.Attribute) and child.attr == "writeStream":
                found.add(f)
            visit(child, f)

    visit(tree, "<module>")
    return found


def test_every_stream_runs_through_the_drain():
    """Every bounded stream starts in streaming.jobs.drain, the one place
    the drain's pin, checkpoint and trigger live; only the allowed sites
    start their own."""
    sites = {
        (path.relative_to(PACKAGE).as_posix(), func)
        for path in sorted(PACKAGE.rglob("*.py"))
        for func in _write_stream_functions(ast.parse(path.read_text()))
    }
    assert sites == ALLOWED_WRITE_STREAM
