"""Shuffle partitions follow the session's cores: the registry wrapper
pins ``spark.sql.shuffle.partitions`` to ``defaultParallelism``, no
registry query launches a stage wider than that, and the graph loops
narrow their persisted edge relation to the loop's own partition count.

Task counts are read from ``sc.statusTracker()`` for the jobs of one job
group. A stage whose shuffle output an earlier job already wrote shows
up in the job as skipped, with no completed task; only stages that
actually ran tasks count."""

from __future__ import annotations

from contextlib import contextmanager

import pytest

import __spark_entry__ as entry
from breweries_etl_spark.operators import graph

SHUFFLE = "spark.sql.shuffle.partitions"


@pytest.fixture
def restore_shuffle_partitions(spark):
    prev = spark.conf.get(SHUFFLE)
    yield
    spark.conf.set(SHUFFLE, prev)


def _group_jobs(sc, group: str) -> list[int]:
    return list(sc.statusTracker().getJobIdsForGroup(group))


def _widest_stage(sc, group: str) -> int:
    """Most tasks any stage ran in the jobs of ``group``."""
    tracker = sc.statusTracker()
    widest = 0
    for job_id in _group_jobs(sc, group):
        for stage_id in tracker.getJobInfo(job_id).stageIds:
            info = tracker.getStageInfo(stage_id)
            if info is not None and info.numCompletedTasks > 0:
                widest = max(widest, info.numTasks)
    return widest


@contextmanager
def _job_group(sc, group: str):
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_registry_wrapper_pins_shuffle_partitions_to_cores(
    spark, sf_dir, restore_shuffle_partitions
):
    spark.conf.set(SHUFFLE, "7")
    entry.queries()["tpch_q1"](spark, sf_dir)
    assert spark.conf.get(SHUFFLE) == str(spark.sparkContext.defaultParallelism)


@pytest.mark.parametrize("name", ["kruskal_wallis_price_flag", "graph_pagerank_top"])
def test_registry_query_stages_fit_the_cores(
    spark, sf_dir, restore_shuffle_partitions, name
):
    sc = spark.sparkContext
    spark.conf.set(SHUFFLE, "32")
    group = f"partition_sizing_{name}"
    with _job_group(sc, group):
        assert entry.queries()[name](spark, sf_dir).collect()
    assert _group_jobs(sc, group)
    assert _widest_stage(sc, group) <= sc.defaultParallelism


def test_pagerank_loop_keeps_loop_partition_count(
    spark, restore_shuffle_partitions, monkeypatch
):
    """On a session at 32 shuffle partitions the edges persist with 32;
    every stage from the loop's start on must still run at the loop
    target (4 for a small graph), and the ranks equal those computed on
    the session default (pinned to a dense power iteration in
    test_graph.py)."""
    sc = spark.sparkContext
    pairs = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 2), (2, 0), (2, 3), (3, 4)], "src long, dst long"
    )
    expected = {r["node"]: r["rank"] for r in graph.pagerank(pairs).collect()}

    spark.conf.set(SHUFFLE, "32")
    group = "partition_sizing_pagerank_loop"
    targets = []
    real = graph._loop_shuffle_partitions

    @contextmanager
    def traced(edges, n_rows):
        with real(edges, n_rows) as loop_edges:
            targets.append(int(spark.conf.get(SHUFFLE)))
            with _job_group(sc, group):
                yield loop_edges

    monkeypatch.setattr(graph, "_loop_shuffle_partitions", traced)
    got = {r["node"]: r["rank"] for r in graph.pagerank(pairs).collect()}
    assert targets == [4]
    assert _group_jobs(sc, group)
    assert _widest_stage(sc, group) <= targets[0]
    assert sc._jsc.getPersistentRDDs().size() == 0
    assert got.keys() == expected.keys()
    for v, rank in expected.items():
        assert abs(got[v] - rank) < 1e-12, (v, got[v], rank)
