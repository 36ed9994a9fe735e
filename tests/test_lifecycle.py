"""The cache/checkpoint lifecycle (``functions/lifecycle.py``): release is
exception-safe, the checkpoint directory dies with its process, every
``release=False`` path hands its caches over on ``_caches``, and the
plan assumption under the persisted bucket relation stays pinned."""

from __future__ import annotations

import os
import re
import subprocess
import sys

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from breweries_etl_spark.functions import lifecycle

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

DOCS = [
    Row(doc_id=1, text="the quick brown fox jumps over the lazy dog today"),
    Row(doc_id=2, text="The quick  brown fox jumps over the lazy dog today!"),
    Row(doc_id=3, text="the quick brown fox jumps over the lazy cat today"),
    Row(doc_id=4, text="completely unrelated content about spark query engines"),
    Row(doc_id=5, text="completely unrelated content about spark query engines"),
]


def _cache_manager_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_finish_releases_deps_when_checkpoint_raises(spark):
    spark.catalog.clearCache()
    dep = spark.range(10).persist()
    dep.count()
    result = dep.select(
        F.when(F.col("id") > 5, F.raise_error(F.lit("boom"))).otherwise(
            F.col("id")
        )
    )
    with pytest.raises(Exception, match="boom"):
        lifecycle.finish(result, [dep])
    assert _cache_manager_empty(spark)
    assert _persistent_rdds(spark) == 0


def test_finish_release_false_hands_over_expanded_caches(spark):
    spark.catalog.clearCache()
    a = spark.range(5).persist()
    b = spark.range(7).persist()
    carrier = a.filter("id > 1")
    carrier._caches = [a]
    out = lifecycle.finish(carrier.crossJoin(b), [carrier, b], release=False)
    assert out._caches == [a, b]
    assert out.count() == 3 * 7
    lifecycle.unpersist(out)
    assert _cache_manager_empty(spark)


def test_checkpoint_dir_removed_when_owning_process_exits(tmp_path):
    local = tmp_path / "local"
    probe = (
        "import os\n"
        "from breweries_etl_spark.functions import lifecycle\n"
        "from breweries_etl_spark.session import get_spark\n"
        "spark = get_spark('ckpt_dir_probe', shuffle_partitions=1)\n"
        "assert lifecycle.checkpoint(spark.range(3)).count() == 3\n"
        "d = spark.sparkContext.getCheckpointDir().removeprefix('file:')\n"
        "assert os.listdir(d), d\n"
        "print(os.path.dirname(d))\n"
    )
    env = dict(
        os.environ,
        PYTHONPATH=REPO,
        SPARK_LOCAL_DIRS=str(local),
        SPARK_GRAFT_CPUS="1",
        SPARK_GRAFT_DRIVER_MEM="512m",
    )
    out = subprocess.run(
        [sys.executable, "-c", probe],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    ckpt_root = out.stdout.strip().splitlines()[-1]
    assert os.path.dirname(ckpt_root) == str(local)
    assert not os.path.exists(ckpt_root)


def test_registry_temp_roots_removed_when_owning_process_exits(tmp_path, sf_dir):
    """pipeline_e2e stages a medallion root per call; its lazily-read gold
    frame needs the root until the process ends, and nothing after."""
    local = tmp_path / "local"
    probe = (
        "import glob, os, sys\n"
        "import __spark_entry__ as e\n"
        "from breweries_etl_spark.session import get_spark\n"
        "spark = get_spark('temp_root_probe', shuffle_partitions=1)\n"
        "q = e.queries()['pipeline_e2e']\n"
        "for _ in range(2):\n"
        "    assert q(spark, sys.argv[1]).count() > 0\n"
        "roots = glob.glob(os.path.join(os.environ['SPARK_LOCAL_DIRS'], 'medallion_e2e_*'))\n"
        "assert len(roots) == 2, roots\n"
    )
    env = dict(
        os.environ,
        PYTHONPATH=REPO,
        SPARK_LOCAL_DIRS=str(local),
        SPARK_GRAFT_CPUS="1",
        SPARK_GRAFT_DRIVER_MEM="512m",
    )
    out = subprocess.run(
        [sys.executable, "-c", probe, sf_dir],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert not list(local.glob("medallion_e2e_*"))


@pytest.mark.parametrize("name", ["ngram_jaccard_pairs", "containment_pairs"])
def test_set_group_pairs_release_false_hand_over_caches(spark, name):
    from breweries_etl_spark.operators import dedup

    spark.catalog.clearCache()
    out = getattr(dedup, name)(spark.createDataFrame(DOCS), release=False)
    # shingle projection, representative sets, group membership
    assert len(out._caches) == 3
    assert all(c.storageLevel.useMemory for c in out._caches)
    assert out.count() >= 1
    lifecycle.unpersist(out)
    assert _cache_manager_empty(spark)
    assert _persistent_rdds(spark) == 0


def test_leakage_safe_split_leaves_nothing_persisted(spark):
    from breweries_etl_spark.operators.corpus import leakage_safe_split

    spark.catalog.clearCache()
    split = leakage_safe_split(spark.createDataFrame(DOCS), test_fraction=0.5)
    assert split.count() == len(DOCS)
    assert _cache_manager_empty(spark)
    assert _persistent_rdds(spark) == 0


def test_admission_epochs_do_not_grow_persistent_rdds(spark, tmp_path):
    from breweries_etl_spark.streaming.dedup_stream import (
        neardup_admission_batch,
    )

    spark.catalog.clearCache()
    work = str(tmp_path / "work")
    counts = []
    for epoch in range(3):
        batch = spark.createDataFrame(
            [Row(doc_id=10 * epoch + r.doc_id, text=r.text) for r in DOCS]
        )
        neardup_admission_batch(spark, batch, epoch, work)
        counts.append(_persistent_rdds(spark))
    assert counts == [0, 0, 0], counts


def _plan_nodes(plan: str) -> list[tuple[int, str]]:
    """(indent, node text without its codegen-stage marker) per tree
    line of a physical-plan string."""
    nodes = []
    for line in plan.splitlines():
        text = line.lstrip(" :+-")
        if text:
            indent = len(line) - len(text)
            nodes.append((indent, re.sub(r"^\*\(\d+\) ", "", text)))
    return nodes


def _ancestors(nodes, i):
    indent = nodes[i][0]
    for j in range(i - 1, -1, -1):
        if nodes[j][0] < indent:
            indent = nodes[j][0]
            yield nodes[j][1]


def test_bucket_relation_consumers_skip_exchanges(spark):
    """The b-keyed subtotal aggregate and the within-bucket window read
    the persisted ``repartition(b)`` relation with no Exchange in
    between: the cached plan keeps its output partitioning, which the
    session pins (``canChangeCachedPlanOutputPartitioning=false``)."""
    from breweries_etl_spark.operators.hypotests import mann_whitney_u

    assert (
        spark.conf.get("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning")
        == "false"
    )
    spark.catalog.clearCache()
    df = spark.range(2000).select(
        (F.col("id") % 97).cast("double").alias("v"),
        (F.col("id") % 3 == 0).alias("g"),
    )
    res = mann_whitney_u(df, "v", F.col("g"), release=False)
    res.collect()
    final = res._jdf.queryExecution().executedPlan().executedPlan().toString()
    lifecycle.unpersist(res)
    nodes = _plan_nodes(final)
    consumers = {"aggregate": 0, "window": 0}
    for i, (_, text) in enumerate(nodes):
        # scans of the bucketed relation (the only cache with column b)
        if not re.match(r"InMemoryTableScan \[.*\bb#\d+", text):
            continue
        for anc in _ancestors(nodes, i):
            if anc.startswith("Exchange"):
                pytest.fail(f"Exchange above the bucket cache: {anc[:120]}")
            if re.match(r"HashAggregate\(keys=\[b#\d+\], functions=\[sum", anc):
                consumers["aggregate"] += 1
                break
            if anc.startswith("Window") and re.search(
                r"windowspecdefinition\(b#\d+, ", anc
            ):
                consumers["window"] += 1
                break
    assert consumers == {"aggregate": 1, "window": 1}, consumers
