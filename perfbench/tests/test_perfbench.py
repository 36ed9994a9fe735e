"""Tests for the benchmark's own code.

    python3 -m pytest perfbench/tests -q

Run from the repository root; the run-record test starts one local
Spark session.
"""

from __future__ import annotations

import filecmp
import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
REPO = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, REPO]

import generate  # noqa: E402
from check import check_medallion, compare_near_duplicates, compare_query, expected_queries  # noqa: E402
from run import _run_worker, _tally  # noqa: E402
from workloads import END_TO_END, WORKLOADS, per_layer_metrics  # noqa: E402

METRIC_NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _same_tree(a: str, b: str) -> bool:
    names = sorted(os.listdir(a))
    if names != sorted(os.listdir(b)):
        return False
    match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    return not mismatch and not errors


def test_landing_is_byte_identical_per_seed(tmp_path):
    info = [generate.write_landing(str(tmp_path / d), s, 1000) for d, s in (("a", 7), ("b", 7), ("c", 8))]
    assert info[0]["files"] == 5 and info[0]["bytes"] == info[1]["bytes"]
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    assert not _same_tree(str(tmp_path / "a"), str(tmp_path / "c"))


def test_landing_covers_schema_and_edge_cases():
    records = generate.landing_records(3, 5000)
    assert all(list(r) == generate.FIELDS for r in records)
    assert len(generate.FIELDS) == 16
    types = [r["brewery_type"] for r in records]
    assert None in types and "" in types
    assert any(t and t != t.strip() for t in types)
    assert any(t in generate.UNKNOWN_TYPES for t in types)
    urls = {r["website_url"] for r in records}
    assert None in urls and "" in urls
    assert any(u and u.startswith("https://") for u in urls)
    assert any(u and u.startswith(" ") for u in urls)
    assert any(u and "://" not in u and not u.startswith(" ") for u in urls)
    for key in generate.KEY_FIELDS:
        assert any(r[key] is None for r in records), key
    countries = [r["country"] for r in records if r["country"]]
    assert countries.count("United States") > len(countries) / 2


def test_query_tables_are_byte_identical_per_seed(tmp_path):
    a = generate.write_query_tables(str(tmp_path / "a"), 5, 0.001, 50)
    generate.write_query_tables(str(tmp_path / "b"), 5, 0.001, 50)
    generate.write_query_tables(str(tmp_path / "c"), 6, 0.001, 50)
    assert a["rows"]["lineitem"] > 0
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    assert not _same_tree(str(tmp_path / "a"), str(tmp_path / "c"))


def test_metric_names_and_benchmark_json_agree():
    layer = per_layer_metrics()
    assert 1 <= len(layer) <= 128
    for name in list(layer) + list(END_TO_END):
        assert METRIC_NAME.fullmatch(name) and len(name) <= 64, name
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [m["name"] for m in bench["per_layer"]] == list(layer)
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == layer
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)


def test_corrupted_expected_output_counts_as_failed(tmp_path):
    data = str(tmp_path / "t")
    generate.write_query_tables(data, 1, 0.001, 50)
    expected = expected_queries(data, ["tpch_q1"])["tpch_q1"]
    cols = list(expected["types"])
    dtypes = [(c, {"f64": "double", "i64": "bigint", "str": "string", "i32": "int"}[t])
              for c, t in expected["types"].items()]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(r[order.index(i)] for i in range(len(cols))) for r in expected["rows"]]
    assert compare_query(expected, cols, dtypes, rows) is None
    corrupted = json.loads(json.dumps(expected))
    corrupted["rows"][0][0] = corrupted["rows"][0][0] + "0"
    assert compare_query(corrupted, cols, dtypes, rows) is not None

    ok = {"kind": "op", "name": "tpch_q1", "pass": 0, "ok": True, "err": None}
    bad = dict(ok, ok=False, err=compare_query(corrupted, cols, dtypes, rows))
    assert _tally([ok, ok], None) == (2, 0)
    assert _tally([ok, bad], None) == (2, 1)
    assert _tally([ok], "worker timed out after 160 s") == (2, 1)


def test_hung_worker_is_killed_and_counted(tmp_path):
    """A worker past its deadline is killed with its whole process group,
    and the run goes on with one failed operation."""
    code = "import subprocess, sys, time; subprocess.Popen([sys.executable, '-c', 'import time; time.sleep(60)']); time.sleep(60)"
    log = str(tmp_path / "worker.log")
    problem = _run_worker([sys.executable, "-c", code], dict(os.environ), str(tmp_path), 1.0, log)
    assert problem and "timed out" in problem
    assert _tally([], problem) == (1, 1)


def test_medallion_check_against_plain_python(tmp_path):
    """Layers written to match the plain-Python outcome pass; a corrupted
    expectation fails."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from breweries_etl_spark.config import MedallionPaths

    records = generate.landing_records(4, 400)
    expected = generate.expected_medallion(records)
    paths = MedallionPaths(str(tmp_path))
    valid = [r for r in records if all(r[k] is not None for k in generate.KEY_FIELDS)]
    urls = [generate._url(r["website_url"]) for r in valid]
    os.makedirs(os.path.join(paths.silver, "location=ALL"))
    pq.write_table(pa.table({"website_url": urls}), os.path.join(paths.silver, "location=ALL", "p.parquet"))
    os.makedirs(paths.quarantine)
    pq.write_table(pa.table({"id": [1] * expected["quarantine_rows"]}), os.path.join(paths.quarantine, "q.parquet"))
    for table, keys in (("by_type_location", ["brewery_type", "location", "state", "city"]),
                        ("by_location", ["location", "state", "city"])):
        os.makedirs(paths.gold_table(table))
        cols = list(zip(*expected[table]))
        data = {k: list(c) for k, c in zip(keys + ["brewery_count"], cols)}
        pq.write_table(pa.table(data), os.path.join(paths.gold_table(table), "g.parquet"))
    assert check_medallion(paths, expected) is None
    corrupted = json.loads(json.dumps(expected))
    corrupted["by_location"][0][-1] += 1
    assert check_medallion(paths, corrupted) is not None
    corrupted = dict(expected, quarantine_rows=expected["quarantine_rows"] + 1)
    assert check_medallion(paths, corrupted) is not None


def test_near_duplicate_check():
    texts = ["a b c d e", "a b c d e", "a b c d x", "p q r s t"]
    assert compare_near_duplicates(texts, [(0, 1, 1.0)]) is None
    assert compare_near_duplicates(texts, [(0, 1, 1.0), (0, 2, 0.5), (1, 2, 0.5)]) is None
    assert compare_near_duplicates(texts, [(0, 1, 0.9)]) is not None  # wrong Jaccard
    assert compare_near_duplicates(texts, []) is not None  # identical pair missed
    assert compare_near_duplicates(texts, [(0, 1, 1.0), (0, 3, 0.0)]) is not None  # below threshold


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    from breweries_etl_spark.session import get_spark

    session = get_spark("perfbench-tests")
    yield session
    session.stop()


def test_run_record_job_deltas(spark):
    from runrecord import StatusStore, Tracer

    store = StatusStore(spark)
    mark = store.mark()
    df = spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count()  # lazy: runs nothing
    assert store.delta(mark).jobs == 0
    mark = store.mark()
    assert len(df.collect()) == 7
    counts = store.delta(mark)
    assert counts.jobs >= 1 and counts.tasks >= 1 and counts.exec_s >= 0
    assert store.delta(store.mark()).jobs == 0

    tracer = Tracer("t", store)
    with tracer.span("outer"):
        with tracer.span("inner"):
            spark.range(10).count()
    outer, inner = tracer.records()
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert inner["counts"]["jobs"] >= 1 and outer["counts"]["jobs"] >= inner["counts"]["jobs"]
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]
