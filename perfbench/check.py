"""Output checks. No check runs the code under test: expected outputs come
from DuckDB (``oracle_sql()`` twins, and reads of the written layers) or
from plain Python over the generated inputs.

Query results compare as ``tools/check_oracle.py`` does: column names,
canonical dtypes, row count, then order-insensitive values.
"""

from __future__ import annotations

import os
import re
import sys
from itertools import combinations

_SPARK_TYPES = {"bigint": "i64", "int": "i32", "smallint": "i32", "double": "f64",
                "float": "f32", "string": "str", "boolean": "bool", "date": "date",
                "timestamp": "ts", "timestamp_ntz": "ts"}
_DUCK_TYPES = {"BIGINT": "i64", "HUGEINT": "i128", "INTEGER": "i32", "SMALLINT": "i32",
               "DOUBLE": "f64", "FLOAT": "f32", "VARCHAR": "str", "BOOLEAN": "bool",
               "DATE": "date", "TIMESTAMP": "ts", "TIMESTAMP_NS": "ts"}


def _normalize(rows, cols):
    tools = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    from check_oracle import normalize

    return normalize(rows, cols)[1]


def expected_queries(data_dir: str, names: list[str]) -> dict[str, dict]:
    """DuckDB's answer to each query's ``oracle_sql()`` twin over the
    generated tables."""
    import duckdb

    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(data_dir)):
            table = f.removesuffix(".parquet")
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{data_dir}/{f}')")
        out = {}
        for name in names:
            if name not in oracles:
                continue
            rel = con.sql(oracles[name])
            cols = list(rel.columns)
            out[name] = {
                "cols": sorted(cols),
                "types": {c: _DUCK_TYPES.get(str(t).upper(), str(t).lower()) for c, t in zip(cols, rel.types)},
                "rows": [list(r) for r in _normalize(rel.fetchall(), cols)],
            }
        return out
    finally:
        con.close()


def compare_query(expected: dict, cols: list[str], dtypes: list[tuple[str, str]], rows) -> str | None:
    """None when Spark's result equals the oracle's, else the reason."""
    if sorted(cols) != expected["cols"]:
        return f"columns {sorted(cols)} != {expected['cols']}"
    types = {c: _SPARK_TYPES.get(t.lower(), t.lower()) for c, t in dtypes}
    if types != expected["types"]:
        return f"dtypes {types} != {expected['types']}"
    if len(rows) != len(expected["rows"]):
        return f"rowcount {len(rows)} != {len(expected['rows'])}"
    got = [list(r) for r in _normalize([tuple(r) for r in rows], cols)]
    if got != expected["rows"]:
        diff = next((a, b) for a, b in zip(got, expected["rows"]) if a != b)
        return f"values differ, first: {diff}"
    return None


def _trigrams(text: str) -> set[tuple[str, ...]]:
    words = re.sub(" +", " ", re.sub("[^a-z0-9]+", " ", text.lower())).strip().split(" ")
    return {tuple(words[i:i + 3]) for i in range(len(words) - 2)}


def compare_near_duplicates(texts: list[str], rows, threshold: float = 0.5) -> str | None:
    """MinHash candidates are approximate, so the check is: every reported
    pair carries its exact word-trigram Jaccard (6 dp) at or above the
    threshold, and every pair of identical documents is reported."""
    shingles = [_trigrams(t) for t in texts]
    seen = set()
    for id_a, id_b, jac in rows:
        a, b = sorted((id_a, id_b))
        if (a, b) in seen:
            return f"pair ({a}, {b}) reported twice"
        seen.add((a, b))
        sa, sb = shingles[a], shingles[b]
        exact = len(sa & sb) / len(sa | sb) if sa | sb else 0.0
        if exact < threshold or abs(round(exact, 6) - jac) > 1e-9:
            return f"pair ({a}, {b}) jaccard {jac} != exact {exact:.6f}"
    groups: dict[str, list[int]] = {}
    for i, t in enumerate(texts):
        if shingles[i]:
            groups.setdefault(t, []).append(i)
    missing = [p for ids in groups.values() for p in combinations(ids, 2) if p not in seen]
    if missing:
        return f"{len(missing)} identical-document pairs not reported, e.g. {missing[0]}"
    return None


def check_medallion(paths, expected: dict) -> str | None:
    """Row conservation and gold contents, read back with DuckDB."""
    import duckdb

    con = duckdb.connect()
    try:
        def one(sql: str):
            return con.execute(sql).fetchone()

        silver = f"read_parquet('{paths.silver}/**/*.parquet', hive_partitioning=true)"
        silver_rows, null_urls, https_urls = one(
            f"SELECT count(*), count(*) FILTER (website_url IS NULL), "
            f"count(*) FILTER (website_url LIKE 'https://%') FROM {silver}"
        )
        (quarantine_rows,) = one(f"SELECT count(*) FROM read_parquet('{paths.quarantine}/*.parquet')")
        got = {
            "silver_rows": silver_rows,
            "quarantine_rows": quarantine_rows,
            "silver_null_urls": null_urls,
            "silver_https_urls": https_urls,
        }
        for key, value in got.items():
            if value != expected[key]:
                return f"{key} {value} != {expected[key]}"
        if silver_rows + quarantine_rows != expected["landing_rows"]:
            return "landing rows != silver + quarantine rows"
        gold = {
            "by_type_location": "brewery_type, location, state, city",
            "by_location": "location, state, city",
        }
        for table, keys in gold.items():
            rows = sorted(con.execute(
                f"SELECT {keys}, brewery_count FROM read_parquet('{paths.gold}/{table}/*.parquet')"
            ).fetchall())
            if sum(r[-1] for r in rows) != silver_rows:
                return f"gold {table} sums to {sum(r[-1] for r in rows)}, silver has {silver_rows}"
            if [list(r) for r in rows] != expected[table]:
                return f"gold {table} differs from the plain-Python counts"
        return None
    finally:
        con.close()
