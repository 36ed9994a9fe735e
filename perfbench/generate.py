"""Seeded inputs for the benchmark, and the expected outputs an oracle
derives from them without running the code under test.

Two input sets:

- landing JSON for the medallion refresh: Open Brewery DB API-shaped
  pages (a JSON array of 200 records per file) covering all 16
  ``BREWERY_SCHEMA`` fields, with fixed rates of null key fields,
  padded / mixed-case / unknown / empty / NULL ``brewery_type``, the
  URL shapes the silver stage normalizes, a skewed ``country`` and
  realistic ``state``/``city`` cardinality;
- TPC-H-shaped parquet tables (DuckDB's built-in ``dbgen``, cast to the
  repository's testdata schema) plus a documents table with planted
  duplicates, for the query workloads.

Everything is a pure function of the seed: the same seed writes
byte-identical files. Generation runs before any timing starts.
"""

from __future__ import annotations

import json
import os
import random
import string

PAGE_SIZE = 200

# Mirrors BREWERY_SCHEMA's field order (breweries_etl_spark/schemas.py).
FIELDS = [
    "id", "name", "brewery_type", "address_1", "address_2", "address_3",
    "city", "state_province", "postal_code", "country", "longitude",
    "latitude", "phone", "website_url", "state", "street",
]
KEY_FIELDS = ["id", "brewery_type", "state", "city", "country"]
CANONICAL_TYPES = [
    "micro", "nano", "regional", "brewpub", "large",
    "planning", "bar", "contract", "proprietor", "closed",
]
UNKNOWN_TYPES = ["taproom", "cidery", "brewery"]

# (country, share of records, number of states, cities per state): one
# country holds most rows, as in the real API.
COUNTRIES = [
    ("United States", 0.70, 50, 40),
    ("Germany", 0.06, 16, 12),
    ("United Kingdom", 0.05, 4, 30),
    ("Canada", 0.04, 10, 12),
    ("Australia", 0.04, 8, 10),
    ("Ireland", 0.03, 4, 8),
    ("Poland", 0.03, 16, 6),
    ("Portugal", 0.02, 7, 5),
    ("South Korea", 0.02, 9, 5),
    ("Scotland", 0.01, 6, 6),
]
# Per-record rates of a NULL key field (each drives a quarantine row).
NULL_KEY_RATES = {"id": 0.004, "state": 0.006, "city": 0.008, "country": 0.003}


def _word(rng: random.Random, lo: int = 4, hi: int = 9) -> str:
    return "".join(rng.choices(string.ascii_lowercase, k=rng.randint(lo, hi)))


def _geography(seed: int) -> list[tuple[str, float, list[tuple[str, list[str]]]]]:
    rng = random.Random(f"geo-{seed}")
    out = []
    for country, share, n_states, n_cities in COUNTRIES:
        states = []
        for _ in range(n_states):
            state = _word(rng).capitalize()
            cities = [f"{_word(rng).capitalize()} {rng.choice(['Falls', 'City', 'Park', 'Hill', ''])}".strip()
                      for _ in range(n_cities)]
            states.append((state, cities))
        out.append((country, share, states))
    return out


def _brewery_type(rng: random.Random) -> str | None:
    r = rng.random()
    t = rng.choice(CANONICAL_TYPES)
    if r < 0.60:
        return t
    if r < 0.70:
        return f" {t.capitalize()} "  # padded, mixed case
    if r < 0.78:
        return t.upper()
    if r < 0.85:
        return "".join(c.upper() if i % 2 else c for i, c in enumerate(t))
    if r < 0.93:
        return rng.choice(UNKNOWN_TYPES)  # recodes to 'other'
    if r < 0.98:
        return ""  # not NULL: recodes to 'other'
    return None  # NULL key: quarantined


def _website(rng: random.Random, host: str) -> str | None:
    r = rng.random()
    if r < 0.15:
        return None
    if r < 0.20:
        return ""
    if r < 0.45:
        return f" www.{host}.com "  # padded, no scheme
    if r < 0.70:
        return f"https://{host}.org"
    if r < 0.80:
        return f"http://{host}.beer"
    return f"{host}.net"  # bare host


def landing_records(seed: int, n_records: int) -> list[dict]:
    """``n_records`` API-shaped brewery records, a pure function of ``seed``."""
    rng = random.Random(seed)
    geo = _geography(seed)
    weights = [share for _, share, _ in geo]
    records = []
    for i in range(n_records):
        country, _, states = rng.choices(geo, weights=weights)[0]
        # Zipf-ish: low-index states and cities hold more breweries.
        state, cities = states[min(int(rng.paretovariate(1.2)) - 1, len(states) - 1)]
        city = cities[min(int(rng.paretovariate(1.1)) - 1, len(cities) - 1)]
        host = f"{_word(rng, 3, 6)}{i}"
        street = f"{rng.randint(1, 9999)} {_word(rng).capitalize()} St"
        rec = {
            "id": f"{rng.getrandbits(128):032x}",
            "name": f"{_word(rng).capitalize()} {rng.choice(['Brewing', 'Brewery', 'Beer Co', 'Ales'])}",
            "brewery_type": _brewery_type(rng),
            "address_1": street,
            "address_2": f"Suite {rng.randint(1, 400)}" if rng.random() < 0.1 else None,
            "address_3": None,
            "city": city,
            "state_province": state,
            "postal_code": f"{rng.randint(10000, 99999)}-{rng.randint(1000, 9999)}",
            "country": country,
            "longitude": round(rng.uniform(-180, 180), 7) if rng.random() < 0.8 else None,
            "latitude": round(rng.uniform(-90, 90), 7) if rng.random() < 0.8 else None,
            "phone": "".join(rng.choices(string.digits, k=10)) if rng.random() < 0.9 else None,
            "website_url": _website(rng, host),
            "state": state,
            "street": street,
        }
        for field, rate in NULL_KEY_RATES.items():
            if rng.random() < rate:
                rec[field] = None
        records.append(rec)
    return records


def write_landing(landing_dir: str, seed: int, n_records: int) -> dict:
    """Write the landing pages; returns ``{"files", "bytes", "records"}``."""
    os.makedirs(landing_dir, exist_ok=True)
    records = landing_records(seed, n_records)
    total = 0
    n_files = 0
    for start in range(0, n_records, PAGE_SIZE):
        page = [{k: r[k] for k in FIELDS} for r in records[start:start + PAGE_SIZE]]
        data = json.dumps(page, separators=(",", ":")).encode()
        n_files += 1
        with open(os.path.join(landing_dir, f"breweries_page{n_files:05d}.json"), "wb") as fh:
            fh.write(data)
        total += len(data)
    return {"files": n_files, "bytes": total, "records": records}


def _recode_type(value: str | None) -> str:
    # Spark's trim strips spaces only; lower/upper agree with Python on ASCII.
    if value is None:
        return "unknown"
    norm = value.strip(" ").lower()
    return norm if norm in CANONICAL_TYPES else "other"


def _url(value: str | None) -> str | None:
    if value is None or value.strip(" ") == "":
        return None
    v = value.strip(" ")
    return v if v.startswith(("http://", "https://")) else "http://" + v


def expected_medallion(records: list[dict]) -> dict:
    """Plain-Python silver/quarantine/gold outcome of a full refresh."""
    valid = [r for r in records if all(r[k] is not None for k in KEY_FIELDS)]
    by_type_location: dict[tuple, int] = {}
    by_location: dict[tuple, int] = {}
    for r in valid:
        loc = (r["country"].upper(), r["state"].upper(), r["city"].upper())
        key = (_recode_type(r["brewery_type"]),) + loc
        by_type_location[key] = by_type_location.get(key, 0) + 1
        by_location[loc] = by_location.get(loc, 0) + 1
    urls = [_url(r["website_url"]) for r in valid]
    return {
        "landing_rows": len(records),
        "silver_rows": len(valid),
        "quarantine_rows": len(records) - len(valid),
        "silver_null_urls": sum(u is None for u in urls),
        "silver_https_urls": sum(u is not None and u.startswith("https://") for u in urls),
        "by_type_location": sorted([list(k) + [v] for k, v in by_type_location.items()]),
        "by_location": sorted([list(k) + [v] for k, v in by_location.items()]),
    }


# TPC-H columns kept, with the Arrow types of the repository's testdata.
TPCH_TABLES = {
    "region": {"r_regionkey": "int32", "r_name": "string"},
    "nation": {"n_nationkey": "int32", "n_name": "string", "n_regionkey": "int32"},
    "customer": {"c_custkey": "int64", "c_name": "string", "c_nationkey": "int32",
                 "c_acctbal": "float64", "c_mktsegment": "string"},
    "supplier": {"s_suppkey": "int64", "s_name": "string", "s_nationkey": "int32",
                 "s_acctbal": "float64"},
    "orders": {"o_orderkey": "int64", "o_custkey": "int64", "o_orderstatus": "string",
               "o_totalprice": "float64", "o_orderdate": "timestamp[us]",
               "o_orderpriority": "string"},
    "lineitem": {"l_orderkey": "int64", "l_partkey": "int64", "l_suppkey": "int64",
                 "l_linenumber": "int32", "l_quantity": "float64",
                 "l_extendedprice": "float64", "l_discount": "float64", "l_tax": "float64",
                 "l_returnflag": "string", "l_linestatus": "string",
                 "l_shipdate": "timestamp[us]"},
}


def _keep_order(seed: int) -> str:
    # Seeded 15/16 sample of orders (and their lineitems): another seed
    # gives another input of nearly the same size and shape.
    return f"hash(o_orderkey, {seed}) % 16 <> 0"


def _documents(seed: int, n_docs: int) -> dict[str, list]:
    rng = random.Random(f"docs-{seed}")
    vocab = [_word(rng, 3, 8) for _ in range(600)]
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if texts and r < 0.06:
            text = rng.choice(texts)  # exact duplicate
        elif texts and r < 0.14:
            words = rng.choice(texts).split(" ")
            for _ in range(rng.randint(1, 2)):  # near duplicate
                words[rng.randrange(len(words))] = rng.choice(vocab)
            text = " ".join(words)
        else:
            text = " ".join(rng.choice(vocab) for _ in range(rng.randint(12, 60)))
        texts.append(text)
    return {
        "doc_id": list(range(n_docs)),
        "text": texts,
        "lang": [rng.choice(["en", "en", "en", "de", "pt"]) for _ in range(n_docs)],
        "source": [f"src{rng.randrange(8)}" for _ in range(n_docs)],
        "n_chars": [len(t) for t in texts],
    }


def write_query_tables(out_dir: str, seed: int, sf: float, n_docs: int) -> dict:
    """TPC-H-shaped tables at scale factor ``sf`` plus ``documents``, as
    ``{out_dir}/{table}.parquet``; returns ``{"files", "bytes", "rows"}``."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    try:
        con.execute(f"CALL dbgen(sf={sf})")
        keep = _keep_order(seed)
        sources = {
            "orders": f"SELECT * FROM orders WHERE {keep}",
            "lineitem": f"SELECT l.* FROM lineitem l JOIN orders ON l_orderkey = o_orderkey WHERE {keep}",
        }
        rows = {}
        for table, cols in TPCH_TABLES.items():
            sql = sources.get(table, f"SELECT * FROM {table}")
            keys = list(cols)[:1] + (["l_linenumber"] if table == "lineitem" else [])
            arrow = con.execute(
                f"SELECT {', '.join(cols)} FROM ({sql}) ORDER BY {', '.join(keys)}"
            ).arrow()
            schema = pa.schema([(c, pa.type_for_alias(t)) for c, t in cols.items()])
            arrow = arrow.cast(schema)
            pq.write_table(arrow, os.path.join(out_dir, f"{table}.parquet"))
            rows[table] = arrow.num_rows
    finally:
        con.close()
    docs = pa.table(_documents(seed, n_docs))
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    rows["documents"] = docs.num_rows
    files = sorted(os.listdir(out_dir))
    return {
        "files": len(files),
        "bytes": sum(os.path.getsize(os.path.join(out_dir, f)) for f in files),
        "rows": rows,
    }
