"""Dump .explain("formatted") for named bench queries WITHOUT the
release-path checkpoint masking the shape (r12 precedent: pre-release
plans) — the committed before/after plan evidence for optimization
rounds.

Monkey-patches the one checkpoint sink (``lifecycle.checkpoint``) to
identity INSIDE THIS TOOL ONLY, so the dumped plan is the full
pre-materialization query tree. ``lifecycle.finish`` still unpersists
its deps, so the relations a release-path operator cached show as their
source subtrees rather than as InMemoryRelation scans. The shipped code
paths are untouched.

Usage: python tools/dump_plan_r13.py out_dir suffix q1 [q2 ...]
Writes out_dir/<q>_<suffix>.txt
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from breweries_etl_spark.functions import lifecycle
from breweries_etl_spark.session import get_spark


def main() -> None:
    out_dir, suffix, *names = sys.argv[1:]
    os.makedirs(out_dir, exist_ok=True)
    # identity-patch the materialization sink so explain shows the tree
    lifecycle.checkpoint = lambda df: df
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("dump_plan")
    qs = entrymod.queries()
    for name in names:
        buf = io.StringIO()
        with redirect_stdout(buf):
            qs[name](spark, sf_dir).explain("formatted")
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(buf.getvalue())
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
