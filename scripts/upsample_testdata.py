#!/usr/bin/env python
"""Build a larger-SF smoke dataset by unioning shifted copies of an
existing testdata dir (default: 4x sf0.1 -> /tmp/sf0.4up).

Fact tables (events, orders, lineitem) get their integer keys shifted
per copy so cardinalities scale like a real larger SF; each key domain
has one shift, so foreign keys keep joining within a copy; dimension tables
are copied as-is (region/nation stay fixed at every TPC-H SF anyway).
This is NOT oracle data — it exists solely to smoke the frozen
``bench.py`` at a larger scale factor (the driver's round-end
measurement may use one) and confirm the round's optimizations hold
beyond 600k-row tables.

Usage: python scripts/upsample_testdata.py [src_dir] [factor] [out_dir]
"""
from __future__ import annotations

import os
import shutil
import sys

import duckdb

SRC = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
FACTOR = int(sys.argv[2]) if len(sys.argv) > 2 else 4
OUT = sys.argv[3] if len(sys.argv) > 3 else "/tmp/sf0.4up"

# key domain -> (owning table, column). A domain's shift is max+1 of its
# owner column and is reused in every table that references the key, so
# the k-th copy of lineitem joins the k-th copy of orders, and so on.
DOMAINS = {
    "event_id": ("events", "event_id"),
    "user_id": ("events", "user_id"),
    "orderkey": ("orders", "o_orderkey"),
    "custkey": ("customer", "c_custkey"),
    "doc_id": ("documents", "doc_id"),
    "vec_id": ("embeddings", "vec_id"),
}
# per-table integer key columns -> their key domain; copy k shifts each
# by k * the domain's shift
SHIFT_COLS = {
    "events": {"event_id": "event_id", "user_id": "user_id"},
    "orders": {"o_orderkey": "orderkey", "o_custkey": "custkey"},
    "lineitem": {"l_orderkey": "orderkey"},
    "customer": {"c_custkey": "custkey"},
    "documents": {"doc_id": "doc_id"},
    "embeddings": {"vec_id": "vec_id"},
}
COPY_AS_IS = ["region", "nation", "supplier", "part"]


def main() -> None:
    os.makedirs(OUT, exist_ok=True)
    con = duckdb.connect()
    for name in COPY_AS_IS:
        src = f"{SRC}/{name}.parquet"
        if os.path.exists(src):
            shutil.copy(src, f"{OUT}/{name}.parquet")
            print(f"copied {name}")
    shifts = {}
    for domain, (owner, col) in DOMAINS.items():
        src = f"{SRC}/{owner}.parquet"
        if os.path.exists(src):
            shifts[domain] = con.sql(f"SELECT max({col}) + 1 FROM '{src}'").fetchone()[0]
    for name, cols in SHIFT_COLS.items():
        src = f"{SRC}/{name}.parquet"
        if not os.path.exists(src):
            continue
        desc = con.sql(f"DESCRIBE SELECT * FROM '{src}'").fetchall()
        all_cols = [r[0] for r in desc]
        missing = [d for d in cols.values() if shifts.get(d) is None]
        assert not missing, f"{name}: no owning table rows for key domains {missing}"
        bounds = {c: shifts[d] for c, d in cols.items()}
        for c, bound in bounds.items():
            # a NULL, negative or out-of-domain key would be duplicated or
            # collide across the shifted copies
            bad = con.sql(
                f"SELECT count(*) FROM '{src}' "
                f"WHERE {c} IS NULL OR {c} < 0 OR {c} >= {bound}"
            ).fetchone()[0]
            assert bad == 0, f"{name}.{c}: {bad} keys NULL, negative or >= {bound}"
        selects = []
        for k in range(FACTOR):
            exprs = []
            for c in all_cols:
                if c in cols:
                    exprs.append(f"{c} + {k * bounds[c]} AS {c}")
                else:
                    exprs.append(c)
            selects.append(f"SELECT {', '.join(exprs)} FROM '{src}'")
        union = " UNION ALL ".join(selects)
        con.sql(
            f"COPY ({union}) TO '{OUT}/{name}.parquet' "
            "(FORMAT PARQUET, COMPRESSION SNAPPY)"
        )
        n = con.sql(f"SELECT count(*) FROM '{OUT}/{name}.parquet'").fetchone()[0]
        print(f"upsampled {name}: {n} rows (x{FACTOR})")


if __name__ == "__main__":
    main()
