"""Recompute the committed oracle digests of analytics_batch.

    python3 perfbench/oracle.py sf0.01 sf0.001

For each scale, generates the fixed analytics dataset and runs every query's
``oracle_sql()`` on DuckDB.  It writes the canonical result digests to
perfbench/oracle_digests.json, and the full rows of the queries whose floats
are rounded (``workloads.ROUNDED``) to perfbench/oracle_rounded.json.  The
benchmark compares each query's Spark result against these.
"""

from __future__ import annotations

import json
import os
import re
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def oracle(scale: str) -> tuple[dict[str, str], dict[str, dict]]:
    import duckdb

    from nntsc_spark.plans.queries import oracle_sql
    from perfbench import datagen
    from perfbench.workloads import (
        ANALYTICS_DATA_SEED, ANALYTICS_QUERIES, ROUNDED, canonical_digest,
    )

    sql = oracle_sql()
    os.makedirs(os.path.join(ROOT, ".bench_build"), exist_ok=True)
    with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".bench_build")) as d:
        tables = ("events", "documents", "embeddings")
        datagen.write_tables(d, ANALYTICS_DATA_SEED, scale, tables)
        con = duckdb.connect()
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")
        digests, rounded = {}, {}
        for q in ANALYTICS_QUERIES:
            rel = con.sql(sql[q])
            rows = rel.fetchall()
            if q in ROUNDED:
                rounded[q] = {"columns": rel.columns, "rows": sorted(rows, key=repr)}
            else:
                digests[q] = canonical_digest(rel.columns, rows)
        return digests, rounded


def _load(path: str) -> dict:
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return json.load(f)


def main(scales: list[str]) -> None:
    dpath = os.path.join(ROOT, "perfbench", "oracle_digests.json")
    rpath = os.path.join(ROOT, "perfbench", "oracle_rounded.json")
    digests, rounded = _load(dpath), _load(rpath)
    for s in scales:
        digests[s], rounded[s] = oracle(s)
    with open(dpath, "w") as f:
        json.dump(digests, f, indent=1, sort_keys=True)
        f.write("\n")
    # innermost lists (the columns and each result row) on one line each
    text = json.dumps(rounded, indent=1, sort_keys=True)
    text = re.sub(r"\[\s+([^\[\]]*?)\s+\]", lambda m: "[" + " ".join(m.group(1).split()) + "]", text)
    with open(rpath, "w") as f:
        f.write(text + "\n")


if __name__ == "__main__":
    main(sys.argv[1:] or ["sf0.01"])
