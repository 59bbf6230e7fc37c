#!/usr/bin/env python3
"""Regenerate ``perfbench/fingerprints.json`` from the DuckDB oracles.

Runs each benchmark query's registered oracle SQL (``QuerySpec.oracle``) on
the benchmark's own copy of the tables (``perfbench/data``) and stores one
fingerprint per query: row count, sorted column names and an
order-insensitive hash (see fingerprint.py).  The oracles of the iterative
graph queries take minutes, which is why the benchmark checks results
against these stored fingerprints instead of running the oracle each time.

Usage: python3 perfbench/make_fingerprints.py [QUERY ...]
With no names, every query of every workload is regenerated; with names,
only those entries are replaced.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH.parent))

import duckdb  # noqa: E402

from fingerprint import fingerprint  # noqa: E402
from workloads import DATA_DIR, FINGERPRINTS, QUERY_WORKLOADS  # noqa: E402

from aws_genaric_datapipeline_spark.queries import QUERIES  # noqa: E402
from aws_genaric_datapipeline_spark.tables import TABLES, table_path  # noqa: E402


def main(names: list[str]) -> int:
    wanted = names or sorted({q for qs in QUERY_WORKLOADS.values() for q in qs})
    stored = json.loads(FINGERPRINTS.read_text()) if FINGERPRINTS.is_file() else {}
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{table_path(str(DATA_DIR), t)}'")
    for name in wanted:
        oracle = QUERIES[name].oracle
        if oracle is None:
            print(f"{name}: no oracle registered", file=sys.stderr)
            return 1
        start = time.perf_counter()
        rel = con.sql(oracle)
        stored[name] = fingerprint(rel.fetchall(), rel.columns)
        print(f"{name}: {stored[name]['rows']} rows, {time.perf_counter() - start:.1f}s", flush=True)
    if not names:
        stored = {k: stored[k] for k in wanted}
    FINGERPRINTS.write_text(json.dumps(stored, indent=1, sort_keys=True) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
