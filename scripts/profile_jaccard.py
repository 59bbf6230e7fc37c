#!/usr/bin/env python
"""Phase-split profile of the shared jaccard_pairs edge build (guide §1.2).

Times, at sf0.1 in one warm session (sf0.001 warmup, clearCache between
measured runs, best of N):
  sets   — materialize the persisted exploded-shingle frame (noop write)
  docs   — materialize the per-doc sorted-struct frame given warm sets
  pairs  — the full edge build end-to-end (cold caches)
for the two production shapes: trigram/0.5/hashed (the graph edge build)
and trigram/0.8/exact (dedup_jaccard_trigram).

Usage: python scripts/profile_jaccard.py [N]
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import Window  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402
from pyspark import StorageLevel  # noqa: E402

from aws_genaric_datapipeline_spark.operators import dedup as D  # noqa: E402
from aws_genaric_datapipeline_spark.session import get_spark  # noqa: E402
from aws_genaric_datapipeline_spark.tables import table_path  # noqa: E402

N = int(sys.argv[1]) if len(sys.argv) > 1 else 3
spark = get_spark()


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def docs_frame(sets, threshold):
    return (
        sets.withColumn("tok_df", F.count(F.lit(1)).over(Window.partitionBy("tok")))
        .groupBy("did")
        .agg(F.array_sort(F.collect_list(F.struct("tok_df", "tok"))).alias("arr"))
        .select(
            "did",
            F.size("arr").alias("sz"),
            F.transform("arr", lambda s: s["tok"]).alias("toks"),
            "arr",
        )
    )


def phases(sf_dir, n, threshold, hash_tokens):
    docs_src = spark.read.parquet(table_path(sf_dir, "documents"))
    out = {}
    # phase: sets
    spark.catalog.clearCache()
    t0 = time.monotonic()
    sets = D._token_sets(docs_src, "doc_id", "text", n)
    if hash_tokens:
        sets = sets.select("did", F.xxhash64("tok").alias("tok"))
    sets = sets.persist(StorageLevel.MEMORY_AND_DISK)
    noop(sets)
    out["sets"] = time.monotonic() - t0
    # phase: docs (warm sets)
    t0 = time.monotonic()
    docs = docs_frame(sets, threshold).persist(StorageLevel.MEMORY_AND_DISK)
    noop(docs)
    out["docs"] = time.monotonic() - t0
    # phase: prefix join + verify (warm sets+docs)
    t0 = time.monotonic()
    noop(
        D.jaccard_pairs(
            docs_src, n=n, threshold=threshold, hash_tokens=hash_tokens
        )
    )
    out["warm_full"] = time.monotonic() - t0
    sets.unpersist()
    docs.unpersist()
    # phase: cold end-to-end
    spark.catalog.clearCache()
    t0 = time.monotonic()
    noop(
        D.jaccard_pairs(
            docs_src, n=n, threshold=threshold, hash_tokens=hash_tokens
        )
    )
    out["cold_full"] = time.monotonic() - t0
    return out


SHAPES = [
    ("edge_t05_hashed", 3, 0.5, True),
    ("trigram_t08_exact", 3, 0.8, False),
]

# warmup at sf0.001
for _, n, t, h in SHAPES:
    phases("/root/testdata/sf0.001", n, t, h)

best = {}
for name, n, t, h in SHAPES:
    runs = [phases("/root/testdata/sf0.1", n, t, h) for _ in range(N)]
    best[name] = {
        k: round(min(r[k] for r in runs), 3) for k in runs[0]
    }
    best[name]["runs"] = [
        {k: round(v, 3) for k, v in r.items()} for r in runs
    ]

print(json.dumps(best, indent=2))
Path("/tmp/profile_jaccard.json").write_text(json.dumps(best))
