"""Deduplication operators: exact, content-hash, n-gram Jaccard, MinHash-LSH,
SimHash.

Scale design: every path is expressed as groupBy/join on derived keys so
Spark shuffles only keys+ids, never document text, past the first
projection.  The near-dup paths follow the standard two-stage shape:

  candidate generation (banded signatures → equi-join on bucket key)
  → verification (exact Jaccard on the candidate pairs only)

which is how near-dedup stays ~O(N·bands) instead of O(N²) at 100 TB.
Shingling is a JVM regexp (text.word_ngram_set), hashing is xxhash64 (JVM),
set ops are higher-order array functions.  Only winnow_near_pairs starts a
Python worker: its rolling-hash kernel (text.winnow_fingerprints_udf) has
no efficient built-in form.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from aws_genaric_datapipeline_spark.operators.partitioning import ensure_parallelism
from aws_genaric_datapipeline_spark.operators.text import (
    fingerprint,
    tokens,
    word_ngram_set,
)


# Frames persisted by the previous jaccard_pairs call, released on the next
# call (see jaccard_pairs) so long-lived sessions don't accumulate cache.
_JACCARD_LIVE: list = []


# ---------------------------------------------------------------- exact dedup
def dedup_by_fingerprint(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Keep the lowest-id document per normalized-content fingerprint.

    One shuffle on the 128-bit fingerprint; survivor choice is deterministic
    (min id), so re-runs are idempotent.  No repartition guard here: md5 of
    a short text is cheaper than shuffling the text, even from one input
    split (measured at sf0.1).
    """
    fp = fingerprint(F.col(text_col)).alias("fp")
    return (
        df.select(fp, F.col(id_col))
        .groupBy("fp")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("dup_count"))
    )


def dedup_incremental(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Dedup an incoming batch against the already-ingested corpus.

    The per-batch shape of fingerprint dedup: survivors = new docs whose
    normalized-content fingerprint is absent from the corpus, then min-id
    dedup WITHIN the batch.  Returns (fp, id, dup_count) for survivors.

    Scale: only 128-bit fingerprints + ids shuffle — but with both sides
    as raw frames the anti join still shuffles the corpus fingerprints
    (Spark only broadcasts the right side of left_anti, and corpus-as-
    right relies on AQE to pick a cheap plan).  The 100 TB form is
    write_fingerprint_index + dedup_incremental_indexed below: the corpus
    fp projection is persisted BUCKETED BY fp at ingest, the batch
    anti-joins co-located, and the corpus side never re-shuffles
    (plan-gated in tests/test_plans.py::TestFingerprintIndex).  This
    frame-to-frame variant remains for one-shot/oracle use.
    """
    fp = fingerprint(F.col(text_col)).alias("fp")
    seen = corpus_df.select(fp).dropDuplicates()
    return (
        new_df.select(fp, F.col(id_col))
        .join(seen, "fp", "left_anti")
        .groupBy("fp")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("dup_count"))
    )


def write_fingerprint_index(
    corpus_df: DataFrame,
    table: str,
    text_col: str = "text",
    num_buckets: int = 8,
    mode: str = "overwrite",
) -> None:
    """Persist the corpus's distinct content fingerprints as a catalog
    table BUCKETED BY fp — the dedup index dedup_incremental_indexed joins
    against.

    This is the scale-safe half of incremental dedup: the one shuffle of
    corpus fingerprints (distinct + bucketed write) is paid ONCE at ingest;
    every later batch anti-joins co-located against the bucket layout, so
    the 100 TB corpus side never re-shuffles (plan-gated in
    tests/test_plans.py::TestFingerprintIndex).  After promoting a batch,
    append its surviving fingerprints with ``mode="append"`` — bucket
    metadata lives in the metastore and appended files land in their fp
    bucket, keeping the index join-ready without a rebuild.
    """
    from aws_genaric_datapipeline_spark.operators.bucketing import write_bucketed

    fps = corpus_df.select(fingerprint(F.col(text_col)).alias("fp")).dropDuplicates()
    write_bucketed(fps, table, ["fp"], num_buckets, mode=mode)


def dedup_incremental_indexed(
    spark,
    new_df: DataFrame,
    index_table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """dedup_incremental against a persisted bucketed fingerprint index
    (write_fingerprint_index) instead of the raw corpus frame.

    Same output contract as dedup_incremental — (fp, id, dup_count) for
    batch survivors — but the anti join is CO-LOCATED with the index's
    bucket layout: only the (small) batch side shuffles into the bucket
    partitioning; the corpus side reads its buckets with zero Exchange,
    independent of corpus size.  The post-join groupBy("fp") reuses the
    join's fp partitioning, so the whole query is one batch-sized shuffle.
    This is the form dedup_incremental's docstring promises at 100 TB,
    made concrete instead of relying on AQE to broadcast the batch.
    """
    seen = spark.table(index_table)
    fp = fingerprint(F.col(text_col)).alias("fp")
    return (
        new_df.select(fp, F.col(id_col))
        .join(seen, "fp", "left_anti")
        .groupBy("fp")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("dup_count"))
    )


def contamination_overlap(
    corpus_df: DataFrame,
    benchmark_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Benchmark decontamination: per corpus document, how many of its
    distinct word n-grams also occur anywhere in the benchmark set.

    The standard training-data hygiene pass (eval-set leakage detection):
    docs whose n-grams collide with a held-out benchmark are flagged for
    removal before training.  Returns only contaminated docs:
    (id, n_contaminated, n_grams, contamination_ratio).

    Scale: the benchmark n-gram set is tiny next to the corpus (eval sets
    are thousands of docs), so it is broadcast — the corpus side streams
    map-side through a broadcast left join with no shuffle of corpus text;
    the only corpus shuffle carries (id, gram-hit) pairs for the per-doc
    counts.
    At 100 TB, hash grams to xxhash64 before the join so the broadcast
    table and shuffle rows carry 8-byte keys instead of strings.
    """
    corpus_sets = _token_sets(corpus_df, id_col, text_col, n)
    bench_grams = (
        _token_sets(benchmark_df, id_col, text_col, n)
        .select("tok")
        .dropDuplicates()
        .withColumn("hit", F.lit(1))
    )
    # Single pass: one shingle scan of the corpus, broadcast LEFT join marks
    # benchmark grams map-side, and one per-doc aggregation counts totals and
    # hits together.  (The earlier totals⋈hits form shingled the corpus
    # twice and paid an extra join — 2.4x slower at sf0.1.)
    return (
        corpus_sets.join(F.broadcast(bench_grams), "tok", "left")
        .groupBy("did")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count("hit").alias("n_contaminated"),
        )
        .where(F.col("n_contaminated") > 0)
        .select(
            F.col("did").alias(id_col),
            "n_contaminated",
            "n_grams",
            F.round(
                F.col("n_contaminated") / F.col("n_grams").cast("double"), 4
            ).alias("contamination_ratio"),
        )
    )


def bloom_decontaminate(
    corpus_df: DataFrame,
    benchmark_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_bits: int = 1 << 20,
    num_hashes: int = 2,
) -> DataFrame:
    """contamination_overlap's 100 TB form: the benchmark n-gram set is
    compressed into a Bloom-filter bitset so the broadcast payload is
    ``num_bits/8`` bytes — CONSTANT in benchmark size — instead of the full
    gram-string table, and corpus membership tests are pure JVM bit
    arithmetic instead of a hash join.

    Build: every distinct benchmark n-gram sets ``num_hashes`` bit
    positions derived from consecutive 8-hex-digit windows of md5(gram)
    (engine-portable — the DuckDB oracle replays the identical positions).
    Probe: each distinct corpus (doc, gram) recomputes its positions and is
    flagged iff ALL are set — true Bloom semantics, so false positives at
    the expected (1 - e^(-kn/m))^k rate are part of the CONTRACT, not a
    bug; the oracle replays them bit-for-bit via a semi-join on the
    distinct inserted positions.

    Storage is SPARSE: testing a bit of the OR-folded bitset is identical
    to membership of the position in the distinct-position set, so the
    filter broadcasts as a long column (≤ 8·min(k·|grams|, num_bits)
    bytes) and each probe is a codegen'd broadcast hash join on an 8-byte
    key.  A dense array<long> bitset is 64× smaller at saturation but
    DataFrame rows can only reach it by attaching the whole array to every
    probe row — Spark's UnsafeRow join output COPIES it per gram (measured
    10× slower at sf0.1) — so dense packing belongs to a JVM broadcast
    variable, not a PySpark plan; the sparse form keeps the same
    flagged-set and the executor-memory cap.

    Returns flagged docs only: (id, n_flagged, n_grams, flagged_ratio).
    Like contamination_overlap this is a screening pass — at 100 TB run the
    Bloom screen first (position keys only, no benchmark gram strings on
    executors), then exact-verify the tiny flagged slice with
    contamination_overlap.

    ``num_hashes`` ≤ 4 (md5 yields four disjoint 8-hex windows).
    """
    bench_pos = _bloom_position_set(
        benchmark_df, id_col, text_col, n, num_bits, num_hashes
    )
    return _bloom_probe(
        corpus_df, bench_pos, id_col, text_col, n, num_bits, num_hashes
    )


def _bloom_positions(tok: Column, num_bits: int, num_hashes: int) -> list[Column]:
    """The num_hashes md5-window bit positions of one gram (engine-portable)."""
    if not 1 <= num_hashes <= 4:
        raise ValueError("num_hashes must be in 1..4 (md5 has 4 hex windows)")
    return [
        F.conv(F.substring(F.md5(tok), 1 + 8 * j, 8), 16, 10).cast("bigint")
        % num_bits
        for j in range(num_hashes)
    ]


def _bloom_position_set(
    benchmark_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    num_bits: int,
    num_hashes: int,
) -> DataFrame:
    """Distinct inserted bit positions (column ``p``) — the sparse bitset."""
    pos = _bloom_positions(F.col("tok"), num_bits, num_hashes)
    return (
        _token_sets(benchmark_df, id_col, text_col, n)
        .select(F.explode(F.array(*pos)).alias("p"))
        .dropDuplicates()
    )


def bloom_build_index(
    benchmark_df: DataFrame,
    table: str,
    text_col: str = "text",
    n: int = 3,
    num_bits: int = 1 << 20,
    num_hashes: int = 2,
    mode: str = "overwrite",
) -> None:
    """Persist the benchmark's Bloom position set as a catalog table — the
    decontamination analog of write_fingerprint_index: hash the benchmark
    ONCE at eval-set registration, then screen every ingest batch against
    the stored positions without re-shingling benchmark text.

    The table is a single long column (``p``), ≤ min(k·|grams|, num_bits)
    rows — broadcast-sized by construction, so no bucketing: every batch
    screen reads it whole and broadcasts.  New benchmark releases append
    their positions with ``mode="append"`` (the position set is a union —
    Bloom filters OR together); num_bits/num_hashes must match across
    appends, which callers pin the same way the MinHash index pins its
    band parameters."""
    from aws_genaric_datapipeline_spark.operators.bucketing import (
        recover_orphan_location,
    )

    pos = _bloom_position_set(
        benchmark_df, "doc_id", text_col, n, num_bits, num_hashes
    )
    recover_orphan_location(pos.sparkSession, table, mode)
    pos.coalesce(1).write.format("parquet").mode(mode).saveAsTable(table)


def bloom_screen_indexed(
    spark,
    batch_df: DataFrame,
    index_table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_bits: int = 1 << 20,
    num_hashes: int = 2,
) -> DataFrame:
    """bloom_decontaminate against a persisted position index
    (bloom_build_index) — the per-batch ingest hygiene form: the benchmark
    side costs one tiny table read instead of a shingle+hash pass, and the
    batch side is the same broadcast-probe plan (zero batch-side Exchange
    before the per-doc count aggregation)."""
    return _bloom_probe(
        batch_df, spark.table(index_table), id_col, text_col, n, num_bits, num_hashes
    )


def _bloom_probe(
    corpus_df: DataFrame,
    bench_pos: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    num_bits: int,
    num_hashes: int,
) -> DataFrame:
    pos = _bloom_positions(F.col("tok"), num_bits, num_hashes)
    # Position sets must be DISTINCT here, not just at build time: append-mode
    # index maintenance (bloom_build_index mode="append") unions new benchmark
    # releases without deduplicating against existing rows — Bloom bitsets OR
    # together so duplicates are semantically harmless, but a duplicated p key
    # would multiply probe rows through the per-hash left joins below and
    # inflate n_grams/n_flagged for every doc touching it.  The set is
    # broadcast-sized by construction, so the dedup is a few ms.
    bench_pos = bench_pos.select("p").dropDuplicates()
    probe = _token_sets(corpus_df, id_col, text_col, n).select(
        "did",
        *[p.alias(f"p{j}") for j, p in enumerate(pos)],
    )
    member = None
    for j in range(num_hashes):
        probe = probe.join(
            F.broadcast(
                bench_pos.select(
                    F.col("p").alias(f"p{j}"), F.lit(1).alias(f"hit{j}")
                )
            ),
            f"p{j}",
            "left",
        )
        hit = F.col(f"hit{j}").isNotNull()
        member = hit if member is None else (member & hit)
    return (
        probe.groupBy("did")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count_if(member).alias("n_flagged"),
        )
        .where(F.col("n_flagged") > 0)
        .select(
            F.col("did").alias(id_col),
            "n_flagged",
            "n_grams",
            F.round(
                F.col("n_flagged") / F.col("n_grams").cast("double"), 4
            ).alias("flagged_ratio"),
        )
    )


# ------------------------------------------------------- n-gram Jaccard (exact)
def _token_sets(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, token) pairs with distinct n-gram shingles per document."""
    df = ensure_parallelism(df)
    # Per-doc distinctness happens inside the shingle expression (JVM
    # array_distinct in both forms), so the exploded pairs are distinct by
    # construction — no (did, tok) dropDuplicates shuffle of gram strings.
    shingle = (
        F.array_distinct(tokens(F.col(text_col)))
        if n == 1
        else word_ngram_set(F.col(text_col), n)
    )
    return df.select(F.col(id_col).alias("did"), F.explode(shingle).alias("tok"))


def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 1,
    threshold: float = 0.5,
    prefix_filter: bool = True,
    hash_tokens: bool = False,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs above ``threshold``.

    Candidate generation uses prefix filtering (the AllPairs/SSJoin
    principle): order every document's shingles by ascending global
    document frequency; if J(A,B) >= t then |A∩B| >= ceil(t·|A|), so A's
    first |A| - ceil(t·|A|) + 1 shingles in that order must contain a
    shingle of the intersection — and two qualifying sets always share a
    shingle in BOTH prefixes.  The self-join therefore runs only on prefix
    shingles — the rarest per document — so a ubiquitous shingle (df ~ N)
    sorts to the end of every set and never becomes a join key, eliminating
    the Σ df²(shingle) quadratic hot-bucket at web scale while staying
    EXACT.  Verification then counts full intersections on candidates only.

    ``prefix_filter=False`` keeps the plain inverted-index join (every
    shingle a join key) — only sensible for tiny oracle-tier inputs.

    ``hash_tokens=True`` replaces each shingle with its ``xxhash64`` right
    after shingling, so every downstream shuffle — document frequencies,
    the prefix window, the candidate self-join key, the verify arrays —
    carries 8-byte longs instead of multi-word gram strings (~3-4× fewer
    shuffle bytes, and array_intersect/sort on longs instead of strings).
    Candidate COMPLETENESS is unaffected (equal grams hash equal; a
    collision can only merge keys, never separate them).  Verification
    counts intersections of hashed sets, so the result is exact modulo a
    64-bit collision among distinct corpus shingles — P ≈ d²/2⁶⁵, ~4e-9
    for the 2.6e5 distinct trigrams at sf0.1 — the same negligible-class
    caveat the IVF oracle documents for float rounding.  Leave False where
    the output is billed as the exact ground-truth tier
    (dedup_jaccard_trigram, the MinHash recall oracle).

    Candidate pruning stacks three sound filters from the PPJoin family
    (Xiao et al., WWW'08) on the prefix self-join:
      length  — J >= t forces t·|A| <= |B| <= |A|/t;
      position — a match at prefix positions (i, j) can contribute at most
        1 + min(|A|-i, |B|-j) further overlap, which must reach the
        required overlap α = ceil(t/(1+t)·(|A|+|B|));
      (both epsilon-slackened toward KEEPING candidates, so float rounding
      can only admit an extra candidate — never drop a true pair.)
    Verification then joins each surviving pair to per-document sorted
    token ARRAYS and counts the intersection with JVM ``array_intersect``
    — one row per candidate pair instead of exploding |A| token rows per
    pair through a shuffle (measured 5x on the sf0.1 threshold-0.5 edge
    build: 7.7s -> 1.5s for the verify stage).  The arrays frame is one
    row per document (~|shingles|·bytes — for pathological multi-MB
    documents the exploded equi-join form bounds row width instead; these
    near-dup passes run on chunked/normalized docs where arrays are KBs).

    Returns (id_a, id_b, jaccard) with id_a < id_b, rounded to 4 decimals.
    """
    from pyspark import StorageLevel

    # The exploded-shingle frame feeds several subtrees (document
    # frequencies, the prefix projection, verify arrays, set sizes);
    # persist it so the shingling and explode run once, not five times —
    # measured ~2x end-to-end at sf0.1 on the threshold-0.5 graph-edge
    # build.  MEMORY_AND_DISK: at 100 TB the frame must spill, not OOM.
    # Cache lifetime: the frames stay persisted so the RETURNED plan stays
    # cheap to re-materialize, but each new jaccard_pairs call releases the
    # previous call's frames — a long-lived session (bench loop, multi-query
    # driver) holds at most one call's cache, not an unbounded accumulation.
    # Unpersisting never affects correctness, only re-computation cost of a
    # stale handle.
    while _JACCARD_LIVE:
        _JACCARD_LIVE.pop().unpersist(blocking=False)
    sets = _token_sets(df, id_col, text_col, n)
    if hash_tokens:
        sets = sets.select("did", F.xxhash64("tok").alias("tok"))
    sets = sets.persist(StorageLevel.MEMORY_AND_DISK)
    _JACCARD_LIVE.append(sets)
    eps = 1e-9
    if prefix_filter:
        # ONE per-document aggregation replaces four exchanges of the older
        # shape (separate set-size agg, rank window, verify-array agg, and
        # the final size joins): sorting the (tok_df, tok) structs in-array
        # IS the prefix rank, the array length IS the set size, and a
        # transform projects the verify array — so `docs` carries
        # everything each later stage needs, keyed by document.  The
        # document frequency is a window count over tok, which costs one
        # exchange of `sets`; an aggregate joined back would cost two.
        docs = (
            sets.withColumn(
                "tok_df", F.count(F.lit(1)).over(Window.partitionBy("tok"))
            )
            .groupBy("did")
            .agg(F.array_sort(F.collect_list(F.struct("tok_df", "tok"))).alias("arr"))
            .select(
                "did",
                F.size("arr").alias("sz"),
                F.transform("arr", lambda s: s["tok"]).alias("toks"),
                "arr",
            )
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        _JACCARD_LIVE.append(docs)
        plen = (
            F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1
        ).cast("int")
        prefix = docs.select(
            "did", "sz", F.posexplode(F.slice("arr", F.lit(1), plen)).alias("pos0", "s")
        ).select("did", F.col("s.tok").alias("tok"), (F.col("pos0") + 1).alias("pos"), "sz")
        a = prefix.select(
            F.col("did").alias("id_a"), "tok", F.col("pos").alias("pos_a"), F.col("sz").alias("sz_a")
        )
        b = prefix.select(
            F.col("did").alias("id_b"), "tok", F.col("pos").alias("pos_b"), F.col("sz").alias("sz_b")
        )
        alpha = F.ceil(
            F.lit(threshold / (1.0 + threshold)) * (F.col("sz_a") + F.col("sz_b")) - eps
        )
        cand = (
            a.join(b, "tok")
            .where(F.col("id_a") < F.col("id_b"))
            # length filter: t·|A| <= |B| <= |A|/t
            .where(F.col("sz_b") >= F.lit(threshold) * F.col("sz_a") - eps)
            .where(F.col("sz_b") <= F.col("sz_a") / F.lit(threshold) + eps)
            # positional filter: enough overlap can still follow this match
            .where(
                F.lit(1) + F.least(F.col("sz_a") - F.col("pos_a"), F.col("sz_b") - F.col("pos_b"))
                >= alpha
            )
            # sz_a/sz_b are functionally dependent on the ids, so keeping
            # them through the pair dedup is free and saves re-joining
            # sizes after verification
            .select("id_a", "id_b", "sz_a", "sz_b")
            .dropDuplicates(["id_a", "id_b"])
        )
        verify_arrays = docs.select("did", "toks")
    else:
        a = sets.select(F.col("did").alias("id_a"), "tok")
        b = sets.select(F.col("did").alias("id_b"), "tok")
        sizes = sets.groupBy("did").agg(F.count(F.lit(1)).alias("set_size"))
        cand = (
            a.join(b, "tok")
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .dropDuplicates()
            .join(sizes.withColumnsRenamed({"did": "id_a", "set_size": "sz_a"}), "id_a")
            .join(sizes.withColumnsRenamed({"did": "id_b", "set_size": "sz_b"}), "id_b")
        )
        verify_arrays = sets.groupBy("did").agg(
            F.sort_array(F.collect_list("tok")).alias("toks")
        )
    inter = (
        cand.join(verify_arrays.withColumnsRenamed({"did": "id_a", "toks": "toks_a"}), "id_a")
        .join(verify_arrays.withColumnsRenamed({"did": "id_b", "toks": "toks_b"}), "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("toks_a", "toks_b")).alias("n_inter"),
            "sz_a",
            "sz_b",
        )
    )
    return inter.select(
        "id_a",
        "id_b",
        F.round(
            F.col("n_inter")
            / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")).cast("double"),
            4,
        ).alias("jaccard"),
    ).where(F.col("jaccard") >= threshold)


# ----------------------------------------------------------------- MinHash LSH
# Single-hash minhash family h_i(x) = (a_i·x + b_i) mod p over a 31-bit base
# hash x, with the Mersenne prime p = 2^31 - 1 and a_i ∈ [1, p), b_i ∈ [0, p).
# This is the textbook 2-universal (Carter–Wegman) construction: a_i·x < 2^62
# fits bigint under ANSI mode (Spark 4 default, where silent wraparound became
# ARITHMETIC_OVERFLOW), and because a_i·x spans up to ~2^62 ≈ 2^31·p the
# product wraps mod p on the order of 2^31 times — every h_i is a genuinely
# scrambled permutation of x, not a monotone ramp.  (An earlier revision used
# p = 2^61-1 with a_i < 2^30; there a_i·x + b_i < 2^62 wraps AT MOST once and
# for a_i < 2^29 never, leaving those positions monotone in x and the bands
# built from them mutually correlated — banded-LSH candidate probability
# collapsed toward J instead of 1-(1-J^r)^b.)  The modulo is essential: with
# all positions monotone, the min over tokens is attained at the SAME token
# for every i and all signature positions are perfectly correlated.
_MH_P = (1 << 31) - 1
_MH_A = [(0x9E3779B9 * (2 * i + 1)) % (_MH_P - 1) + 1 for i in range(64)]
_MH_B = [(0xBF58476D * (i + 1)) % _MH_P for i in range(64)]


def _collapse_by_shingle_set(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int
) -> tuple[DataFrame, DataFrame]:
    """Exact-dup pre-collapse for the sketch paths: group documents by
    shingle-SET identity (xxhash64 of the sorted distinct-shingle array).

    Returns (members, sets):
      members — (did, gid, nsh, skey), one row per non-empty document;
                gid = min member id of its group, nsh = shingle-set size
                (empty shingle sets pair with nothing in the uncollapsed
                pipeline and are dropped with their explode);
      sets    — (did, skey, tok): exploded per-doc distinct shingles of
                ALL documents — the single persisted token frame every
                downstream stage (signatures, verification, sizes) reuses.

    Deliberately NO array-valued join or array persist anywhere: group
    identity travels as one extra 8-byte column on the exploded frame, and
    membership is recovered with scalar-only aggregations (the per-doc
    groupBy carries one partially-aggregated row per doc).  Everything
    derives from ONE shingled pass; persist it so the shingling runs
    once (measured 2x end-to-end at sf0.1).  MEMORY_AND_DISK: at 100 TB
    the frame exceeds memory and must spill, not OOM.  Distinctness comes
    from the array_distinct inside the shingle expression, so no (did, tok)
    dropDuplicates shuffle of gram strings exists anywhere in this
    pipeline.
    """
    from pyspark import StorageLevel

    sets = (
        ensure_parallelism(df)
        .select(
            F.col(id_col).alias("did"),
            word_ngram_set(F.col(text_col), shingle_n).alias("sh"),
        )
        .select(
            "did",
            F.xxhash64(F.sort_array("sh")).alias("skey"),
            F.explode("sh").alias("tok"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # tokens are distinct per doc, so count(*) == set size
    per_doc = sets.groupBy("did", "skey").agg(F.count(F.lit(1)).alias("nsh"))
    groups = per_doc.groupBy("skey").agg(F.min("did").alias("gid"))
    members = (
        per_doc.join(groups, "skey")
        .select("did", "gid", "nsh", "skey")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    return members, sets


def _band_candidates(
    sets: DataFrame,
    members: DataFrame,
    num_hashes: int,
    bands: int,
    max_band_width: int | None,
) -> DataFrame:
    """Group-representative LSH candidate pairs (id_a < id_b, both group
    ids) from the exploded-shingle frame: minhash signatures as
    groupBy-min partial aggregates PER SET KEY, banded keys, equi
    self-join on (band, band-hash).

    Aggregating by skey instead of doc id is what makes the exact-dup
    collapse free: an m-duplicate cluster's m× token rows partial-merge
    map-side into one signature row, and the band self-join sees one
    representative — no array join, no representative filter pass.

    One md5 per shingle, then num_hashes universal-hash derivations
    (h_i = (a_i·h31 + b_i) mod p, a_i ∈ [1,p), p = 2^31-1) — the standard
    single-hash minhash family.  Equivalent collision statistics to
    independent seeded hashes at a fraction of the per-row work (one
    digest per token + 16 bigint mult-mods).  The ~2^31 wraps of a_i·h31
    mod p make each h_i a genuine 2-universal scramble so different i pick
    different argmin tokens (see _MH_P note above).

    The base hash is the top 31 bits of md5's first word — ENGINE-PORTABLE
    (bit-identical in Spark, DuckDB, Python), like the simhash bits below:
    every downstream value (signatures, band keys, candidate set) is then
    SQL-replayable, so dedup_minhash_lsh carries a full pipeline-replay
    oracle with NO recall assumption.  Band keys are md5-derived too
    (first 15 hex digits of the comma-joined band slice → 60-bit key) for
    the same reason.
    """
    r = num_hashes // bands
    h31 = F.shiftright(
        F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast("bigint"), 1
    )
    gsig = sets.withColumn("h", h31).groupBy("skey").agg(
        F.array(
            *[
                F.min((F.col("h") * F.lit(_MH_A[i]) + F.lit(_MH_B[i])) % F.lit(_MH_P))
                for i in range(num_hashes)
            ]
        ).alias("sig")
    )
    # one row per group: its representative doc id (candidates must carry
    # doc ids so verification can join per-doc token rows)
    rep_map = members.where(F.col("did") == F.col("gid")).select("skey", "gid")
    sig = gsig.join(rep_map, "skey").select(F.col("gid").alias("did"), "sig")
    banded = sig.select(
        "did",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.conv(
                            F.substring(
                                F.md5(
                                    F.concat_ws(
                                        ",",
                                        *[
                                            F.col("sig")[b * r + j].cast("string")
                                            for j in range(r)
                                        ],
                                    )
                                ),
                                1,
                                15,
                            ),
                            16,
                            10,
                        )
                        .cast("bigint")
                        .alias("bh"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("did", F.col("bk.band").alias("band"), F.col("bk.bh").alias("bh"))
    if max_band_width is not None:
        narrow = (
            banded.groupBy("band", "bh")
            .agg(F.count(F.lit(1)).alias("bw"))
            .where(F.col("bw") <= max_band_width)
            .select("band", "bh")
        )
        banded = banded.join(narrow, ["band", "bh"], "left_semi")
    return (
        banded.alias("x")
        .join(banded.alias("y"), ["band", "bh"])
        .where(F.col("x.did") < F.col("y.did"))
        .select(F.col("x.did").alias("id_a"), F.col("y.did").alias("id_b"))
        .dropDuplicates()
    )


def minhash_band_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    max_band_width: int | None = None,
) -> DataFrame:
    """The UNVERIFIED candidate stage of minhash_lsh_pairs, at group-
    representative granularity — exposed so tests (and capacity planning)
    can assert candidate fan-out directly: an m-document exact-dup cluster
    must contribute ONE representative, not m² candidate rows.
    """
    if num_hashes % bands != 0:
        raise ValueError("num_hashes must be divisible by bands")
    members, sets = _collapse_by_shingle_set(df, id_col, text_col, shingle_n)
    return _band_candidates(sets, members, num_hashes, bands, max_band_width)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    threshold: float = 0.5,
    max_band_width: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs via MinHash + banded LSH, verified with exact
    Jaccard on candidates only.

    Stages (standard shingle→minhash→band→bucket-join):
      0. exact-dup pre-collapse: group documents by shingle-SET identity
         (xxhash64 of the sorted distinct-shingle array) and run the sketch
         on one representative per group.  An m-document exact-dup cluster
         — the web-scale boilerplate case — contributes ONE row per band
         bucket instead of m, so the band self-join stays O(groups·bands)
         where the naive form is O(m²·bands) in that one bucket.  Intra-
         group pairs are emitted directly with jaccard = 1.0 (identical
         sets), and verified cross-group pairs are expanded to member
         pairs (J(a, b) = J(rep_a, rep_b) when a, b duplicate their reps);
         the final pair set is IDENTICAL to the uncollapsed one.
      1. signature: num_hashes seeded min-hashes over word n-gram shingles;
      2. banding: split the signature into ``bands`` bands of r rows each;
         band key = (band_idx, xxhash64(band values)).  Pair collision prob
         ≈ 1-(1-J^r)^b — tune (b, r) to put the S-curve knee at ``threshold``;
      3. candidates: self-join on band key (equi join — the only shuffle
         that touches all docs, and it carries ids + 64-bit keys only).
         ``max_band_width`` (optional) drops band buckets wider than the
         cap before the self-join — the same left-semi hot-bucket guard as
         winnow_near_pairs.  With the exact-dup collapse in front, a wide
         bucket means >cap DISTINCT near-identical contents; capping
         trades recall on such boilerplate clusters for a hard bound on
         candidate fan-out.  Default None: exact recall semantics.
      4. verify: exact n-gram Jaccard on candidate pairs (bounded set).

    Returns (id_a, id_b, jaccard) with jaccard >= threshold.
    """
    if num_hashes % bands != 0:
        raise ValueError("num_hashes must be divisible by bands")
    members, sets = _collapse_by_shingle_set(df, id_col, text_col, shingle_n)
    cand = _band_candidates(sets, members, num_hashes, bands, max_band_width)
    # verification: exact Jaccard restricted to candidate pairs, computed
    # against per-representative sorted token ARRAYS (one row per pair with
    # JVM array_intersect) instead of exploding |A| token rows per pair
    # through a shuffle — same switch as jaccard_pairs, and only group
    # REPRESENTATIVES need arrays (a left-semi against the rep map), so the
    # array build aggregates the persisted `sets` frame once.
    rep_ids = members.where(F.col("did") == F.col("gid")).select("did")
    rep_arrays = (
        sets.join(rep_ids, "did", "left_semi")
        .groupBy("did")
        .agg(
            F.sort_array(F.collect_list("tok")).alias("toks"),
            F.count(F.lit(1)).alias("set_size"),
        )
    )
    rep_pairs = (
        cand.join(
            rep_arrays.withColumnsRenamed(
                {"did": "id_a", "toks": "toks_a", "set_size": "size_a"}
            ),
            "id_a",
        )
        .join(
            rep_arrays.withColumnsRenamed(
                {"did": "id_b", "toks": "toks_b", "set_size": "size_b"}
            ),
            "id_b",
        )
        .withColumn("n_inter", F.size(F.array_intersect("toks_a", "toks_b")))
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("n_inter")
                / (F.col("size_a") + F.col("size_b") - F.col("n_inter")).cast("double"),
                4,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )
    # Expand representative pairs back to member pairs.  Both joins and the
    # intra-group self-join produce exactly the TRUE output pairs — the
    # O(m²) of an m-doc dup cluster reappears only here, as result rows any
    # pair-emitting algorithm must write.  Empty shingle sets are excluded
    # from the intra emission: such docs never acquire a signature in the
    # uncollapsed pipeline (explode drops them), so they pair with nothing.
    cross = (
        rep_pairs.join(members.select(F.col("gid").alias("id_a"), F.col("did").alias("da")), "id_a")
        .join(members.select(F.col("gid").alias("id_b"), F.col("did").alias("db")), "id_b")
        .select(
            F.least("da", "db").alias("id_a"),
            F.greatest("da", "db").alias("id_b"),
            "jaccard",
        )
    )
    nonempty = members.where(F.col("nsh") > 0)
    intra = (
        nonempty.select(F.col("gid"), F.col("did").alias("da"))
        .join(nonempty.select(F.col("gid"), F.col("did").alias("db")), "gid")
        .where(F.col("da") < F.col("db"))
        .select(
            F.col("da").alias("id_a"),
            F.col("db").alias("id_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    return cross.unionByName(intra)


# -------------------------------------------------------------------- SimHash
def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 64) -> DataFrame:
    """64-bit SimHash per document.

    Each token hashes to 64 bits; bit i of the simhash is the sign of
    Σ_tokens (±1 depending on token bit i).  Implemented as one explode +
    64 conditional-sum aggregates — a single shuffle on doc id; near-dup
    lookup then bands the 64 bits into 4×16-bit chunks (pigeonhole: hamming
    distance ≤3 ⇒ at least one identical chunk).

    The per-token 64 bits are the first 16 hex digits of md5(token),
    consumed as two 32-bit halves.  md5 — not xxhash64 — deliberately:
    it is ENGINE-PORTABLE (bit-identical in Spark, DuckDB, Python), which
    makes the whole sketch oracle-replayable (dedup_simhash_pairs carries
    a full DuckDB oracle) at equal JVM cost class (one digest per token,
    commons-codec md5 vs xxhash64 — both stream-speed next to the
    64-aggregate reduction that dominates this pass).
    """
    h_hi = F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("bigint")
    h_lo = F.conv(F.substring(F.md5("tok"), 9, 8), 16, 10).cast("bigint")
    tok = (
        ensure_parallelism(df)
        .select(F.col(id_col).alias("did"), F.explode(tokens(F.col(text_col))).alias("tok"))
        .withColumn("h_hi", h_hi)
        .withColumn("h_lo", h_lo)
    )

    def _bit(i: int) -> Column:
        if i < 32:
            return F.shiftright(F.col("h_lo"), i).bitwiseAND(F.lit(1))
        return F.shiftright(F.col("h_hi"), i - 32).bitwiseAND(F.lit(1))

    bit_sums = tok.groupBy("did").agg(
        *[
            F.sum(F.when(_bit(i) == 1, 1).otherwise(-1)).alias(f"b{i}")
            for i in range(bits)
        ]
    )
    sim = F.lit(0).cast("bigint")
    for i in range(bits):
        sim = sim + F.when(F.col(f"b{i}") > 0, F.lit(1).cast("bigint") * (2**i if i < 63 else -(2**63))).otherwise(0)
    return bit_sums.select("did", sim.alias("simhash"))


def simhash_near_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """Candidate near-dup pairs by SimHash banding + exact hamming filter.

    4 chunks of 16 bits: hamming ≤ 3 guarantees one exact chunk match, so an
    equi-join on (chunk_idx, chunk_value) finds all such pairs without N².
    """
    sig = simhash(df, id_col, text_col)
    chunks = sig.select(
        "did",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright(F.col("simhash"), c * 16).bitwiseAND(F.lit(0xFFFF)).alias("cv"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("ck"),
    ).select("did", "simhash", F.col("ck.chunk").alias("chunk"), F.col("ck.cv").alias("cv"))
    cand = (
        chunks.alias("x")
        .join(chunks.alias("y"), ["chunk", "cv"])
        .where(F.col("x.did") < F.col("y.did"))
        .select(
            F.col("x.did").alias("id_a"),
            F.col("y.did").alias("id_b"),
            F.col("x.simhash").alias("sh_a"),
            F.col("y.simhash").alias("sh_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return cand.select("id_a", "id_b", hamming.alias("hamming")).where(
        F.col("hamming") <= max_hamming
    )


def hamming_near_pairs(
    sig_df: DataFrame,
    id_col: str = "did",
    hash_col: str = "sig",
    max_hamming: int = 3,
) -> DataFrame:
    """Banded Hamming join over ANY 64-bit signature column — the generic
    form of simhash_near_pairs' candidate stage, reused for image dHash
    (operators/multimodal.py perceptual_hash_media) and any other packed
    bit fingerprint.

    4 chunks of 16 bits: hamming ≤ 3 guarantees at least one chunk is
    untouched (pigeonhole), so an equi-join on (chunk_idx, chunk_value)
    finds every qualifying pair with zero recall loss and never goes N².
    max_hamming > 3 would break the guarantee with 4 bands — rejected
    rather than silently under-recalling.

    Scale: only (id, 3×int) band rows shuffle; the verify is one
    bit_count(XOR) per candidate.  Boilerplate chunks shared by thousands
    of signatures concentrate candidates — upstream should drop
    signatures whose chunk frequency explodes (same guard as
    winnow_near_pairs' max_doc_freq) when corpora carry constant tiles."""
    if not 0 <= max_hamming <= 3:
        raise ValueError("max_hamming must be 0..3 for the 4x16-bit band guarantee")
    chunks = sig_df.select(
        F.col(id_col).alias("did"),
        F.col(hash_col).alias("sig"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright(F.col(hash_col), c * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("cv"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("ck"),
    ).select("did", "sig", F.col("ck.chunk").alias("chunk"), F.col("ck.cv").alias("cv"))
    cand = (
        chunks.alias("x")
        .join(chunks.alias("y"), ["chunk", "cv"])
        .where(F.col("x.did") < F.col("y.did"))
        .select(
            F.col("x.did").alias("id_a"),
            F.col("y.did").alias("id_b"),
            F.col("x.sig").alias("sh_a"),
            F.col("y.sig").alias("sh_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return cand.select("id_a", "id_b", hamming.alias("hamming")).where(
        F.col("hamming") <= max_hamming
    )


# ---------------------------------------------------------- winnowing dedup
def winnow_near_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 25,
    w: int = 10,
    min_shared: int = 2,
    max_doc_freq: int = 50,
) -> DataFrame:
    """Near-duplicate candidate pairs by shared winnowing fingerprints
    (rolling-hash k-grams, min-per-window selection — text.py
    winnow_fingerprints_udf).  Pairs share >= ``min_shared`` fingerprints.

    Scale: after the fingerprint projection only (id, fp) rows shuffle.
    Fingerprints present in more than ``max_doc_freq`` documents are
    dropped before the self-join — boilerplate shared by thousands of docs
    would otherwise create a quadratic hot bucket (same skew guard as the
    LSH band-bucket paths).
    """
    from aws_genaric_datapipeline_spark.operators.text import (
        normalize_text,
        winnow_fingerprints_udf,
    )

    winnow = winnow_fingerprints_udf(k, w)
    # No (id, fp) distinct here: the winnow kernel emits np.unique per doc,
    # so exploded pairs are distinct by construction — the dropped
    # .distinct() was a full extra shuffle of every fingerprint row.
    fps = ensure_parallelism(df).select(
        F.col(id_col).alias("id"),
        F.explode(winnow(normalize_text(F.col(text_col)))).alias("fp"),
    )
    doc_freq = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("df"))
    rare = fps.join(doc_freq.where(F.col("df") <= max_doc_freq), "fp", "left_semi")
    a = rare.select(F.col("id").alias("id_a"), "fp")
    b = rare.select(F.col("id").alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .where(F.col("shared_fps") >= min_shared)
    )


# ------------------------------------------- incremental MinHash near-dup index
def _doc_band_keys(sets: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """Per-DOCUMENT fused band keys (did, bkey) from an exploded distinct-
    shingle frame: the same md5-31-bit base hash + Carter-Wegman signature
    + md5-60-bit band-slice keys as _band_candidates, with (band, slice)
    fused into ONE xxhash64 column so a persisted index can bucket on a
    single key and every band join is co-located on it.  A fused-key
    collision across bands (~2^-64) can only ADD a candidate pair —
    verification is exact, so results never change."""
    r = num_hashes // bands
    h31 = F.shiftright(
        F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast("bigint"), 1
    )
    sig = sets.withColumn("h", h31).groupBy("did").agg(
        F.array(
            *[
                F.min((F.col("h") * F.lit(_MH_A[i]) + F.lit(_MH_B[i])) % F.lit(_MH_P))
                for i in range(num_hashes)
            ]
        ).alias("sig")
    )
    return sig.select(
        "did",
        F.explode(
            F.array(
                *[
                    F.xxhash64(
                        F.lit(b),
                        F.conv(
                            F.substring(
                                F.md5(
                                    F.concat_ws(
                                        ",",
                                        *[
                                            F.col("sig")[b * r + j].cast("string")
                                            for j in range(r)
                                        ],
                                    )
                                ),
                                1,
                                15,
                            ),
                            16,
                            10,
                        ).cast("bigint"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bkey"),
    )


def _hashed_token_arrays(sets: DataFrame) -> DataFrame:
    """(did, toks) with the sorted xxhash64'd distinct-shingle array — the
    compact verify-side representation (8 B per shingle; equal grams hash
    equal, and a 64-bit collision among distinct corpus shingles is the
    documented negligible class)."""
    return (
        sets.select("did", F.xxhash64("tok").alias("tok"))
        .groupBy("did")
        .agg(F.sort_array(F.collect_list("tok")).alias("toks"))
    )


def minhash_build_index(
    corpus_df: DataFrame,
    bands_table: str,
    toks_table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    num_buckets: int = 8,
    mode: str = "overwrite",
) -> None:
    """Persist the corpus's MinHash band keys + verify arrays as bucketed
    catalog tables — the NEAR-duplicate analog of write_fingerprint_index:
    sketch the 100 TB corpus ONCE at ingest, then dedup every incoming
    batch against it without re-reading or re-shuffling corpus text.

    Two tables: ``bands_table`` (did, bkey) bucketed by the fused band key
    — the candidate join side — and ``toks_table`` (did, toks) bucketed by
    did — the exact-Jaccard verification side, joined only for candidate
    docs.  After promoting a batch, append ITS rows with ``mode="append"``
    (bucket metadata lives in the metastore; appended files land in their
    buckets), keeping the index join-ready with per-batch cost — the same
    maintenance contract as the ANN index appends.
    """
    from aws_genaric_datapipeline_spark.operators.bucketing import write_bucketed

    sets = _token_sets(corpus_df, id_col, text_col, shingle_n)
    write_bucketed(
        _doc_band_keys(sets, num_hashes, bands),
        bands_table,
        ["bkey"],
        num_buckets,
        mode=mode,
    )
    write_bucketed(
        _hashed_token_arrays(sets), toks_table, ["did"], num_buckets, mode=mode
    )


def minhash_query_index(
    spark,
    new_df: DataFrame,
    bands_table: str,
    toks_table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    threshold: float = 0.8,
) -> DataFrame:
    """Near-duplicate pairs between an incoming batch and the standing
    corpus index: (batch_id, corpus_id, jaccard) for exact Jaccard ≥
    threshold among banded-LSH candidates — the INCREMENTAL near-dedup
    pass a training pipeline runs per ingest batch, at per-batch cost.

    Shuffle shape: the batch side (keys + its own token arrays) shuffles
    into the index's bucket layouts; the corpus side reads its band and
    verify buckets CO-LOCATED — zero Exchange on the 100 TB side for both
    the candidate join and the verification join (plan-gated in
    tests/test_plans.py::TestMinhashIndex).  Use the same (num_hashes,
    bands, shingle_n) the index was built with."""
    bsets = _token_sets(new_df, id_col, text_col, shingle_n)
    bkeys = _doc_band_keys(bsets, num_hashes, bands).withColumnsRenamed(
        {"did": "batch_id"}
    )
    cand = (
        bkeys.join(spark.table(bands_table), "bkey")
        .select("batch_id", F.col("did").alias("corpus_id"))
        .dropDuplicates()
    )
    btoks = _hashed_token_arrays(bsets).withColumnsRenamed(
        {"did": "batch_id", "toks": "toks_b"}
    )
    ctoks = spark.table(toks_table).withColumnsRenamed(
        {"did": "corpus_id", "toks": "toks_a"}
    )
    inter = (
        cand.withColumnsRenamed({"corpus_id": "did"})
        .join(ctoks.withColumnsRenamed({"corpus_id": "did"}), "did")
        .withColumnsRenamed({"did": "corpus_id"})
        .join(btoks, "batch_id")
        .select(
            "batch_id",
            "corpus_id",
            F.size(F.array_intersect("toks_a", "toks_b")).alias("ni"),
            F.size("toks_a").alias("sa"),
            F.size("toks_b").alias("sb"),
        )
    )
    return inter.select(
        "batch_id",
        "corpus_id",
        F.round(
            F.col("ni") / (F.col("sa") + F.col("sb") - F.col("ni")).cast("double"), 4
        ).alias("jaccard"),
    ).where(F.col("jaccard") >= threshold)


# ------------------------------------------- incremental SimHash index
def simhash_build_index(
    corpus_df: DataFrame,
    chunks_table: str,
    sigs_table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_buckets: int = 8,
    mode: str = "overwrite",
) -> None:
    """Persist the corpus's SimHash fingerprints + banded chunk keys as
    bucketed catalog tables — the third incremental near-dup index
    alongside minhash_build_index (shingle-set Jaccard) and
    similarity.lsh_build_index (embedding cosine): SimHash is the cheap
    token-distribution sketch (one 64-bit word per doc) whose banding
    finds hamming ≤ 3 pairs by pigeonhole.

    ``chunks_table`` (did, ckey) with ckey = xxhash64(chunk_idx, 16-bit
    chunk value), bucketed by ckey (candidate join side — a fused-key
    collision only adds a candidate; the hamming filter is exact);
    ``sigs_table`` (did, simhash) bucketed by did (verification side).
    Append a promoted batch's rows with ``mode="append"`` — per-batch
    maintenance, no rebuild (both values are pure per-doc functions).
    """
    from aws_genaric_datapipeline_spark.operators.bucketing import write_bucketed

    sig = simhash(corpus_df, id_col, text_col)
    chunks = sig.select(
        "did",
        F.explode(
            F.array(
                *[
                    F.xxhash64(
                        F.lit(c),
                        F.shiftright(F.col("simhash"), c * 16).bitwiseAND(F.lit(0xFFFF)),
                    )
                    for c in range(4)
                ]
            )
        ).alias("ckey"),
    )
    write_bucketed(chunks, chunks_table, ["ckey"], num_buckets, mode=mode)
    write_bucketed(sig, sigs_table, ["did"], num_buckets, mode=mode)


def simhash_query_index(
    spark,
    new_df: DataFrame,
    chunks_table: str,
    sigs_table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-duplicates between an incoming batch and the standing
    corpus index: (batch_id, corpus_id, hamming ≤ max_hamming) — the
    cheapest per-batch near-dup screen (64 bits per corpus doc; candidate
    join on banded chunk keys, exact XOR-popcount verification).

    Shuffle shape mirrors the other index queries: batch keys and
    signatures shuffle into the index's bucket layouts; the corpus chunk
    and signature tables read CO-LOCATED — zero corpus-side Exchange
    (plan-gated in tests/test_plans.py::TestSimhashIndex)."""
    bsig = simhash(new_df, id_col, text_col).withColumnsRenamed(
        {"did": "batch_id", "simhash": "sh_b"}
    )
    bchunks = bsig.select(
        "batch_id",
        F.explode(
            F.array(
                *[
                    F.xxhash64(
                        F.lit(c),
                        F.shiftright(F.col("sh_b"), c * 16).bitwiseAND(F.lit(0xFFFF)),
                    )
                    for c in range(4)
                ]
            )
        ).alias("ckey"),
    )
    cand = (
        bchunks.join(spark.table(chunks_table), "ckey")
        .select("batch_id", F.col("did").alias("corpus_id"))
        .dropDuplicates()
    )
    csigs = spark.table(sigs_table).withColumnsRenamed({"simhash": "sh_a"})
    scored = (
        cand.withColumnsRenamed({"corpus_id": "did"})
        .join(csigs, "did")
        .withColumnsRenamed({"did": "corpus_id"})
        .join(bsig, "batch_id")
        .select(
            "batch_id",
            "corpus_id",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hamming"),
        )
    )
    return scored.where(F.col("hamming") <= max_hamming)


# --------------------------------------------------------- index erasure
# Right-to-erasure must CASCADE into derived artifacts: a privacy
# deletion that removes corpus rows but leaves the persisted dedup/ANN
# indexes intact keeps the victim's fingerprints queryable (a membership
# leak) and keeps matching new submissions against ghost documents.  The
# contract for every eraser below is REBUILD EQUIVALENCE:
#
#     erase(build(corpus), victims) == build(corpus \ victims)
#
# asserted row-for-row in tests/test_erasure.py and value-replayed by the
# dedup_index_erasure driver oracle.  Erasers rewrite the bucketed
# tables with the SAME layout (bucket metadata preserved, co-located
# joins keep working); at 100 TB, rewrite only the buckets/files that
# contain victim rows — the txn log (pipeline/txn.py) is the natural
# carrier for that file-level remove/add commit.


def _erase_rows(
    spark,
    table: str,
    victim_ids: DataFrame,
    id_col: str,
    bucket_cols: list[str],
    num_buckets: int,
) -> None:
    """Anti-join victims out of a bucketed catalog table and rewrite it
    in place (same bucketing).  The kept frame is materialized via
    localCheckpoint first — overwriting a table that the pending plan
    still reads is rejected by Spark otherwise."""
    from aws_genaric_datapipeline_spark.operators.bucketing import write_bucketed

    victims = victim_ids.select(F.col(victim_ids.columns[0]).alias(id_col))
    kept = (
        spark.table(table)
        .join(F.broadcast(victims), id_col, "left_anti")
        .localCheckpoint(eager=True)
    )
    write_bucketed(kept, table, bucket_cols, num_buckets, mode="overwrite")


def erase_from_minhash_index(
    spark,
    bands_table: str,
    toks_table: str,
    victim_ids: DataFrame,
    num_buckets: int = 8,
) -> None:
    """Cascade a deletion into the MinHash near-dup index
    (minhash_build_index): both the band-key table and the verify-array
    table are per-document, so victim rows anti-join out exactly."""
    _erase_rows(spark, bands_table, victim_ids, "did", ["bkey"], num_buckets)
    _erase_rows(spark, toks_table, victim_ids, "did", ["did"], num_buckets)


def erase_from_simhash_index(
    spark,
    chunks_table: str,
    sigs_table: str,
    victim_ids: DataFrame,
    num_buckets: int = 8,
) -> None:
    """Cascade a deletion into the SimHash index (simhash_build_index);
    same per-document row shape as the MinHash eraser."""
    _erase_rows(spark, chunks_table, victim_ids, "did", ["ckey"], num_buckets)
    _erase_rows(spark, sigs_table, victim_ids, "did", ["did"], num_buckets)


def erase_from_fingerprint_index(
    spark,
    table: str,
    victims_df: DataFrame,
    survivors_df: DataFrame,
    text_col: str = "text",
    num_buckets: int = 8,
) -> None:
    """Cascade a deletion into the exact-dup fingerprint index
    (write_fingerprint_index).  Fingerprints are doc-ANONYMOUS and
    shared across duplicate families, so a victim's fp is removed only
    when NO survivor shares it — otherwise erasing one copy of a
    duplicated document would un-index the copies that remain.  Needs a
    survivors frame (or, in production, a refcounted fp table so the
    check is a counter decrement instead of a corpus scan)."""
    from aws_genaric_datapipeline_spark.operators.bucketing import write_bucketed

    fp = fingerprint(F.col(text_col)).alias("fp")
    dead = (
        victims_df.select(fp)
        .dropDuplicates()
        .join(survivors_df.select(fp).dropDuplicates(), "fp", "left_anti")
    )
    kept = (
        spark.table(table)
        .join(F.broadcast(dead), "fp", "left_anti")
        .localCheckpoint(eager=True)
    )
    write_bucketed(kept, table, ["fp"], num_buckets, mode="overwrite")


def erase_from_bloom_index(
    survivors_df: DataFrame,
    table: str,
    text_col: str = "text",
    n: int = 3,
    num_bits: int = 1 << 20,
    num_hashes: int = 2,
) -> None:
    """Bloom position sets cannot delete (bits are ORs over unknown
    contributors), so erasure REBUILDS the index from the surviving set
    — the honest cost of a non-decomposable sketch.  A counting Bloom
    variant would make deletion local; rebuild keeps the stored format
    unchanged and is exactly build(corpus \\ victims) by construction."""
    bloom_build_index(
        survivors_df,
        table,
        text_col=text_col,
        n=n,
        num_bits=num_bits,
        num_hashes=num_hashes,
        mode="overwrite",
    )


# ---------------------------------------------------- counting Bloom index
def _counting_bloom_contribs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    num_bits: int,
    num_hashes: int,
) -> DataFrame:
    """(p, cnt) per-position contribution counts: one count per (doc,
    distinct gram, hash) triple.  Counts are SUMS, so contributions are
    order-independent and subtract exactly — the property plain position
    sets lack."""
    pos = _bloom_positions(F.col("tok"), num_bits, num_hashes)
    return (
        _token_sets(df, id_col, text_col, n)
        .select(F.explode(F.array(*pos)).alias("p"))
        .groupBy("p")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )


def counting_bloom_build_index(
    benchmark_df: DataFrame,
    table: str,
    text_col: str = "text",
    n: int = 3,
    num_bits: int = 1 << 20,
    num_hashes: int = 2,
) -> None:
    """DELETABLE decontamination index: a counting Bloom filter persisted
    as (p, cnt).  Screening semantics are identical to bloom_build_index
    (a position is set iff cnt > 0 — same bits, same false-positive
    class), but counts make deletion LOCAL: erasing a benchmark document
    subtracts exactly its own contributions, no survivor rescan — the
    honest fix for erase_from_bloom_index's rebuild cost.  Contract
    (tests/test_erasure.py::TestCountingBloom):

        erase(build(A ∪ B), B) == build(A)      (table-exact)

    because per-position counts are sums over (doc, gram, hash) triples.
    Still broadcast-sized: ≤ num_bits rows of two longs."""
    from aws_genaric_datapipeline_spark.operators.bucketing import (
        recover_orphan_location,
    )

    contribs = _counting_bloom_contribs(
        benchmark_df, "doc_id", text_col, n, num_bits, num_hashes
    )
    recover_orphan_location(contribs.sparkSession, table, "overwrite")
    contribs.coalesce(1).write.format("parquet").mode("overwrite").saveAsTable(table)


def counting_bloom_erase(
    spark,
    table: str,
    victims_df: DataFrame,
    text_col: str = "text",
    n: int = 3,
    num_bits: int = 1 << 20,
    num_hashes: int = 2,
) -> None:
    """Subtract the victims' contributions from a counting Bloom index
    and drop zeroed positions.  Needs ONLY the victims' text (cost
    tracks the deletion, not the benchmark) — num_bits/num_hashes/n must
    match the build, same parameter-pinning rule as every index family."""
    from aws_genaric_datapipeline_spark.operators.bucketing import (
        recover_orphan_location,
    )

    dec = _counting_bloom_contribs(
        victims_df, "doc_id", text_col, n, num_bits, num_hashes
    ).withColumnRenamed("cnt", "dec")
    kept = (
        spark.table(table)
        .join(F.broadcast(dec), "p", "left")
        .select(
            "p",
            (F.col("cnt") - F.coalesce(F.col("dec"), F.lit(0))).alias("cnt"),
        )
        .where(F.col("cnt") > 0)
        .localCheckpoint(eager=True)
    )
    recover_orphan_location(spark, table, "overwrite")
    kept.coalesce(1).write.format("parquet").mode("overwrite").saveAsTable(table)


def counting_bloom_screen(
    spark,
    batch_df: DataFrame,
    index_table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_bits: int = 1 << 20,
    num_hashes: int = 2,
) -> DataFrame:
    """Screen a batch against a counting Bloom index — same output
    contract as bloom_screen_indexed (set iff cnt > 0)."""
    positions = spark.table(index_table).where(F.col("cnt") > 0).select("p")
    return _bloom_probe(
        batch_df, positions, id_col, text_col, n, num_bits, num_hashes
    )


# ------------------------------------------------------------- containment
# Asymmetric set containment C(A→B) = |A∩B| / |A| — the quote/subset-dup
# detector.  Jaccard misses a short document wholly quoted inside a long
# one (union is dominated by the long side); containment is exactly the
# measure that catches it, which is why dedup pipelines run BOTH.

_CONTAIN_LIVE: list[DataFrame] = []


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.9,
) -> DataFrame:
    """Exact n-gram containment pairs: every ORDERED pair (contained,
    container) with |A∩B|/|A| >= threshold, A ≠ B.

    Candidate generation prefix-filters the CONTAINED side only: if
    C(A→B) >= t then |A∩B| >= ceil(t·|A|), so A's (|A| - ceil(t·|A|) + 1)
    globally-rarest shingles must hit B — the container side keeps its
    full posting list because |B| is unbounded (that asymmetry is the
    whole difference from the Jaccard prefix join, where both sides
    prune).  The join keys are still only A-PREFIX shingles — the rarest
    per document — so ubiquitous shingles never fan out, same as
    jaccard_pairs.

    Sound pruning (kept-side epsilon slack, as jaccard_pairs):
      size    — |B| >= |A∩B| >= t·|A|  (no upper bound on |B|);
      position — a first prefix hit at position i leaves at most
        1 + (|A| - i) further overlap, which must reach ceil(t·|A|).

    Verification counts full intersections per surviving pair with JVM
    array_intersect on per-document sorted shingle arrays.  The threshold
    compare runs on the UNROUNDED IEEE quotient (n_inter and |A| are
    integers, so Spark and the DuckDB oracle divide to bit-identical
    doubles); only the reported column is rounded.

    Returns (id_contained, id_container, containment) — directional, so a
    mutual near-dup pair appears twice, as two containment facts.

    Scale: shuffles carry (rare-shingle, id) prefix rows and bounded
    candidate pairs, never text; the docs/sets frames persist across the
    stages and release on the next call (same lifecycle as
    jaccard_pairs)."""
    from pyspark import StorageLevel

    while _CONTAIN_LIVE:
        _CONTAIN_LIVE.pop().unpersist(blocking=False)
    sets = _token_sets(df, id_col, text_col, n)
    eps = 1e-9
    doc_freq = sets.groupBy("tok").agg(F.count(F.lit(1)).alias("tok_df"))
    docs = (
        sets.join(doc_freq, "tok")
        .groupBy("did")
        .agg(F.array_sort(F.collect_list(F.struct("tok_df", "tok"))).alias("arr"))
        .select(
            "did",
            F.size("arr").alias("sz"),
            F.transform("arr", lambda s: s["tok"]).alias("toks"),
            "arr",
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    _CONTAIN_LIVE.append(docs)
    need = F.ceil(F.lit(threshold) * F.col("sz") - eps).cast("int")
    plen = (F.col("sz") - need + 1).cast("int")
    prefix = docs.select(
        "did", "sz", F.posexplode(F.slice("arr", F.lit(1), plen)).alias("pos0", "s")
    ).select("did", F.col("s.tok").alias("tok"), (F.col("pos0") + 1).alias("pos"), "sz")
    a = prefix.select(
        F.col("did").alias("id_contained"),
        "tok",
        F.col("pos").alias("pos_a"),
        F.col("sz").alias("sz_a"),
    )
    b = docs.select(
        F.col("did").alias("id_container"),
        F.col("sz").alias("sz_b"),
        F.explode("toks").alias("tok"),
    )
    cand = (
        a.join(b, "tok")
        .where(F.col("id_contained") != F.col("id_container"))
        .where(F.col("sz_b") >= F.lit(threshold) * F.col("sz_a") - eps)
        .where(
            F.lit(1) + (F.col("sz_a") - F.col("pos_a"))
            >= F.ceil(F.lit(threshold) * F.col("sz_a") - eps)
        )
        .select("id_contained", "id_container", "sz_a")
        .dropDuplicates(["id_contained", "id_container"])
    )
    arrays = docs.select("did", "toks")
    inter = (
        cand.join(
            arrays.withColumnsRenamed({"did": "id_contained", "toks": "toks_a"}),
            "id_contained",
        )
        .join(
            arrays.withColumnsRenamed({"did": "id_container", "toks": "toks_b"}),
            "id_container",
        )
        .select(
            "id_contained",
            "id_container",
            F.size(F.array_intersect("toks_a", "toks_b")).alias("n_inter"),
            "sz_a",
        )
    )
    return inter.where(
        F.col("n_inter") / F.col("sz_a").cast("double") >= F.lit(threshold)
    ).select(
        "id_contained",
        "id_container",
        F.round(F.col("n_inter") / F.col("sz_a").cast("double"), 4).alias("containment"),
    )
