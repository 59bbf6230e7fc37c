"""Pipeline lifecycle tests (SURVEY.md §5.3): ingest writes partitioned
parquet + a typed state row; promote transitions state exactly once;
re-running promote is a no-op; schema validation enforces the declared
schema.  These are the regression tests for the reference's state-machine
bugs (SURVEY.md §0 bugs 1-2)."""

from __future__ import annotations

import datetime as dt
import json
import os
import subprocess
import sys
import time
import uuid
from pathlib import Path

import pyspark.sql.functions as F
import pyspark.sql.types as T
import pytest

from aws_genaric_datapipeline_spark.catalog import register_temp_view
from aws_genaric_datapipeline_spark.config import (
    ColumnSpec,
    PipelineConfig,
    SourceSpec,
    discover_pipelines,
    load_pipeline,
    parse_config,
)
from aws_genaric_datapipeline_spark.pipeline import Pipeline, States, StateStore
from aws_genaric_datapipeline_spark.pipeline.jobs import build_pipeline, make_batch_id
from aws_genaric_datapipeline_spark.pipeline.state import STATE_SCHEMA
from aws_genaric_datapipeline_spark.sources.readers import SchemaMismatchError, validate_schema


@pytest.fixture
def cfg(tmp_path):
    return PipelineConfig(
        template="cds_view",
        project="test",
        subject="new",
        job_src="tableA",
        source=SourceSpec(kind="parquet", path=str(tmp_path / "source")),
        raw_path=str(tmp_path / "raw"),
        prepared_path=str(tmp_path / "prepared"),
        state_path=str(tmp_path / "state"),
        table_name="table_a",
        schema=(
            ColumnSpec("a", "string", "col a"),
            ColumnSpec("b", "string", "col b"),
            ColumnSpec("c", "string", "col c"),
        ),
    )


@pytest.fixture
def source_df(spark):
    rows = [(f"a{i}", f"b{i}", f"c{i % 3}") for i in range(100)]
    return spark.createDataFrame(rows, ["a", "b", "c"])


class TestIngest:
    def test_ingest_writes_partitioned_raw_and_state(self, spark, cfg, source_df):
        p = Pipeline(spark, cfg)
        batch = p.ingest(source_df)
        raw = p.raw()
        assert raw.count() == 100
        assert "ETL_PART_KEY" in raw.columns
        assert raw.select("ETL_PART_KEY").distinct().collect()[0][0] == batch
        [st] = p.state.current().collect()
        assert st["state"] == States.RAW_COMPLETED
        assert st["raw_count"] == 100  # typed long via observe(), no second scan
        assert st["batch_id"] == batch

    def test_two_batches_partition_separately(self, spark, cfg, source_df):
        p = Pipeline(spark, cfg)
        b1 = p.ingest(source_df, batch_id="20260101000000000001")
        b2 = p.ingest(source_df, batch_id="20260101000000000002")
        raw = p.raw()
        assert raw.count() == 200
        keys = {r[0] for r in raw.select("ETL_PART_KEY").distinct().collect()}
        assert keys == {b1, b2}
        # partition pruning: filtering one batch reads one partition
        assert raw.where(F.col("ETL_PART_KEY") == b1).count() == 100


class TestPromote:
    def test_promote_transitions_exactly_once(self, spark, cfg, source_df):
        """Regression for reference bug 1 (prepared_layer_job.py:176-208):
        the transition must actually land, and must not regress to RAW."""
        p = Pipeline(spark, cfg)
        p.ingest(source_df)
        done = p.promote()
        assert len(done) == 1
        [st] = p.state.current().collect()
        assert st["state"] == States.PREPARED_COMPLETED
        assert st["prepared_count"] == 100
        assert st["raw_count"] == 100  # carried forward from the RAW row
        assert p.prepared().count() == 100

    def test_repromote_is_noop(self, spark, cfg, source_df):
        """Regression for reference bug 1's consequence: promote() again must
        find nothing pending and move no data."""
        p = Pipeline(spark, cfg)
        p.ingest(source_df)
        assert len(p.promote()) == 1
        assert p.promote() == []
        assert p.prepared().count() == 100  # no duplicate files (bug 2)

    def test_promote_batch_rerun_idempotent(self, spark, cfg, source_df):
        """Re-running a single batch promotion (crash-retry path) must
        overwrite its partition, not append duplicates (reference bug 2:
        prepared wrote unpartitioned into one folder)."""
        p = Pipeline(spark, cfg)
        b = p.ingest(source_df)
        p.promote_batch(b)
        p.promote_batch(b)
        assert p.prepared().count() == 100

    def test_promote_applies_transform_hook(self, spark, cfg, source_df):
        p = Pipeline(spark, cfg, transform=lambda df: df.where(F.col("c") == "c0"))
        p.ingest(source_df)
        p.promote()
        expected = 100 - 66  # c0 appears for i%3==0 → 34 rows
        assert p.prepared().count() == expected
        [st] = p.state.current().collect()
        assert st["prepared_count"] == expected

    def test_multi_batch_promote_only_pending(self, spark, cfg, source_df):
        p = Pipeline(spark, cfg)
        b1 = p.ingest(source_df, batch_id="20260101000000000001")
        p.promote()
        b2 = p.ingest(source_df, batch_id="20260101000000000002")
        done = p.promote()
        assert done == [b2]
        cur = {r["batch_id"]: r["state"] for r in p.state.current().collect()}
        assert cur == {b1: States.PREPARED_COMPLETED, b2: States.PREPARED_COMPLETED}


class TestFailureHandling:
    def test_failed_transform_marks_failed_and_reraises(self, spark, cfg, source_df):
        """A promote whose transform explodes must append FAILED (visible to
        operators), re-raise (no silent sys.exit like the reference,
        raw_layer_job.py:58-60), and allow a fixed re-run to proceed."""
        p = Pipeline(spark, cfg, transform=lambda df: df.select(F.col("nonexistent")))
        b = p.ingest(source_df)
        with pytest.raises(Exception):
            p.promote_batch(b)
        [st] = p.state.current().collect()
        assert st["state"] == States.FAILED
        assert p.state.pending(cfg.job_src) == []  # not retried blindly
        # fix the transform and promote explicitly — batch recovers
        p2 = Pipeline(spark, cfg)
        p2.promote_batch(b)
        [st] = p2.state.current().collect()
        assert st["state"] == States.PREPARED_COMPLETED
        assert p2.prepared().count() == 100


class TestStateStore:
    def test_latest_wins_over_append_history(self, spark, tmp_path):
        s = StateStore(spark, str(tmp_path / "st"))
        s.append("b1", "src", States.RAW_COMPLETED, raw_count=10)
        s.append("b1", "src", States.PREPARED_COMPLETED, prepared_count=10)
        s.append("b2", "src", States.RAW_COMPLETED, raw_count=5)
        cur = {r["batch_id"]: r["state"] for r in s.current().collect()}
        assert cur == {"b1": States.PREPARED_COMPLETED, "b2": States.RAW_COMPLETED}
        assert s.log().count() == 3  # full history retained (event-sourced)
        assert [d["batch_id"] for d in s.pending("src")] == ["b2"]

    def test_failed_state_not_pending(self, spark, tmp_path):
        s = StateStore(spark, str(tmp_path / "st"))
        s.append("b1", "src", States.RAW_COMPLETED)
        s.append("b1", "src", States.FAILED)
        assert s.pending("src") == []

    def test_updated_at_is_utc_on_a_non_utc_driver(self, spark, tmp_path):
        """Regression: a driver whose local zone is not UTC stored
        ``updated_at`` shifted by its UTC offset (PySpark reads a naive
        datetime as local time), so a later PREPARED_COMPLETED row sorted
        before the RAW_COMPLETED row and the batch went pending again."""
        s = StateStore(spark, str(tmp_path / "st"))
        s.append("b1", "src", States.RAW_COMPLETED)
        saved = os.environ.get("TZ")
        os.environ["TZ"] = "Asia/Kolkata"
        time.tzset()
        try:
            s.append("b1", "src", States.PREPARED_COMPLETED)
        finally:
            if saved is None:
                os.environ.pop("TZ")
            else:
                os.environ["TZ"] = saved
            time.tzset()
        [st] = s.current().select("state", F.unix_micros("updated_at").alias("us")).collect()
        assert st["state"] == States.PREPARED_COMPLETED
        assert abs(st["us"] / 1e6 - time.time()) < 60
        assert s.pending("src") == []

    # Jobs are counted through a statusTracker job group, on the tests'
    # shared session.  Counts are deterministic, so these are hard budgets.
    @staticmethod
    def _jobs(spark, fn) -> int:
        sc = spark.sparkContext
        group = f"state-jobs-{uuid.uuid4()}"
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    def test_append_runs_no_spark_job(self, spark, tmp_path):
        s = StateStore(spark, str(tmp_path / "st"))

        def two_appends():
            s.append("b1", "src", States.RAW_COMPLETED, raw_count=1)  # creates the log
            s.append("b1", "src", States.PREPARED_COMPLETED, prepared_count=1)

        assert self._jobs(spark, two_appends) == 0
        assert [r["seq"] for r in s.log().orderBy("seq").collect()] == [1, 2]

    # All of these are ingest's and promote's own reads and writes; the two
    # appends add none (they cost 3 jobs each when append was a Spark
    # write: 9 in all).
    BATCH_JOB_BUDGET = 3

    def test_ingest_and_promote_job_budget(self, spark, cfg, source_df):
        p = Pipeline(spark, cfg)
        jobs = self._jobs(spark, lambda: p.promote_batch(p.ingest(source_df)))
        assert jobs <= self.BATCH_JOB_BUDGET, f"{jobs} jobs"

    @staticmethod
    def _old_format_log(spark, path: str, job_src: str) -> None:
        """Two rows written the way append() used to write them (one Spark
        write per row, with its ``_SUCCESS`` and ``.crc`` files), plus a
        stray hidden file from an append that crashed before its rename."""
        for seq, state in ((1, States.RAW_COMPLETED), (2, States.PREPARED_COMPLETED)):
            at = dt.datetime(2026, 1, 1, 0, 0, seq, tzinfo=dt.timezone.utc)
            row = [("b0", job_src, state, None, None, None, None, None, at, seq)]
            spark.createDataFrame(row, STATE_SCHEMA).coalesce(1).write.mode("append").parquet(path)
        with open(os.path.join(path, ".part-00000-crashed-c000.snappy.parquet.tmp"), "wb") as fh:
            fh.write(b"PAR1 truncated")  # unreadable if Spark ever listed it

    def test_append_continues_an_old_format_log(self, spark, tmp_path):
        path = str(tmp_path / "st")
        self._old_format_log(spark, path, "src")
        assert "_SUCCESS" in os.listdir(path)
        s = StateStore(spark, path)
        s.append("b1", "src", States.RAW_COMPLETED)
        seqs = {r["batch_id"]: r["seq"] for r in s.current().collect()}
        assert seqs == {"b0": 2, "b1": 3}
        assert s.log().count() == 3
        assert [d["batch_id"] for d in s.pending("src")] == ["b1"]

    def test_streaming_promoter_skips_in_flight_appends(self, spark, cfg, source_df, tmp_path):
        from aws_genaric_datapipeline_spark.streaming.promote import run_streaming_promoter

        self._old_format_log(spark, cfg.state_path, cfg.job_src)
        p = Pipeline(spark, cfg)
        batch = p.ingest(source_df)
        assert run_streaming_promoter(p, str(tmp_path / "ckpt")) == [batch]
        cur = {r["batch_id"]: r["state"] for r in p.state.current().collect()}
        assert cur == {"b0": States.PREPARED_COMPLETED, batch: States.PREPARED_COMPLETED}


class TestConfig:
    def test_parse_reference_layout(self, tmp_path):
        """The reference's own config.json shape must load unchanged."""
        ref = {
            "template": "cds_view",
            "project": "test",
            "subject": "new",
            "config": {"job_src": "tableA", "dynamoTable": "pipeline_table"},
            "raw": {"rawBucket": "raw-b", "rawS3Folder": "tableA", "CDSView": "table_a"},
            "prepared": {"preparedBucket": "prep-b"},
            "data_object": {
                "name": "table_a",
                "schema": [
                    {"name": "a", "type": "string", "comment": "col a"},
                    {"name": "b", "type": "string", "comment": "col b"},
                    {"name": "c", "type": "string", "comment": "col c"},
                ],
            },
        }
        cfg = parse_config(ref, base_dir=str(tmp_path))
        assert cfg.job_src == "tableA"
        assert cfg.stack_name == "test-new-tableA"
        assert cfg.source.view == "table_a"
        assert cfg.raw_path.endswith("raw-b/tableA")
        assert [f.name for f in cfg.declared_struct().fields] == ["a", "b", "c"]

    def test_discover_pipelines(self, tmp_path):
        d = tmp_path / "pipelines" / "tableB"
        d.mkdir(parents=True)
        (d / "config.json").write_text(json.dumps({
            "job_src": "tableB",
            "raw_path": "/r", "prepared_path": "/p", "state_path": "/s",
            "source": {"kind": "parquet", "path": "/src"},
            "schema": [{"name": "x", "type": "bigint"}],
        }))
        found = discover_pipelines(tmp_path / "pipelines")
        assert set(found) == {"tableB"}
        assert found["tableB"].declared_struct().fields[0].dataType.simpleString() == "bigint"

    # Every declared type string the tests and perfbench use, plus each
    # primitive parse_type knows and the nested forms it accepts.
    DDL_TYPES = [
        "string", "bigint", "double", "int", "timestamp",
        "boolean", "tinyint", "byte", "smallint", "short", "integer", "long",
        "float", "real", "binary", "date", "timestamp_ltz", "timestamp_ntz",
        "BIGINT", "decimal", "decimal(12,2)", "dec(5)", "numeric(38, 38)",
        "array<float>", "array<array<int>>", "map<string, array<bigint>>",
        "struct<a:int, b string, `c d`: array<struct<e:date>>>", "struct<>",
    ]

    @pytest.mark.parametrize("ddl", DDL_TYPES)
    def test_parse_type_matches_spark_ddl(self, spark, ddl):
        from aws_genaric_datapipeline_spark.config import parse_type

        want = T.StructType.fromDDL(f"x {ddl}").fields[0].dataType
        assert parse_type(ddl) == want

    @pytest.mark.parametrize(
        "ddl", ["strin", "array<int", "map<int>", "decimal(39,0)", "int int", "", "struct<:int>"]
    )
    def test_parse_type_rejects_bad_strings(self, ddl):
        from aws_genaric_datapipeline_spark.config import parse_type

        with pytest.raises(ValueError):
            parse_type(ddl)

    def test_declared_struct_needs_no_spark_session(self):
        """Config parsing runs before any session exists (CLI discovery,
        deployment tooling): the declared schema parses in Python."""
        code = (
            "from pyspark import SparkContext\n"
            "from aws_genaric_datapipeline_spark.config import parse_config\n"
            "cfg = parse_config({'job_src': 'j', 'raw_path': '/r', 'prepared_path': '/p',\n"
            "    'state_path': '/s', 'schema': [{'name': 'a', 'type': 'decimal(12,2)'},\n"
            "    {'name': 'b', 'type': 'array<string>'}]})\n"
            "print(cfg.declared_struct().simpleString())\n"
            "assert SparkContext._active_spark_context is None\n"
        )
        out = subprocess.run(
            [sys.executable, "-c", code], capture_output=True, text=True, timeout=120,
            cwd=str(Path(__file__).resolve().parent.parent),
        )
        assert out.returncode == 0, out.stderr[-2000:]
        assert out.stdout.strip() == "struct<a:decimal(12,2),b:array<string>>"

    def test_unknown_template_rejected(self, spark, cfg):
        bad = PipelineConfig(**{**cfg.__dict__, "template": "nope"})
        with pytest.raises(ValueError, match="unknown pipeline template"):
            build_pipeline(spark, bad)

    def test_batch_id_format(self):
        b = make_batch_id()
        assert len(b) == 20 and b.isdigit()

    def test_driver_heap_default_fits_the_host(self, spark):
        """Unless SPARK_GRAFT_DRIVER_MEM overrides it, the session heap is
        min(24g, half the host's physical memory): never more than the
        host has."""
        from aws_genaric_datapipeline_spark.queries.corpus_curation import (
            _parse_jvm_mem,
        )

        mem = spark.sparkContext.getConf().get("spark.driver.memory")
        override = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
        if override:
            assert mem == override
        else:
            phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
            assert 0 < _parse_jvm_mem(mem) <= phys


class TestSchemaValidation:
    def test_missing_declared_column_fails(self, spark, cfg):
        df = spark.createDataFrame([("x", "y")], ["a", "b"])  # no 'c'
        with pytest.raises(SchemaMismatchError, match="\\['c'\\]"):
            validate_schema(df, cfg)

    def test_extra_columns_dropped_and_cast_applied(self, spark, cfg):
        df = spark.createDataFrame([(1, 2, 3, 4)], ["a", "b", "c", "extra"])
        out = validate_schema(df, cfg)
        assert out.columns == ["a", "b", "c"]
        assert dict(out.dtypes) == {"a": "string", "b": "string", "c": "string"}


class TestCatalog:
    def test_register_temp_view(self, spark, cfg, source_df):
        p = Pipeline(spark, cfg)
        p.ingest(source_df)
        p.promote()
        name = register_temp_view(spark, cfg)
        assert spark.sql(f"SELECT count(*) c FROM {name}").collect()[0]["c"] == 100


class TestQualityGates:
    def test_metrics_collected_in_single_write_action(self, spark, tmp_path):
        """Rules are evaluated during the write itself — one action, no
        extra scan — and the metrics reflect exact violation counts."""
        from aws_genaric_datapipeline_spark.pipeline.quality import (
            Rule,
            check_quality,
            with_quality_metrics,
        )
        import pyspark.sql.functions as F

        df = spark.createDataFrame(
            [(1, "a@x.io", 10.0), (2, None, 5.0), (3, "bad", -2.0), (4, "c@y.io", 7.0)],
            ["id", "email", "amount"],
        )
        rules = [
            Rule.not_null("email"),
            Rule.in_range("amount", 0, 100),
            Rule.matches("email", r"^[^@]+@[^@]+$"),
        ]
        observed, obs = with_quality_metrics(df, rules)
        observed.write.mode("overwrite").parquet(str(tmp_path / "out"))
        m = obs.get
        assert m["rows"] == 4
        assert m["email_not_null_violations"] == 1
        assert m["amount_in_range_violations"] == 1
        # null email also fails the regex rule (coalesce False): 2 total
        assert m["email_matches_violations"] == 2

        from aws_genaric_datapipeline_spark.pipeline.quality import QualityError
        import pytest as _pytest

        with _pytest.raises(QualityError, match="email_not_null"):
            check_quality(m)
        # generous budget passes
        check_quality(m, max_violation_ratio=0.6)


class TestConfigDrivenQuality:
    def test_bad_batch_is_quarantined_not_promoted(self, spark, tmp_path):
        """A batch violating config-declared quality rules lands in raw with
        state QUALITY_FAILED and is never promoted; a clean batch flows
        through normally."""
        from aws_genaric_datapipeline_spark.config import (
            ColumnSpec,
            PipelineConfig,
            QualityRuleSpec,
            SourceSpec,
        )
        from aws_genaric_datapipeline_spark.pipeline import Pipeline
        from aws_genaric_datapipeline_spark.pipeline.quality import QualityError
        import pytest as _pytest

        cfg = PipelineConfig(
            template="cds_view", project="t", subject="s", job_src="q",
            source=SourceSpec(kind="parquet", path=str(tmp_path / "src")),
            raw_path=str(tmp_path / "raw"),
            prepared_path=str(tmp_path / "prepared"),
            state_path=str(tmp_path / "state"),
            table_name="q",
            schema=(ColumnSpec("id", "bigint"), ColumnSpec("v", "double")),
            quality=(QualityRuleSpec(rule="in_range", column="v", lo=0, hi=100),),
        )
        p = Pipeline(spark, cfg)

        bad = spark.createDataFrame([(1, -5.0), (2, 50.0)], ["id", "v"])
        with _pytest.raises(QualityError, match="v_in_range"):
            p.ingest(bad, batch_id="20260101000000000001")
        cur = {r["batch_id"]: r["state"] for r in p.state.current().collect()}
        assert cur["20260101000000000001"] == "QUALITY_FAILED"
        assert p.promote() == []  # quarantined, not promotable

        good = spark.createDataFrame([(3, 10.0), (4, 20.0)], ["id", "v"])
        b2 = p.ingest(good, batch_id="20260101000000000002")
        assert p.promote() == [b2]
        assert spark.read.parquet(cfg.prepared_path).count() == 2


class TestSchemaEvolution:
    def test_batch_with_new_column_promotes_and_reads_back(self, spark, cfg):
        """Schema evolution across batches: a later batch adds a column.
        The promote read must surface the NEW batch's full schema (not
        whichever file footer Spark samples), and whole-table reads must
        union schemas with nulls for pre-evolution rows."""
        pipe = Pipeline(spark, cfg)
        old = spark.createDataFrame(
            [(f"a{i}", f"b{i}", f"c{i}") for i in range(10)], ["a", "b", "c"]
        )
        b1 = pipe.ingest(old, batch_id="b1")
        new = spark.createDataFrame(
            [(f"a{i}", f"b{i}", f"c{i}", i) for i in range(10)],
            ["a", "b", "c", "score"],
        )
        b2 = pipe.ingest(new, batch_id="b2")
        pipe.promote()

        raw = pipe.raw()
        assert "score" in raw.columns
        assert raw.where(F.col("ETL_PART_KEY") == b1).where(
            F.col("score").isNotNull()
        ).count() == 0
        assert raw.where(F.col("ETL_PART_KEY") == b2).where(
            F.col("score").isNull()
        ).count() == 0

        prepared = pipe.prepared()
        assert "score" in prepared.columns
        assert prepared.where(F.col("ETL_PART_KEY") == b2).count() == 10
        assert (
            prepared.where(F.col("ETL_PART_KEY") == b2)
            .agg(F.sum("score"))
            .collect()[0][0]
            == sum(range(10))
        )

    def test_widened_type_across_batches_reconciles(self, spark, cfg):
        """int→bigint widening across batches: mergeSchema alone refuses
        the footer conflict; read_evolved must reconcile to the widest
        type and union losslessly (the most common parquet evolution)."""
        pipe = Pipeline(spark, cfg)
        small = spark.createDataFrame(
            [(f"a{i}", f"b{i}", f"c{i}", i) for i in range(5)],
            "a string, b string, c string, score int",
        )
        pipe.ingest(small, batch_id="b1")
        big = spark.createDataFrame(
            [(f"a{i}", f"b{i}", f"c{i}", 10_000_000_000 + i) for i in range(5)],
            "a string, b string, c string, score bigint",
        )
        pipe.ingest(big, batch_id="b2")

        raw = pipe.raw()
        assert dict(raw.dtypes)["score"] == "bigint"
        assert raw.count() == 10
        got = raw.agg(F.sum("score")).collect()[0][0]
        assert got == sum(range(5)) + sum(10_000_000_000 + i for i in range(5))
        # old-batch values survive the widening cast intact
        assert (
            raw.where(F.col("ETL_PART_KEY") == "b1").agg(F.sum("score")).collect()[0][0]
            == sum(range(5))
        )

    def test_incompatible_type_across_batches_raises(self, spark, cfg):
        """string vs int on the same column is NOT evolution — the whole-
        table read must raise SchemaMismatchError naming the column, never
        null-fill or pick a footer at random (SURVEY §1.2's silent gap)."""
        pipe = Pipeline(spark, cfg)
        pipe.ingest(
            spark.createDataFrame(
                [("a0", "b0", "c0", 1)], "a string, b string, c string, score int"
            ),
            batch_id="b1",
        )
        pipe.ingest(
            spark.createDataFrame(
                [("a1", "b1", "c1", "high")],
                "a string, b string, c string, score string",
            ),
            batch_id="b2",
        )
        with pytest.raises(SchemaMismatchError, match="score"):
            pipe.raw()

    def test_incompatible_batch_does_not_block_other_promotes(self, spark, cfg):
        """promote_batch reads only ITS batch partition: a type conflict
        between two other batches cannot fail an unrelated promotion."""
        pipe = Pipeline(spark, cfg)
        pipe.ingest(
            spark.createDataFrame(
                [("a0", "b0", "c0", 1)], "a string, b string, c string, score int"
            ),
            batch_id="b1",
        )
        pipe.ingest(
            spark.createDataFrame(
                [("a1", "b1", "c1", "high")],
                "a string, b string, c string, score string",
            ),
            batch_id="b2",
        )
        assert pipe.promote_batch("b1") == 1
        assert pipe.promote_batch("b2") == 1


class TestQuarantineSplit:
    def test_split_routes_and_tags_and_partitions_cleanly(self, spark, tmp_path):
        import pyspark.sql.functions as F

        from aws_genaric_datapipeline_spark.pipeline.quality import (
            Rule,
            quarantine_split,
        )

        df = spark.createDataFrame(
            [
                (1, 10.0, "O"),      # clean
                (2, -5.0, "O"),      # price rule
                (3, 10.0, "X"),      # status rule
                (4, -1.0, None),     # both rules (and null predicate)
                (5, None, "F"),      # null price -> fails price rule
            ],
            "k bigint, price double, status string",
        )
        rules = [
            Rule("price_positive", F.col("price") > 0),
            Rule("status_known", F.col("status").isin("O", "F", "P")),
        ]
        good, quarantined = quarantine_split(df, rules)
        assert {r["k"] for r in good.collect()} == {1}
        got = {r["k"]: r["failed_rules"] for r in quarantined.collect()}
        assert got == {
            2: "price_positive",
            3: "status_known",
            4: "price_positive,status_known",
            5: "price_positive",
        }
        # both sinks write; the good sink has no failed_rules column
        good.write.parquet(str(tmp_path / "good"))
        quarantined.write.parquet(str(tmp_path / "quarantine"))
        assert "failed_rules" not in spark.read.parquet(str(tmp_path / "good")).columns
        q = spark.read.parquet(str(tmp_path / "quarantine"))
        assert q.count() == 4 and "failed_rules" in q.columns

    def test_comma_in_rule_name_rejected(self, spark):
        """Round-10 ADVICE (low): failed_rules is comma-joined, so a comma
        inside a rule name would make the tag ambiguous — reject it."""
        import pyspark.sql.functions as F
        import pytest

        from aws_genaric_datapipeline_spark.pipeline.quality import (
            Rule,
            quarantine_split,
        )

        df = spark.createDataFrame([(1, 1.0)], "k bigint, price double")
        with pytest.raises(ValueError, match="','"):
            quarantine_split(df, [Rule("bad,name", F.col("price") > 0)])
