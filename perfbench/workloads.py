"""The benchmark's workloads and the operations they run.

Query workloads run registry queries (``QuerySpec.fn`` plus one final
``collect``) on the benchmark's copy of the sf0.01 tables; the seed sets the
query order of each pass.  ``pipeline_batches`` runs the raw -> prepared ->
txn lifecycle over seeded, uneven batches of ``lineitem``.  Every result is
checked: queries against their stored oracle fingerprints, batches against
their source rows.
"""

from __future__ import annotations

import dataclasses
import random
import time
import traceback
from collections.abc import Callable
from dataclasses import dataclass, field
from pathlib import Path

from fingerprint import fingerprint

BENCH = Path(__file__).resolve().parent
DATA_DIR = BENCH / "data"
FINGERPRINTS = BENCH / "fingerprints.json"

# Catalyst scan/join/aggregate read path: no Python UDF, no writes.
TPCH = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_revenue_forecast",
    "q13_customer_distribution",
    "q18_large_volume_customers",
    "q21_waiting_orders",
)
# Iterative operators of operators/graph.py: SSSP (bound by
# queries/record_linkage.py at import time) and connected components, 30-40
# jobs per query, nearly all of them run by the query builder.
GRAPH_FIXPOINT = (
    "graph_sssp_weighted",
    "dedup_connected_clusters",
)
# LLM-curation operators whose work runs in Python workers (Arrow/pandas
# UDFs, mapInPandas).
CORPUS_UDF = (
    "tokenizer_wordpiece_apply",
    "text_lang_detect",
    "dedup_winnow_pairs",
    "sim_cosine_topk",
    "text_pii_redact",
)
# The lists are short because a run pays a session start and one cold
# verification pass over its whole list before it measures anything, and
# BENCHMARK.json's runs must fit a fixed time budget.  BENCHMARK.json runs
# graph_fixpoint and pipeline_batches; tpch and corpus_udf run on request.
QUERY_WORKLOADS = {
    "tpch": TPCH,
    "graph_fixpoint": GRAPH_FIXPOINT,
    "corpus_udf": CORPUS_UDF,
}
PIPELINE = "pipeline_batches"
WORKLOADS = (*QUERY_WORKLOADS, PIPELINE)

# Seconds of one warm pass on a 4-core host.  The number of measured passes
# is derived from --seconds with these fixed figures, so a run does the same
# work on every commit and every seed.
PASS_SECONDS = {
    "tpch": 5.0,
    "graph_fixpoint": 7.0,
    "corpus_udf": 12.0,
    PIPELINE: 14.0,
}

# pipeline_batches: lineitem split by order key into this many batches.
N_BATCHES = 4
MAX_SKEW = 8.0  # largest batch ~8x the smallest
LINEITEM_DDL = (
    ("l_orderkey", "bigint"),
    ("l_partkey", "bigint"),
    ("l_suppkey", "bigint"),
    ("l_linenumber", "int"),
    ("l_quantity", "double"),
    ("l_extendedprice", "double"),
    ("l_discount", "double"),
    ("l_tax", "double"),
    ("l_returnflag", "string"),
    ("l_linestatus", "string"),
    ("l_shipdate", "timestamp"),
)
MERGE_KEYS = ["l_orderkey", "l_linenumber"]


@dataclass
class Op:
    """One operation: a query (builder + final action) or a pipeline batch."""

    op_id: str
    name: str
    groups: tuple[str, ...] = ()
    start_ms: float = 0.0
    end_ms: float = 0.0
    latency_s: float = 0.0
    rows: int = 0
    ok: bool = False
    layers: dict[str, float] = field(default_factory=dict)


def pass_order(names, seed: int, pass_id: int) -> list[str]:
    """Seeded order of a measured pass.  The verification pass (pass 0)
    keeps the listed order, so every seed warms the session the same way."""
    order = list(names)
    if pass_id:
        random.Random(f"{seed}:{pass_id}").shuffle(order)
    return order


def _guarded(op: Op, body: Callable[[], None]) -> Op:
    """Run ``body``; an exception marks the operation failed."""
    op.start_ms = time.time() * 1e3
    try:
        body()
    except Exception:  # noqa: BLE001 -- a failed operation is counted, not fatal
        traceback.print_exc()
        op.ok = False
    op.end_ms = time.time() * 1e3
    return op


class QueryWorkload:
    def __init__(self, spark, names, tracer, expected: dict, run_tag: str):
        from aws_genaric_datapipeline_spark.queries import QUERIES

        self.spark = spark
        self.sc = spark.sparkContext
        self.specs = {n: QUERIES[n] for n in names}
        self.names = tuple(names)
        self.tracer = tracer
        self.expected = expected
        self.run_tag = run_tag
        self.data = str(DATA_DIR)

    def prepare(self) -> None:
        """The query workloads read the shipped tables as they are."""

    def run_pass(self, seed: int, pass_id: int, traced: bool) -> list[Op]:
        return [
            self._run(name, f"{self.run_tag}-p{pass_id}-{i}-{name}", traced)
            for i, name in enumerate(pass_order(self.names, seed, pass_id))
        ]

    def _run(self, name: str, op_id: str, traced: bool) -> Op:
        op = Op(op_id, name, groups=(f"{op_id}:build", f"{op_id}:action"))
        spec, tracer, sc = self.specs[name], self.tracer, self.sc
        tracer.op = op_id

        def body():
            sc.setJobGroup(op.groups[0], name)
            t0 = time.perf_counter()
            with tracer.span("queries.build"):
                df = spec.fn(self.spark, self.data)
            t1 = time.perf_counter()
            sc.setJobGroup(op.groups[1], name)
            with tracer.span("queries.action"):
                rows = df.collect()
            t2 = time.perf_counter()
            self.spark.catalog.clearCache()
            op.latency_s, op.rows = t2 - t0, len(rows)
            op.ok = fingerprint(rows, df.columns) == self.expected.get(name)
            if not op.ok:
                print(f"perfbench: {name}: result does not match its fingerprint", flush=True)
            if traced:
                tracker = sc.statusTracker()
                build_jobs = len(tracker.getJobIdsForGroup(op.groups[0]))
                op.layers = {
                    "build_s": t1 - t0,
                    "action_s": t2 - t1,
                    "build_jobs": build_jobs,
                    "jobs": build_jobs + len(tracker.getJobIdsForGroup(op.groups[1])),
                    "persisted_rdds_left": sc._jsc.getPersistentRDDs().size(),
                }

        return _guarded(op, body)


class PipelineWorkload:
    """Ingest -> streaming promote -> txn merge, one batch per operation."""

    def __init__(self, spark, tracer, seed: int, work_dir: Path, run_tag: str):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.work_dir = work_dir
        self.run_tag = run_tag
        self.sources: list[Path] = []
        self.source_rows: list[int] = []
        self.source_bytes: list[int] = []

    # ------------------------------------------------------------- inputs
    def prepare(self) -> None:
        """Write the source batches: the seed deals whole orders out to
        batches sized MAX_SKEW x down to 1x of the smallest.  The size order
        is fixed: every merge rewrites the files of all earlier batches, so
        the order alone moved a pass by 15% between seeds."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        table = pq.read_table(DATA_DIR / "lineitem.parquet")
        rng = np.random.default_rng(self.seed)
        orders = np.unique(table["l_orderkey"].to_numpy())
        rng.shuffle(orders)
        weights = np.geomspace(MAX_SKEW, 1.0, N_BATCHES)
        cuts = np.round(np.cumsum(weights) / weights.sum() * len(orders)).astype(int)
        src_dir = self.work_dir / "sources"
        src_dir.mkdir(parents=True)
        for i, part in enumerate(np.split(orders, cuts[:-1])):
            batch = table.filter(pc.is_in(table["l_orderkey"], value_set=pa.array(part)))
            path = src_dir / f"batch_{i:02d}.parquet"
            pq.write_table(batch, path)
            self.sources.append(path)
            self.source_rows.append(batch.num_rows)
            self.source_bytes.append(path.stat().st_size)
        self.expected = self._count_and_checksum(
            self.spark.read.parquet(str(DATA_DIR / "lineitem.parquet"))
        )

    @staticmethod
    def _count_and_checksum(df) -> tuple[int, int]:
        import pyspark.sql.functions as F

        cast = df.select(*[F.col(c).cast(t).alias(c) for c, t in LINEITEM_DDL])
        row = cast.agg(
            F.count(F.lit(1)), F.sum(F.hash(*[c for c, _ in LINEITEM_DDL]).cast("bigint"))
        ).collect()[0]
        return int(row[0]), int(row[1])

    def _config(self, root: Path):
        from aws_genaric_datapipeline_spark.config import (
            ColumnSpec,
            PipelineConfig,
            QualityRuleSpec,
            SourceSpec,
        )

        return PipelineConfig(
            template="cds_view",
            project="perfbench",
            subject="tpch",
            job_src="lineitem",
            source=SourceSpec(kind="parquet"),
            raw_path=str(root / "raw"),
            prepared_path=str(root / "prepared"),
            state_path=str(root / "state"),
            table_name="lineitem",
            schema=tuple(ColumnSpec(c, t) for c, t in LINEITEM_DDL),
            quality=(
                QualityRuleSpec(rule="not_null", column="l_orderkey"),
                QualityRuleSpec(rule="in_range", column="l_discount", lo=0.0, hi=0.1),
            ),
        )

    # ---------------------------------------------------------------- run
    def run_pass(self, seed: int, pass_id: int, traced: bool) -> list[Op]:
        from aws_genaric_datapipeline_spark.config import SourceSpec
        from aws_genaric_datapipeline_spark.pipeline.jobs import Pipeline
        from aws_genaric_datapipeline_spark.pipeline.txn import TxnTable
        from aws_genaric_datapipeline_spark.streaming.promote import run_streaming_promoter

        root = self.work_dir / f"pass{pass_id}"
        base = self._config(root)
        table = TxnTable(self.spark, str(root / "txn"))
        ops = []
        for i, src in enumerate(self.sources):
            op_id = f"{self.run_tag}-p{pass_id}-b{i}"
            op = Op(op_id, f"batch_{i:02d}", groups=(op_id,))
            batch_id = f"{pass_id:03d}{i:03d}"
            self.tracer.op = op_id

            def body(src=src, batch_id=batch_id, op=op, rows=self.source_rows[i]):
                pipe = Pipeline(
                    self.spark,
                    dataclasses.replace(base, source=SourceSpec(kind="parquet", path=str(src))),
                )
                self.spark.sparkContext.setJobGroup(op.groups[0], op.name)
                t0 = time.perf_counter()
                pipe.ingest(batch_id=batch_id)
                with self.tracer.span("streaming.drain"):
                    promoted = run_streaming_promoter(pipe, str(root / "promoter_ckpt"))
                prepared = self.spark.read.parquet(
                    f"{base.prepared_path}/ETL_PART_KEY={batch_id}"
                ).select(*[c for c, _ in LINEITEM_DDL])
                table.merge_upsert(prepared, MERGE_KEYS)
                op.latency_s = time.perf_counter() - t0
                op.rows = rows
                op.ok = promoted == [batch_id]

            ops.append(_guarded(op, body))
        if not self._check(base, table, pass_id):
            for op in ops:
                op.ok = False
        return ops

    def _check(self, cfg, table, pass_id: int) -> bool:
        """prepared = raw = source rows per batch; one PREPARED_COMPLETED per
        batch; the final snapshot has lineitem's count and checksum."""
        import pyspark.sql.functions as F

        from aws_genaric_datapipeline_spark.pipeline.state import States

        log = self.spark.read.parquet(cfg.state_path)
        done = {
            r["batch_id"]: (r["n"], r["raw"], r["prepared"])
            for r in log.groupBy("batch_id")
            .agg(
                F.sum((F.col("state") == States.PREPARED_COMPLETED).cast("int")).alias("n"),
                F.max("raw_count").alias("raw"),
                F.max("prepared_count").alias("prepared"),
            )
            .collect()
        }
        want = {
            f"{pass_id:03d}{i:03d}": (1, n, n) for i, n in enumerate(self.source_rows)
        }
        problems = []
        if done != want:
            problems.append(f"state log {done} != {want}")
        got = self._count_and_checksum(table.read())
        if got != self.expected:
            problems.append(f"txn snapshot {got} != lineitem {self.expected}")
        for p in problems:
            print(f"perfbench: pipeline pass {pass_id}: {p}", flush=True)
        return not problems

    def txn_write_amp(self, pass_id: int) -> float:
        """Bytes of data files added by merges / bytes of the batches."""
        import json

        log_dir = self.work_dir / f"pass{pass_id}" / "txn" / "_txn_log"
        data_dir = log_dir.parent / "data"
        added = 0
        for p in log_dir.glob("*.json"):
            if p.stem.isdigit():
                added += sum((data_dir / f).stat().st_size for f in json.loads(p.read_text())["adds"])
        return added / sum(self.source_bytes)

    def state_log_files(self, pass_id: int) -> int:
        return sum(1 for _ in (self.work_dir / f"pass{pass_id}" / "state").glob("*.parquet"))
