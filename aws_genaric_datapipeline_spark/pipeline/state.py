"""Append-only batch state log (replaces the reference's DynamoDB table).

Design (FIXTURES.md §A2, fixing reference bugs by construction):

- The reference's state update crashes on undefined variables and re-writes
  ``RAW COMPLETED`` even on the prepared path (prepared_layer_job.py:176-208
  — SURVEY.md §0 bug 1), so batches were reprocessed forever.  Here a state
  *transition* is an appended row; the current state of a batch is the
  row with the latest ``updated_at`` (window latest-wins read).
- An append is the analogue of the reference's driver-side DynamoDB
  ``put_item``: one row, serialized on the driver with pyarrow and written
  through Spark's own Hadoop ``FileSystem`` for the log path (``file://``,
  ``s3a://``, ``hdfs://`` alike) — no Spark job, no Python worker.  It is
  atomic at file granularity: the bytes go to a hidden ``.``-prefixed name,
  which Spark's batch and streaming file listings skip, then are renamed to
  the final ``part-…parquet`` name.  A crash leaves at worst an invisible
  stray file and a batch stuck in its previous state — re-running is always
  safe.
- Typed columns (counts are longs, times are timestamps) — the reference
  stored everything as strings (raw_layer_job.py:194-205).
- The log is tiny (one row per batch transition), so latest-wins windowing
  costs nothing; compact periodically if ever needed.
"""

from __future__ import annotations

import datetime as dt
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql.pandas.types import to_arrow_schema


class States:
    RAW_COMPLETED = "RAW_COMPLETED"
    PREPARED_COMPLETED = "PREPARED_COMPLETED"
    FAILED = "FAILED"
    # batch landed in raw but violated its quality rules: quarantined —
    # promote() only picks RAW_COMPLETED, so it never reaches prepared
    QUALITY_FAILED = "QUALITY_FAILED"


STATE_SCHEMA = T.StructType(
    [
        T.StructField("batch_id", T.StringType(), False),
        T.StructField("job_src", T.StringType(), False),
        T.StructField("state", T.StringType(), False),
        T.StructField("raw_path", T.StringType(), True),
        T.StructField("raw_count", T.LongType(), True),
        T.StructField("prepared_path", T.StringType(), True),
        T.StructField("prepared_count", T.LongType(), True),
        T.StructField("job_name", T.StringType(), True),
        T.StructField("updated_at", T.TimestampType(), False),
        T.StructField("seq", T.LongType(), False),  # monotone per append; tiebreak
    ]
)


# timestamp[us, tz=UTC] and the not-null flags, derived from STATE_SCHEMA
_ARROW_SCHEMA = to_arrow_schema(STATE_SCHEMA)


# A log row file as Spark's file listing sees it: not ``_SUCCESS``, not a
# ``.crc`` and not a hidden in-flight append.
_DATA_FILES = "[^_.]*.parquet"


class StateStore:
    """State log at a directory path; append rows, read latest-per-batch."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def _fs(self):
        """Spark's Hadoop ``FileSystem`` for the log path, the path, and the
        JVM ``Path`` class."""
        hpath = self.spark.sparkContext._jvm.org.apache.hadoop.fs.Path
        root = hpath(self.path)
        conf = self.spark._jsparkSession.sessionState().newHadoopConf()
        return root.getFileSystem(conf), root, hpath

    # ------------------------------------------------------------------ write
    def append(
        self,
        batch_id: str,
        job_src: str,
        state: str,
        raw_path: str | None = None,
        raw_count: int | None = None,
        prepared_path: str | None = None,
        prepared_count: int | None = None,
        job_name: str | None = None,
    ) -> None:
        """Append one transition row as one parquet file, from the driver.

        ``seq`` is the number of data files already in the log plus one:
        every append writes one single-row file, so this is the previous
        max ``seq`` plus one.  It only breaks ``updated_at`` ties;
        concurrent appenders may share a value."""
        fs, root, hpath = self._fs()
        seq = 1 + len(fs.globStatus(hpath(root, _DATA_FILES)))
        row = {
            "batch_id": batch_id,
            "job_src": job_src,
            "state": state,
            "raw_path": raw_path,
            "raw_count": raw_count,
            "prepared_path": prepared_path,
            "prepared_count": prepared_count,
            "job_name": job_name,
            "updated_at": dt.datetime.now(dt.timezone.utc),
            "seq": seq,
        }
        sink = pa.BufferOutputStream()
        pq.write_table(pa.Table.from_pylist([row], schema=_ARROW_SCHEMA), sink)

        name = f"part-00000-{uuid.uuid4()}-c000.snappy.parquet"
        hidden, final = hpath(root, f".{name}.tmp"), hpath(root, name)
        out = fs.create(hidden, False)
        try:
            out.write(sink.getvalue().to_pybytes())
        finally:
            out.close()
        if not fs.rename(hidden, final):
            raise OSError(f"state log: could not rename {hidden} to {final}")

    # ------------------------------------------------------------------- read
    def _read_log(self) -> DataFrame:
        # First run: the log directory doesn't exist yet.  Returning an
        # empty typed frame (instead of letting the read throw) keeps the
        # caller's control flow exception-free and the logs clean — Spark
        # logs the full PATH_NOT_FOUND stack at WARN before the exception
        # even reaches Python.
        fs, root, _ = self._fs()
        if not fs.exists(root):
            return self.spark.createDataFrame([], STATE_SCHEMA)
        return self.spark.read.schema(STATE_SCHEMA).parquet(self.path)

    def log(self) -> DataFrame:
        """The full transition history (for audit queries)."""
        return self._read_log()

    def current(self) -> DataFrame:
        """Latest state per (job_src, batch_id) — the latest-wins window read
        the reference needed but never had (its filter re-matched processed
        batches forever, prepared_layer_job.py:48-50).

        Metadata fields carry forward across transitions (last non-null
        wins), so a PREPARED_COMPLETED row still shows the batch's
        raw_path/raw_count from its RAW_COMPLETED row.
        """
        fill_cols = ["raw_path", "raw_count", "prepared_path", "prepared_count", "job_name"]
        w_fill = (
            Window.partitionBy("job_src", "batch_id")
            .orderBy("updated_at", "seq")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        filled = self._read_log().select(
            "batch_id",
            "job_src",
            "state",
            *[F.last(F.col(c), ignorenulls=True).over(w_fill).alias(c) for c in fill_cols],
            "updated_at",
            "seq",
        )
        w_pick = Window.partitionBy("job_src", "batch_id").orderBy(
            F.desc("updated_at"), F.desc("seq")
        )
        return (
            filled.withColumn("_rn", F.row_number().over(w_pick))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )

    def pending(self, job_src: str) -> list[dict]:
        """Batches whose *current* state is RAW_COMPLETED (ready to promote).

        Collecting is correct here: rows are per-batch control metadata (a
        handful), never data.
        """
        rows = (
            self.current()
            .where((F.col("job_src") == job_src) & (F.col("state") == States.RAW_COMPLETED))
            .collect()
        )
        return [r.asDict() for r in rows]
