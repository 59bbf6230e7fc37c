"""Change-data-feed as a STREAMING source: continuous, exactly-once
consumption of a TxnTable's per-version diffs into a downstream TxnTable.

The reference pipeline moves records between layers with batch jobs
re-reading whole tables (reference `glue src/raw_layer_job.py` /
`prepared_layer_job.py` rescan the full layer each run); this module is
the incremental form: a Structured Streaming file source watches the
upstream table's COMMIT LOG (tiny JSON files — one per version, the same
shape Delta's streaming source tails), and every new commit triggers a
row-level diff (pipeline.txn.table_changes, snapshot full-outer join)
appended downstream with a per-version idempotency key.

Design notes (100 TB posture):
  - The streamed payload is the COMMIT METADATA, never the data: the file
    source lists/ships one ~1 KB JSON per version.  The data-plane work
    per version is exactly one table_changes() join — the price an
    incremental consumer pays once per sync instead of rescanning the
    table.
  - The commit log is the SOURCE OF TRUTH, the stream merely the wake-up
    signal: each micro-batch re-derives [last-applied+1 .. latest] from
    the downstream table's own commit log (app_txn_id high-water mark)
    and the upstream's latest_version().  A commit file listed by the
    file source before its writer finished, a version skipped by a racy
    directory listing, or a replayed batch after checkpoint loss all
    self-heal on the next trigger — correctness never depends on WHICH
    commit rows a batch happened to carry.
  - Exactly-once: every per-version diff lands via
    TxnTable.append(app_txn_id=f"{sink_id}-v{v}"), so re-delivery
    (Structured Streaming's at-least-once foreachBatch contract) commits
    as a no-op — the same txnAppId/txnVersion idempotence as
    exactly_once_stream_sink, at per-VERSION granularity so batch
    boundaries may shift freely across restarts.
"""

from __future__ import annotations

import json
import re

import pyspark.sql.functions as F
from pyspark.sql import SparkSession

from aws_genaric_datapipeline_spark.pipeline.txn import TxnTable, table_changes

__all__ = [
    "cdf_applied_high_water",
    "cdf_foreach_batch",
    "cdf_replica_foreach_batch",
    "stream_apply_changes",
    "stream_table_changes",
]


def cdf_applied_high_water(dst: TxnTable, sink_id: str) -> int:
    """Highest upstream version already applied into ``dst`` (0 = none),
    recovered from dst's own commit log app_txn_ids — restart-safe without
    any state beside the two tables.

    Scans the commit log NEWEST-FIRST and stops at the first version
    marker: upstream versions apply strictly in order, so the most recent
    marker in dst's log is the maximum.  A continuous stream therefore
    pays O(commits since the last marker) per trigger, not O(total
    versions) — and the handlers additionally cache the mark between
    triggers so steady-state triggers skip the log scan entirely."""
    pat = re.compile(re.escape(sink_id) + r"-v(\d+)$")
    for c in dst.commits_iter(newest_first=True):
        m = pat.match(c.get("app_txn_id") or "")
        if m:
            return int(m.group(1))
    return 0


def _commit_log_stream_writer(
    spark: SparkSession,
    src: TxnTable,
    handler,
    checkpoint_dir: str,
    query_name: str,
    available_now: bool,
    max_files_per_trigger: int | None = None,
):
    """Shared commit-log tailing plumbing for both CDF consumers.

    Commit files are pretty-printed (multi-line) JSON, so the source MUST
    read in multiLine mode — one record per file — or every row parses to
    nulls.  The version filter drops refs.json (tags), the one non-commit
    file living in the log dir.  Correctness never depends on these rows
    (handlers re-derive state from the logs), but the rows being real
    keeps them usable for metrics/filtering.

    ``max_files_per_trigger`` bounds how many commit files each
    micro-batch lists (file-source backpressure): a consumer waking up to
    a large backlog fires several small triggers instead of one huge one.
    availableNow honors it too — the drain splits into multiple batches.
    Safe at any value because handlers re-derive the version range from
    the logs; it only controls trigger granularity."""
    reader = spark.readStream.schema("version bigint, op string").option(
        "multiLine", "true"
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", int(max_files_per_trigger))
    commits = reader.json(str(src.path / TxnTable.LOG_DIR)).where(
        F.col("version").isNotNull()
    )
    writer = (
        commits.writeStream.foreachBatch(handler)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def cdf_foreach_batch(
    src: TxnTable,
    dst: TxnTable,
    keys: list[str],
    sink_id: str = "cdf",
    max_versions_per_batch: int | None = None,
):
    """foreachBatch handler: apply every not-yet-applied upstream version
    as one table_changes(v-1, v) diff appended to ``dst`` exactly once.

    The batch DataFrame (new commit-log rows) is only a trigger; versions
    are re-derived from the logs so partially-listed files and replays
    self-heal.  Versions apply strictly in order — a downstream consumer
    reading dst sees diffs whose per-version ordering matches the
    upstream commit order.

    ``max_versions_per_batch`` caps work per trigger: a replica catching
    up after a long outage applies at most that many versions per
    micro-batch instead of unbounded work in one trigger.  Safe at any
    cap — per-version app_txn_ids make every split/replay idempotent,
    and the remaining backlog drains on subsequent triggers.

    The applied high-water mark is cached in the handler closure between
    triggers, so steady-state triggers skip the commit-log scan; the
    cache can only be stale-LOW (another writer with the same sink_id),
    in which case the re-applied versions commit as idempotent no-ops."""
    state: dict[str, int | None] = {"hw": None}

    def _handle(batch_df, _batch_id: int) -> None:
        lo = state["hw"]
        if lo is None:
            lo = cdf_applied_high_water(dst, sink_id)
        hi = src.latest_version()
        if max_versions_per_batch is not None:
            hi = min(hi, lo + max_versions_per_batch)
        for v in range(lo + 1, hi + 1):
            diff = table_changes(src, v - 1, v, keys).withColumn(
                "_cdf_version", F.lit(v).cast("bigint")
            )
            dst.append(diff, app_txn_id=f"{sink_id}-v{v}")
        state["hw"] = max(lo, hi)

    return _handle


def stream_table_changes(
    spark: SparkSession,
    src: TxnTable,
    dst: TxnTable,
    keys: list[str],
    checkpoint_dir: str,
    sink_id: str = "cdf",
    available_now: bool = True,
    max_versions_per_batch: int | None = None,
    max_files_per_trigger: int | None = None,
):
    """Start the CDF stream: tail ``src``'s commit log, append per-version
    row diffs into ``dst``.  Returns the StreamingQuery.

    ``available_now=True`` drains everything committed so far and stops
    (the incremental-batch form); False runs continuously.  Restarting
    with the same checkpoint (or even a FRESH checkpoint) never
    duplicates: the per-version app_txn_id makes re-application a no-op.

    Backpressure knobs (both optional, both safe at any value):
    ``max_files_per_trigger`` splits a backlog into several triggers at
    the file source; ``max_versions_per_batch`` caps the versions applied
    per trigger.  Setting only the version cap would STRAND a backlog —
    availableNow delivers every pending commit file in one batch, the
    capped handler applies one chunk, and the drained stream stops with
    versions unapplied — so the version cap defaults the file cap to the
    same value: each capped trigger then has a following trigger until
    the log's head, under availableNow and continuous mode alike."""
    if max_versions_per_batch is not None:
        # default the file cap to the version cap, and CLAMP an explicit
        # larger file cap down to it: a trigger that lists more commit
        # files than the handler will apply strands the excess (the
        # drained availableNow stream stops with versions unapplied)
        max_files_per_trigger = (
            max_versions_per_batch
            if max_files_per_trigger is None
            else min(max_files_per_trigger, max_versions_per_batch)
        )
    return _commit_log_stream_writer(
        spark,
        src,
        cdf_foreach_batch(src, dst, keys, sink_id, max_versions_per_batch),
        checkpoint_dir,
        f"cdf-{sink_id}",
        available_now,
        max_files_per_trigger,
    )


def _replica_apply_schema_op(replica: TxnTable, commit: dict) -> bool:
    """Propagate an upstream rename_column/drop_column commit onto the
    replica so post-evolution diffs merge cleanly (without this, the
    first post-rename upsert wedges the replica's MERGE on a missing
    column).  Returns True if ``commit`` was a schema op.

    Idempotent under crash-replay: a rename whose old name is already
    gone is accepted iff the new name is present (the prior application
    committed but the marker didn't); same rule for drops."""
    if commit.get("op") not in ("rename_column", "drop_column"):
        return False
    if not replica.live_files():
        # empty replica: nothing to rename/drop; later diffs arrive
        # under the post-evolution names already
        return True
    pre = {f["id"]: f["name"] for f in commit["schema"]["pre_fields"]}
    post = {f["id"]: f["name"] for f in commit["schema"]["fields"]}
    if commit["op"] == "rename_column":
        fid = next(
            i for i in post if i in pre and post[i] != pre[i]
        )
        old, new = pre[fid], post[fid]
        try:
            replica.rename_column(old, new)
        except ValueError:
            if new not in replica.read().columns:
                raise
    else:
        for name in (pre[i] for i in pre if i not in post):
            try:
                replica.drop_column(name)
            except ValueError:
                if name in replica.read().columns:
                    raise
    return True


def cdf_replica_foreach_batch(
    src: TxnTable,
    replica: TxnTable,
    keys: list[str],
    sink_id: str = "cdf-replica",
    max_versions_per_batch: int | None = None,
):
    """foreachBatch handler MAINTAINING A REPLICA table from the upstream
    CDF (Delta's APPLY CHANGES INTO): after version v applies, the
    replica's content equals ``src.read(v)`` — deletes remove rows,
    inserts/update-postimages upsert rows.

    Exactly-once under redelivery and crash-between-substeps: each
    version applies as (optional) delete commit ``{sink_id}-v{v}-del``
    then the VERSION-MARKER commit ``{sink_id}-v{v}`` (a MERGE of the
    postimages, or an empty append for pure-delete versions).  The
    high-water scan matches only the marker (``-v<N>`` suffix), so a
    crash after the delete but before the marker replays the version:
    the delete re-issues as a committed no-op and the marker lands.

    Same source-of-truth design as cdf_foreach_batch: the batch rows are
    a wake-up signal; versions re-derive from the two commit logs.
    ``max_versions_per_batch`` and the closure-cached high-water mark
    behave exactly as on cdf_foreach_batch (bounded catch-up work per
    trigger; cache stale-low at worst → idempotent no-op replays).

    NOTE on the cache vs the two-commit version protocol: the marker
    commit is the LAST substep of a version, so caching hi after the loop
    never skips a half-applied version — a crash mid-version restarts the
    handler with a fresh closure, which re-derives from the log."""
    state: dict[str, int | None] = {"hw": None}

    def _handle(batch_df, _batch_id: int) -> None:
        lo = state["hw"]
        if lo is None:
            lo = cdf_applied_high_water(replica, sink_id)
        hi = src.latest_version()
        if max_versions_per_batch is not None:
            hi = min(hi, lo + max_versions_per_batch)
        for v in range(lo + 1, hi + 1):
            # upstream schema ops replay onto the replica FIRST so the
            # version's (empty) diff and all later merges see the evolved
            # names; the marker commit below still records the version
            try:
                with open(src._log_path(v)) as fh:
                    commit = json.load(fh)
            except FileNotFoundError:  # expired upstream history
                commit = {}
            _replica_apply_schema_op(replica, commit)
            diff = table_changes(src, v - 1, v, keys).localCheckpoint(
                eager=True
            )
            val_cols = [
                c[len("new_") :] for c in diff.columns if c.startswith("new_")
            ]
            vid = f"{sink_id}-v{v}"
            dels = diff.where(F.col("change_type") == "delete").select(*keys)
            if not dels.isEmpty():
                replica.delete_keys(dels, keys, app_txn_id=f"{vid}-del")
            ups = diff.where(F.col("change_type") != "delete").select(
                *keys, *[F.col(f"new_{c}").alias(c) for c in val_cols]
            )
            if ups.isEmpty():
                # pure-delete version still needs its marker commit so the
                # high-water mark advances exactly once
                replica.append(ups, app_txn_id=vid)
            else:
                replica.merge_upsert(ups, keys, app_txn_id=vid)
        state["hw"] = max(lo, hi)

    return _handle


def stream_apply_changes(
    spark: SparkSession,
    src: TxnTable,
    replica: TxnTable,
    keys: list[str],
    checkpoint_dir: str,
    sink_id: str = "cdf-replica",
    available_now: bool = True,
    max_versions_per_batch: int | None = None,
    max_files_per_trigger: int | None = None,
):
    """Start the replica-maintenance stream: tail ``src``'s commit log and
    keep ``replica`` content-equal to the upstream's latest snapshot.
    Returns the StreamingQuery.  Restart/checkpoint-loss safe for the
    same reasons as stream_table_changes (per-version marker commits).
    Backpressure knobs as on stream_table_changes, including the
    version-cap → file-cap pairing that keeps a capped availableNow
    drain from stranding the backlog."""
    if max_versions_per_batch is not None:
        # default the file cap to the version cap, and CLAMP an explicit
        # larger file cap down to it: a trigger that lists more commit
        # files than the handler will apply strands the excess (the
        # drained availableNow stream stops with versions unapplied)
        max_files_per_trigger = (
            max_versions_per_batch
            if max_files_per_trigger is None
            else min(max_files_per_trigger, max_versions_per_batch)
        )
    return _commit_log_stream_writer(
        spark,
        src,
        cdf_replica_foreach_batch(
            src, replica, keys, sink_id, max_versions_per_batch
        ),
        checkpoint_dir,
        f"cdf-replica-{sink_id}",
        available_now,
        max_files_per_trigger,
    )
