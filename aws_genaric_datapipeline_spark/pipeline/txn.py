"""Mini transaction-log table format: ACID tables over parquet + a
JSON commit log — the correct-by-construction completion of the
reference's broken batch lifecycle (prepared_layer_job.py:176-208 tried
to coordinate raw→prepared promotion through DynamoDB writes and
crashed; here coordination IS the table format).

Delta-Lake-shaped, deliberately small:

- A table is a directory:  ``data/`` parquet files + ``_txn_log/``
  holding one JSON commit per version (``00000000000000000001.json``).
- A commit lists ACTIONS: files added, files removed, the operation
  name, and an optional ``app_txn_id`` for idempotent re-commit.
- ONE fold reads the log: ``TxnTable.snapshot(v)`` replays the commits
  up to V once into an immutable ``Snapshot`` — live files, deletion
  vectors, per-file stats and add versions, the field-id schema chain,
  constraints, bloom specs and partition-transform specs.  Every read,
  prune, merge and maintenance operation plans from it.  Readers pin a
  version => SNAPSHOT ISOLATION (a concurrent overwrite cannot change
  what a pinned reader sees; data files are immutable and never edited
  in place).
- A checkpoint IS a serialized Snapshot: ``expire_snapshots`` rewrites
  the cutoff commit as ``snapshot(cutoff)`` with ``base: true``, and the
  fold resets to whatever a base commit carries — so a checkpoint holds
  exactly what the fold reads.
- The log is the only schema source: every commit records each file's
  write schema (``__schema__`` in its stats), and reads scan with the
  schema resolved from those records — no parquet footer is opened to
  plan a read.  Additive columns union; numeric type drift across
  appends widens (``sources.readers._widen``); anything else raises
  ``SchemaMismatchError`` before a job runs.
- THE commit protocol is one step, ``TxnTable._commit``, that every
  write goes through.  A write pins a ``Snapshot`` and stages its new
  data and deletion-vector files (invisible until a commit names them).
  The step validates the staged data files against that snapshot's
  CHECK constraints, the ones in force at the version it publishes
  over, then publishes ``version + 1`` with ``os.open(..., O_CREAT |
  O_EXCL)``: exactly one of two racing writers wins a version.  On a
  loss, or a ``ConstraintViolation``, it unlinks every staged file, and
  a loss raises ``TxnConflict`` naming the op and its base version (the
  optimistic concurrency rule: the loser's reads may be stale).  Blind
  writers (append, overwrite, rename/drop column) read nothing the
  winner could invalidate, so they re-pin the latest snapshot and retry
  instead; they unlink and raise once, after the last attempt.  An
  ``app_txn_id`` already in the log makes a write a replay: it returns
  before any Spark job runs, and a blind writer that finds its
  re-delivered twin committed between attempts returns the same way.
- Orphan data files (a writer that crashed after writing parquet but
  before committing) are INVISIBLE: readers load only files the log
  names.  ``vacuum()`` deletes them.

Scale notes: the log is one tiny JSON per commit and the snapshot
computation is one driver-side fold over file names — same cost class as
Delta's log replay.  Data-file IO is all DataFrame parquet; at 100 TB
the data path is unchanged parquet scan/write, and the only global
coordination is the single version-file create, which object stores
expose as put-if-absent.

This module is filesystem-backed (tests/local mode).  The commit
protocol (read version, write files, create-exclusive next version,
conflict check on loss) is the portable part.
"""

from __future__ import annotations

import datetime
import hashlib
import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass
from pathlib import Path

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from aws_genaric_datapipeline_spark.sources.readers import (
    SchemaMismatchError,
    _widen,
)


class TxnConflict(RuntimeError):
    """A concurrent commit invalidated this transaction's snapshot."""


# how a TxnConflict names the ops whose commit-log op name reads poorly
_CONFLICT_LABELS = {"delete_dv": "DV delete", "merge_full_sync": "full-sync merge"}


def _stat_bound(stat_val, bound):
    """Make a committed footer stat and a user/query literal comparable:
    _footer_stats STRINGIFIES non-primitive scalars (dates, timestamps),
    so a date/datetime literal must compare as its str() form — Python's
    str() produced both sides, and ISO formatting is order-preserving
    under lexicographic comparison.  Without this, every stats
    comparison on a date/timestamp column raises TypeError ('<' between
    str and datetime.date)."""
    if isinstance(stat_val, str) and not isinstance(bound, str):
        return str(bound)
    return bound


class ConstraintViolation(ValueError):
    """A write batch violated a table CHECK constraint — nothing committed."""


def _footer_stats(path: Path) -> dict:
    """Per-column [min, max] plus per-column NULL COUNTS from a parquet
    file's footer (pyarrow) — JSON-safe scalars only; columns without
    statistics are omitted, and a reader treats a missing column as
    'cannot prune'."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    # Row count under a reserved key: provably-empty files ("__rows__": 0)
    # can be skipped by pruned merges, and metadata-only COUNT(*) reads
    # fold these instead of opening files.  Null counts under "__nulls__"
    # (column -> count summed over row groups; a column any of whose row
    # groups lacks the statistic is omitted = unknown): `IS NULL`
    # predicates skip files with 0 nulls and `IS NOT NULL` skips all-null
    # files, the way min/max skips ranges (Delta collects nullCount in
    # exactly this role).  Neither is ever a legal column name in the
    # min/max map (columns are parquet paths; dunder keys are reserved).
    out: dict[str, list | int | dict] = {"__rows__": md.num_rows}
    nulls: dict[str, int] = {}
    null_unknown: set[str] = set()
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            st = col.statistics
            name = col.path_in_schema
            if st is not None and st.has_null_count:
                nulls[name] = nulls.get(name, 0) + int(st.null_count)
            else:
                null_unknown.add(name)
            if st is None or not st.has_min_max:
                continue
            mn, mx = st.min, st.max
            if isinstance(mn, bytes) or isinstance(mx, bytes):
                continue
            if not isinstance(mn, (int, float, str, bool)):
                mn, mx = str(mn), str(mx)
            if name in out:
                out[name] = [min(out[name][0], mn), max(out[name][1], mx)]
            else:
                out[name] = [mn, mx]
    known_nulls = {
        c: n for c, n in nulls.items() if c not in null_unknown
    }
    if known_nulls:
        out["__nulls__"] = known_nulls
    return out


def _struct_from_rec(rec: list) -> "StructType":
    """StructType from a committed ``__schema__`` record
    ([[name, spark_type_json], ...]) — every field nullable, matching how
    file-based scans surface columns."""
    from pyspark.sql.types import StructType

    return StructType.fromJson(
        {
            "type": "struct",
            "fields": [
                {
                    "name": cname,
                    "type": json.loads(tj),
                    "nullable": True,
                    "metadata": {},
                }
                for cname, tj in rec
            ],
        }
    )


def _bloom_key(v) -> str | None:
    """Normalize a value for bloom hashing, or None if the type has no
    stable cross-engine spelling.  str() is the shared spelling on BOTH
    sides (pyarrow ``to_pylist`` objects at write, user literals at
    probe), so int32-vs-int64 or probe-literal-type mismatches can never
    split the hash the way a raw-bytes hash would (the xxhash64
    type-sensitivity class `_transform_bounds` handles).  Floats,
    decimals and timestamps are UNSUPPORTED by design: float point
    lookups are ill-posed, and timestamp str() spellings differ between
    tz-aware and naive objects — a mismatch there would silently skip a
    matching file, so those types contribute no bloom (reads stay
    conservative) rather than a wrong one."""
    if isinstance(v, (bool, int, str)):
        return str(v)
    if type(v) is datetime.date:
        return str(v)
    return None


def _bloom_positions(key: str, m: int, k: int) -> list[int]:
    """k bit positions for ``key`` via md5 double hashing (h1 + i*h2) —
    deterministic across processes and runs (never Python's seeded
    hash())."""
    d = hashlib.md5(key.encode("utf-8")).digest()
    h1 = int.from_bytes(d[:8], "big")
    h2 = int.from_bytes(d[8:16], "big") | 1
    return [(h1 + i * h2) % m for i in range(k)]


def _bloom_maybe(bits: set[int], m: int, k: int, value) -> bool:
    """Membership test against a committed per-file bloom (``bits`` is
    the file's position set, built ONCE per file — multi-value IN-set
    probes reuse it): True = cannot rule the value out (unsupported
    probe types always True — pruning is an optimization, never a
    correctness gate)."""
    key = _bloom_key(value)
    if key is None:
        return True
    return all(p in bits for p in _bloom_positions(key, m, k))


def _file_bloom(path: Path, spec: dict[str, dict]) -> dict[str, dict]:
    """Per-column sparse bloom bitsets for a just-written parquet file
    (declared columns only): the write-side half of point-lookup file
    skipping.  Metadata size is bounded by ``m`` bit positions per
    column per file regardless of row count — the Delta bloom-index
    role, kept in the commit log so probe planning never opens data
    files.  A column whose type has no stable spelling (see _bloom_key)
    is omitted — readers treat a missing bloom as 'cannot prune'."""
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(path)
    present = [c for c in spec if c in pf.schema_arrow.names]
    if not present:
        return {}
    tbl = pf.read(columns=present)
    out: dict[str, dict] = {}
    for c in present:
        mk = spec[c]
        vals = set(tbl.column(c).to_pylist()) - {None}
        if not vals:
            continue
        keys = [_bloom_key(v) for v in vals]
        if any(key is None for key in keys):
            continue  # unsupported column type: no bloom, never a wrong one
        bits: set[int] = set()
        for key in keys:
            bits.update(_bloom_positions(key, mk["m"], mk["k"]))
        out[c] = {"m": mk["m"], "k": mk["k"], "bits": sorted(bits)}
    return out


def _col(name: str):
    """Column reference by exact name (dots and backticks are literal)."""
    return F.col("`" + name.replace("`", "``") + "`")


def _widen_json(column: str, a: str | None, b: str) -> str:
    """The wider of two recorded Spark type JSONs (``a`` None = no type
    yet) under the numeric widening rule of ``sources.readers._widen``;
    any other disagreement raises SchemaMismatchError naming the column
    and both types."""
    if a is None or a == b:
        return b
    ta, tb = (
        f.dataType.simpleString() for f in _struct_from_rec([["a", a], ["b", b]])
    )
    w = _widen(ta, tb)
    if w is None:
        raise SchemaMismatchError(
            f"column {column!r}: incompatible types across commits: {ta} "
            f"vs {tb}; only additive columns and numeric widenings are "
            f"reconcilable"
        )
    return a if w == ta else b if w == tb else json.dumps(w)


def _physical_name(fid: int, write_version: int, schemas) -> str | None:
    """Physical column name field ``fid`` had in files written at
    ``write_version``: its name in the latest schema snapshot at or
    before the write, else (field registered only at a later schema
    commit — every pre-bootstrap column, and any column appended
    mid-era) its name in the earliest LATER snapshot's PRE-change
    field list.  The pre list is sound because a column's name cannot
    change between the write and its first registration — renames
    only happen via schema commits, and each one registers all
    then-current columns in its pre list before mutating."""
    latest: str | None = None
    for s in schemas:
        if s["version"] <= write_version:
            names = {f["id"]: f["name"] for f in s["fields"]}
            # .get, NOT keep-if-present: a field id absent from a
            # snapshot at/before the write was DROPPED before the
            # write, so it has no physical name in this era — a
            # stale mapping would claim (and hide) a fresh column
            # that re-uses the dropped name in a later append
            latest = names.get(fid)
        else:
            if latest is not None:
                break
            pre = {f["id"]: f["name"] for f in s["pre_fields"]}
            if fid in pre:
                return pre[fid]
    return latest


@dataclass(frozen=True)
class Snapshot:
    """One version of a TxnTable, folded from its commit log in a single
    pass (``TxnTable.snapshot``).  Every read, prune, merge and
    maintenance operation plans from one of these, and
    ``expire_snapshots`` writes one back as its checkpoint commit.

    ``files`` are the live files (sorted); ``dvs`` maps a data file to
    its deletion-vector file; ``stats`` and ``add_versions`` (the
    version whose commit FIRST added a file — its write era) cover the
    live files; ``schemas`` is the field-id chain [{version, fields,
    pre_fields}], empty while the table has never renamed or dropped a
    column; ``constraint_set_at`` stamps each live constraint with the
    version its predicate was set; ``blooms`` maps a column to its
    {m, k[, field_id, declared_at]} declaration; ``transform`` is the
    partition-transform spec in force and ``transform_history`` every
    spec ever declared, deduplicated by hidden column name; ``clustered``
    are the live files a retained cluster/cluster_incremental commit
    added."""

    version: int
    files: tuple[str, ...]
    dvs: dict[str, str]
    stats: dict[str, dict]
    add_versions: dict[str, int]
    schemas: tuple[dict, ...]
    constraints: dict[str, str]
    constraint_set_at: dict[str, int]
    blooms: dict[str, dict]
    transform: dict | None
    transform_history: tuple[dict, ...]
    clustered: frozenset[str]

    @property
    def fields(self) -> list[dict]:
        """Registered fields at this version ([] = never evolved)."""
        return self.schemas[-1]["fields"] if self.schemas else []

    def write_schema(self, file: str) -> list:
        """The [[name, spark_type_json], ...] schema ``file`` was written
        with — the commit log is the only schema source."""
        rec = self.stats.get(file, {}).get("__schema__")
        if rec is None:
            raise ValueError(
                f"data file {file} has no __schema__ record in the commit "
                f"log at version {self.version}"
            )
        return rec

    def scan_plan(self, files, schemas=None) -> tuple[list, dict[str, str]]:
        """THE per-era projection, computed from the commit log alone and
        shared by every read and by schema commits (so a schema commit
        registers exactly the columns a read surfaces).

        ``files`` group by their write era's physical-name mapping — the
        key is ((field_id, physical_name_or_None), ...) over every field
        id ever registered; a never-evolved table is one group.  Each
        group scans with the union of its files' recorded write schemas
        (new columns append in first-appearance order over the
        path-sorted files), and its physical columns map to the logical
        names of the LAST snapshot in ``schemas`` (default: this
        snapshot's own chain): registered names in registry order, then
        unregistered additive columns under their own name.  Hidden
        partition-transform columns (``__p_*``) are layout metadata and
        never surface.  A group whose files
        disagree on a column's type scans once per recorded schema, and
        each logical column takes the widened type of all its scans
        (``_widen_json``), so a mismatch raises before any job runs.

        Returns ([(scan_files, {physical: type_json}, [(physical,
        logical), ...]), ...], {logical: type_json}) — the second dict
        in output column order."""
        schemas = self.schemas if schemas is None else schemas
        universe = sorted(
            {f["id"] for s in schemas for f in (s["fields"] + s["pre_fields"])}
        )
        current = schemas[-1]["fields"] if schemas else []
        cur_names = {f["name"] for f in current}
        groups: dict[tuple, list[str]] = {}
        for f in sorted(files):
            wv = self.add_versions.get(f, 0)
            key = tuple((i, _physical_name(i, wv, schemas)) for i in universe)
            groups.setdefault(key, []).append(f)
        scans: list[tuple] = []
        types: dict[str, str] = {}
        for key, fs in groups.items():
            mapping = dict(key)
            recs = {f: dict(self.write_schema(f)) for f in fs}
            union: dict[str, str] = {}
            for rec in recs.values():
                for c, tj in rec.items():
                    union.setdefault(c, tj)
            claimed = set(mapping.values())
            proj = [
                (mapping[f["id"]], f["name"])
                for f in current
                if mapping.get(f["id"]) in union
            ]
            proj += [
                (c, c)
                for c in union
                if c not in claimed
                and c not in cur_names
                and not c.startswith("__p_")
            ]
            clash = any(
                rec.get(c, tj) != tj
                for rec in recs.values()
                for c, tj in union.items()
            )
            by_schema: dict[str, list[str]] = {}
            for f, rec in recs.items():
                by_schema.setdefault(json.dumps(rec) if clash else "", []).append(f)
            for sfs in by_schema.values():
                sch = recs[sfs[0]] if clash else union
                part = [(p, lg) for p, lg in proj if p in sch]
                for p, lg in part:
                    types[lg] = _widen_json(lg, types.get(lg), sch[p])
                scans.append((sfs, sch, part))
        return scans, types

    def stat(
        self, file: str, column: str, section: str | None = None,
        strict: bool = False,
    ):
        """``file``'s committed stat for LOGICAL ``column`` — [min, max],
        or its entry under ``section`` ("__nulls__", "__bloom__") — or
        None when unknown.  Stats are keyed by the PHYSICAL name the
        column had in the file's write era, resolved through its field
        id (the Iceberg stats-by-field-id shape).  A column the current
        schema does not register keeps its own name by default: a stale
        same-name stat is sound for range PRUNING, since the old
        column's values surface as NULL and NULL never passes a range.
        ``strict`` (null counts, min/max aggregation) refuses that
        fallback on an evolved table, so the caller reads the file
        instead of trusting a dropped column's stat."""
        pname = column
        if self.schemas:
            fid = next(
                (f["id"] for f in self.fields if f["name"] == column), None
            )
            if fid is not None:
                pname = _physical_name(
                    fid, self.add_versions.get(file, 0), self.schemas
                )
            elif strict:
                return None
        st = self.stats.get(file, {})
        if section is not None:
            st = st.get(section) or {}
        return st.get(pname) if pname else None

    def prune(self, preds: list[tuple]) -> list[str]:
        """Live files whose committed [min, max] can intersect EVERY
        ``(column, lower, upper)`` predicate; a file without a stat for
        a column is kept — pruning is an optimization, never a
        correctness gate."""

        def _may(f: str, column: str, lower, upper) -> bool:
            s = self.stat(f, column)
            if s is None:
                return True
            mn, mx = s
            return not (
                (lower is not None and mx < _stat_bound(mx, lower))
                or (upper is not None and mn > _stat_bound(mn, upper))
            )

        return [f for f in self.files if all(_may(f, *p) for p in preds)]

    def prune_values(self, column: str, values) -> list[str]:
        """Live files whose [min, max] for ``column`` — and, where the
        column has a declared bloom, whose committed bitset — can
        contain ANY of ``values``; files with neither are kept."""
        vals = list(values)
        out = []
        for f in self.files:
            s, bl = self.stat(f, column), self.stat(f, column, "__bloom__")
            bits = set(bl["bits"]) if bl is not None else None
            if (s is None and bl is None) or any(
                (s is None or s[0] <= _stat_bound(s[0], w) <= s[1])
                and (bits is None or _bloom_maybe(bits, bl["m"], bl["k"], w))
                for w in vals
            ):
                out.append(f)
        return out

    def prune_nullness(self, column: str, is_null: bool) -> list[str]:
        """Live files that can hold a row matching ``column IS NULL``
        (``is_null``) or ``IS NOT NULL``: skips provably empty files,
        zero-null files for IS NULL and all-null files for IS NOT NULL.
        Null counts resolve STRICTLY (see ``stat``): for IS NULL a stale
        nulls=0 would wrongly skip a file whose rows all surface as
        NULL."""
        out = []
        for f in self.files:
            rows = self.stats.get(f, {}).get("__rows__")
            if rows == 0:
                continue
            nc = self.stat(f, column, "__nulls__", strict=True)
            if nc is None or (nc > 0 if is_null else rows is None or nc < rows):
                out.append(f)
        return out

    def bloom_targets(self) -> dict[str, dict]:
        """Declared bloom columns resolved to the physical names the NEXT
        write (era ``version + 1``) carries.  Field-id declarations
        survive renames; a name-only declaration (made before any schema
        history existed) names the column as of its declaration
        version."""
        if not self.schemas:
            return self.blooms
        out: dict[str, dict] = {}
        for c, mk in self.blooms.items():
            fid = mk.get("field_id")
            if fid is None:
                at = mk.get("declared_at", 0)
                fid = next(
                    (
                        f["id"]
                        for f in self.fields
                        if _physical_name(f["id"], at, self.schemas) == c
                    ),
                    None,
                )
            pname = (
                _physical_name(fid, self.version + 1, self.schemas)
                if fid is not None
                else None
            )
            if pname is not None:
                out[pname] = mk
        return out

    def checkpoint(self, app_txn_id: str | None, committed_at: float) -> dict:
        """This snapshot as a self-contained checkpoint commit: ``base``
        makes the fold reset to exactly what it carries, so replaying a
        log that starts here rebuilds this snapshot."""
        return {
            "version": self.version,
            "op": "checkpoint",
            "base": True,
            "adds": list(self.files),
            "removes": [],
            "app_txn_id": app_txn_id,
            "committed_at": committed_at,
            "stats": self.stats,
            "add_versions": self.add_versions,
            "schema_history": list(self.schemas),
            "dv_updates": self.dvs,
            "dv_files": sorted(set(self.dvs.values())),
            "constraints": self.constraints,
            "constraint_set_at": self.constraint_set_at,
            "bloom_filters": self.blooms,
            "partition_transform": self.transform,
            "partition_transform_history": list(self.transform_history),
        }


class TxnTable:
    """ACID parquet table at ``path`` with a JSON commit log."""

    LOG_DIR = "_txn_log"
    DATA_DIR = "data"

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = Path(path)
        (self.path / self.LOG_DIR).mkdir(parents=True, exist_ok=True)
        (self.path / self.DATA_DIR).mkdir(parents=True, exist_ok=True)

    # ------------------------------------------------------------------ log
    def _log_path(self, version: int) -> Path:
        return self.path / self.LOG_DIR / f"{version:020d}.json"

    def _commits(self) -> list[dict]:
        out = list(self.commits_iter())
        out.reverse()
        return out

    def commits_iter(self, newest_first: bool = True):
        """Lazily parse commit JSONs (numeric-stem files only — the log
        dir also holds refs.json/tags), newest-first by default.  The ONE
        place commit-log listing/filtering/parsing lives: early-stopping
        consumers (cdf_applied_high_water) and the full-history reader
        (_commits) both draw from it, so a log-layout change cannot
        silently diverge the two."""
        paths = sorted(
            (self.path / self.LOG_DIR).glob("*.json"), reverse=newest_first
        )
        for p in paths:
            if p.stem.isdigit():
                with open(p) as fh:
                    yield json.load(fh)

    def latest_version(self) -> int:
        """Highest committed version; 0 = empty table (no commits)."""
        versions = [
            int(p.stem)
            for p in (self.path / self.LOG_DIR).glob("*.json")
            if p.stem.isdigit()
        ]
        return max(versions, default=0)

    def snapshot(self, version: int | None = None) -> Snapshot:
        """THE commit-log fold: one pass over the commits at or below
        ``version`` (default: latest) builds the ``Snapshot`` every other
        view reads.  A checkpoint (``base``) commit is AUTHORITATIVE: the
        fold resets to what it carries.  That makes expire_snapshots
        crash-safe — a log caught between the checkpoint swap and the
        unlink of the older commits still replays to exactly the
        checkpoint's state, never to resurrected pre-cutoff files.  An
        expired version raises instead of reading back empty."""
        v = self.latest_version() if version is None else version
        live: set[str] = set()
        dvs: dict[str, str] = {}
        stats: dict[str, dict] = {}
        addv: dict[str, int] = {}
        schemas: dict[int, dict] = {}
        cons: dict[str, str] = {}
        set_at: dict[str, int] = {}
        blooms: dict[str, dict] = {}
        ptf: dict | None = None
        hist: list[dict] = []
        clustered: set[str] = set()
        for i, c in enumerate(self.commits_iter(newest_first=False)):
            n = c["version"]
            if i == 0 and c.get("base") and v < n:
                raise ValueError(
                    f"version {v} has been expired (earliest retained: {n})"
                )
            if n > v:
                break
            if c.get("base"):
                live, dvs = set(), {}
                cons = dict(c.get("constraints") or {})
                carried = c.get("constraint_set_at") or {}
                set_at = {k: carried.get(k, n) for k in cons}
                blooms = dict(c.get("bloom_filters") or {})
                ptf = c.get("partition_transform")
                # a checkpoint without a history degrades to its one spec
                hist = list(
                    c.get("partition_transform_history") or ([ptf] if ptf else [])
                )
            elif c.get("partition_transform"):
                ptf = c["partition_transform"]
                hist.append(ptf)
            live = (live - set(c["removes"])) | set(c["adds"])
            if c.get("op") in ("cluster", "cluster_incremental"):
                clustered.update(c["adds"])
            # a removed data file's vector goes with it (the rewrite
            # applied it); dv_updates install or replace vectors, and a
            # None value is restore_version's explicit clear marker
            for f in c["removes"]:
                dvs.pop(f, None)
            for f, d in (c.get("dv_updates") or {}).items():
                if d is None:
                    dvs.pop(f, None)
                else:
                    dvs[f] = d
            # checkpoints carry the original add versions forward; a
            # commit's own adds only backstop files with no recorded origin
            for f, av in (c.get("add_versions") or {}).items():
                addv.setdefault(f, int(av))
            for f in c["adds"]:
                addv.setdefault(f, n)
            stats.update(c.get("stats") or {})
            for h in c.get("schema_history") or []:
                schemas.setdefault(h["version"], h)
            if c.get("schema"):
                schemas[n] = {
                    "version": n,
                    "fields": c["schema"]["fields"],
                    "pre_fields": c["schema"].get(
                        "pre_fields", c["schema"]["fields"]
                    ),
                }
            ck = c.get("constraint")
            if ck and ck.get("sql") is None:
                cons.pop(ck["name"], None)
                set_at.pop(ck["name"], None)
            elif ck:
                cons[ck["name"]] = ck["sql"]
                set_at[ck["name"]] = n
            bf = c.get("bloom_filter")
            if bf:
                blooms[bf["col"]] = {k: x for k, x in bf.items() if k != "col"}
        files = tuple(sorted(live))
        uniq: dict[str, dict] = {}
        for spec in hist:
            uniq.setdefault(_hidden_name(spec), spec)
        return Snapshot(
            version=v,
            files=files,
            dvs=dvs,
            stats={f: stats[f] for f in files if f in stats},
            add_versions={f: addv[f] for f in files},
            schemas=tuple(schemas[k] for k in sorted(schemas)),
            constraints=cons,
            constraint_set_at=set_at,
            blooms=blooms,
            transform=ptf,
            transform_history=tuple(uniq.values()),
            clustered=frozenset(clustered.intersection(files)),
        )

    def live_files(self, version: int | None = None) -> list[str]:
        """File names live at ``version`` (default: latest)."""
        return list(self.snapshot(version).files)

    def dv_map(self, version: int | None = None) -> dict[str, str]:
        """data-file name -> deletion-vector file name live at ``version``
        (default latest) — the merge-on-read state.  Empty dict = no DVs
        anywhere, and every read path stays on the untouched fast path."""
        return self.snapshot(version).dvs

    def _dv_rows(self, dv_files: list[str]) -> DataFrame:
        """(file, pos) rows of the given deletion-vector parquet files."""
        return self.spark.read.parquet(
            *[str(self.path / self.DATA_DIR / f) for f in sorted(set(dv_files))]
        )

    def history(self) -> list[dict]:
        """Commit metadata (version, op, n_adds, n_removes, app_txn_id)."""
        return [
            {
                "version": c["version"],
                "op": c["op"],
                "n_adds": len(c["adds"]),
                "n_removes": len(c["removes"]),
                "app_txn_id": c.get("app_txn_id"),
            }
            for c in self._commits()
        ]

    # ------------------------------------------------- schema evolution
    @staticmethod
    def _current_fields(snap: Snapshot) -> list[dict]:
        """Registered fields at ``snap``, refreshed with ids for any
        columns present in the snapshot but not yet registered
        (bootstraps identity ids on the first schema change; later, folds
        additively-evolved columns into the registry).  The snapshot's
        columns come from the log alone (``Snapshot.scan_plan``)."""
        fields = [dict(f) for f in snap.fields]
        max_id = max(
            (
                f["id"]
                for s in snap.schemas
                for f in (s["fields"] + s["pre_fields"])
            ),
            default=0,
        )
        known = {f["name"] for f in fields}
        for c in snap.scan_plan(snap.files)[1]:
            if c not in known:
                max_id += 1
                fields.append({"id": max_id, "name": c})
        return fields

    def _commit_schema(
        self, op: str, mutate, max_retries: int = 10
    ) -> int:
        """Commit a schema change: ``mutate(fields)`` edits the refreshed
        field list in place (rename/drop).  Fields are recomputed per
        retry so a lost version race re-validates against the winner."""

        def _plan(snap: Snapshot) -> tuple[list, dict]:
            pre = self._current_fields(snap)
            fields = [dict(f) for f in pre]
            mutate(fields)
            return [], {"schema": {"fields": fields, "pre_fields": pre}}

        return self._commit(
            self.snapshot(), op, retries=max_retries, rebase=_plan
        )

    def rename_column(self, old: str, new: str, max_retries: int = 10) -> int:
        """Rename a column by FIELD ID (Iceberg semantics): a metadata-only
        commit — no data files rewritten.  Reads map each file's physical
        column names to the logical names of the schema in force at the
        requested version, so old files surface the renamed column under
        its new name, time travel to pre-rename versions shows the old
        name, and table_changes across the rename boundary diffs the
        column as ITSELF (a pure-rename version yields an empty feed)."""

        def _mut(fields: list[dict]) -> None:
            names = {f["name"] for f in fields}
            if old not in names:
                raise ValueError(f"no such column: {old!r}")
            if new in names:
                raise ValueError(f"column already exists: {new!r}")
            for f in fields:
                if f["name"] == old:
                    f["name"] = new
                    return

        return self._commit_schema("rename_column", _mut, max_retries)

    def drop_column(self, name: str, max_retries: int = 10) -> int:
        """Drop a column by FIELD ID: metadata-only — old files keep the
        physical column, but reads at or after the drop never surface it
        (and a later new column reusing the name gets a FRESH id, never
        resurrecting dropped data).  Time travel before the drop still
        shows it."""

        def _mut(fields: list[dict]) -> None:
            if name not in {f["name"] for f in fields}:
                raise ValueError(f"no such column: {name!r}")
            fields[:] = [f for f in fields if f["name"] != name]

        return self._commit_schema("drop_column", _mut, max_retries)

    # ----------------------------------------------------------------- read
    def read(
        self, version: int | None = None, schema_version: int | None = None
    ) -> DataFrame:
        """Snapshot read (time travel with ``version``).

        ADDITIVE schema evolution: a commit may add columns, and older
        files surface them as null — the Delta/Iceberg add-column
        semantics, resolved from each file's recorded write schema.  A
        numeric column whose type drifted across appends (int then
        bigint) reads as the widened type.  Time travel to a
        pre-evolution version reads only pre-evolution files and so
        shows the old schema.

        Renames/drops resolve through FIELD IDS (rename_column /
        drop_column): live files group by the physical-name mapping of
        their write era, each group's physical columns alias to the
        logical names of the schema in force at the target version, and
        the groups union by name (missing columns null-fill) — see
        ``Snapshot.scan_plan``.  ``schema_version`` reads ``version``'s
        DATA under a different version's NAMES (table_changes uses it to
        diff across a rename boundary)."""
        snap = self.snapshot(version)
        if not snap.files:
            raise ValueError(
                f"table {self.path} has no data at version {snap.version}"
            )
        names = (
            None
            if schema_version is None
            else self.snapshot(schema_version).schemas
        )
        return self._read_resolved(snap, snap.files, names)

    @staticmethod
    def _apply_dvs(
        df: DataFrame, dv_rows: DataFrame | None, keep_positions: bool
    ) -> DataFrame:
        """Attach per-row (file, position) identity from the parquet scan
        metadata and anti-join the deletion-vector rows — the merge-on-read
        application.  ``df`` must be a RAW parquet scan (the `_metadata`
        struct is only resolvable directly on a file source).  No broadcast
        hint: a DV can be large after a bulk delete, and AQE picks
        broadcast from the runtime size when it is small."""
        out = df.withColumn(
            "__file",
            F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1),
        ).withColumn("__pos", F.col("_metadata.row_index"))
        if dv_rows is not None:
            out = out.join(
                dv_rows.select(
                    F.col("file").alias("__file"), F.col("pos").alias("__pos")
                ),
                ["__file", "__pos"],
                "left_anti",
            )
        if not keep_positions:
            out = out.drop("__file", "__pos")
        return out

    def _read_resolved(
        self,
        snap: Snapshot,
        files,
        schemas=None,
        with_positions: bool = False,
    ) -> DataFrame:
        """Era-resolved read of ``files`` (live files of ``snap``) under
        ``Snapshot.scan_plan``'s projection, with ``snap``'s deletion
        vectors applied: rows whose (file, row_index) appear in a vector
        are filtered out of the scan.  Every scan takes its schema from the
        log, so planning opens no parquet footer and runs no
        schema-merge job.  ``with_positions`` keeps the per-row
        ``__file``/``__pos`` identity columns (the DV writer's input).
        An empty ``files`` gives a schema-correct empty frame."""
        if not files:
            if not snap.files:
                raise ValueError(
                    f"table {self.path} has no data at version {snap.version}"
                )
            return self._read_resolved(snap, snap.files, schemas).where(
                F.lit(False)
            )
        scans, types = snap.scan_plan(files, schemas)
        pos = ["__file", "__pos"] if with_positions else []
        parts = []
        for fs, sch, part in scans:
            df = self.spark.read.schema(
                _struct_from_rec(list(sch.items()))
            ).parquet(*[str(self.path / self.DATA_DIR / f) for f in fs])
            dv_files = [snap.dvs[f] for f in fs if f in snap.dvs]
            if dv_files or with_positions:
                # DV application must touch the RAW scan (the _metadata
                # struct resolves only there), before the era projection
                df = self._apply_dvs(
                    df, self._dv_rows(dv_files) if dv_files else None, True
                )
            # project only when the scan is not already the era's logical
            # frame: every select costs driver round-trips on the hot
            # merge path, and an untouched scan needs none
            if df.columns != [p for p, _ in part] + pos or any(
                p != lg or sch[p] != types[lg] for p, lg in part
            ):
                cols = []
                for p, lg in part:
                    c = _col(p)
                    if sch[p] != types[lg]:
                        c = c.cast(_struct_from_rec([[lg, types[lg]]])[0].dataType)
                    cols.append(c.alias(lg))
                df = df.select(*cols, *pos)
            parts.append(df)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        if out.columns != [*types, *pos]:
            out = out.select(*[_col(c) for c in types], *pos)
        return out

    def file_stats(self) -> dict[str, dict]:
        """Live file name -> the stats harvested when it was written:
        {column: [min, max]} plus ``__rows__``, ``__nulls__``,
        ``__schema__`` and ``__bloom__``.  Column keys are PHYSICAL
        write-era names; ``Snapshot.stat`` resolves logical names."""
        return self.snapshot().stats

    def read_pruned(
        self,
        column: str,
        lower=None,
        upper=None,
        version: int | None = None,
    ) -> DataFrame:
        """Data-skipping read: open only the live files whose committed
        [min, max] for ``column`` can intersect [lower, upper], then
        apply the exact filter on top (stats prune files, the filter
        prunes rows).  Files without stats for the column are always
        read — pruning is an OPTIMIZATION, never a correctness gate.
        This is the Delta-style skip that turns a key-range query on a
        range-laid-out table into a handful of file opens.

        Rename/drop history is transparent: stats keys are PHYSICAL
        write-era names, so the skip resolves logical → field id →
        per-file physical name before the lookup (the Iceberg stats-by-
        field-id shape), and the chosen files read through the same
        era-mapped resolution as read()."""
        return self.read_pruned_multi([(column, lower, upper)], version)

    def prune_files(
        self, preds: list[tuple], version: int | None = None
    ) -> list[str]:
        """Files of the ``version`` snapshot whose committed [min, max]
        stats can intersect EVERY ``(column, lower, upper)`` predicate —
        the planning half of multi-dimensional data skipping (a z-order
        clustered layout keeps BOTH columns' per-file bands narrow, so a
        2-D box predicate prunes on each dimension independently)."""
        return self.snapshot(version).prune(preds)

    def read_pruned_multi(
        self, preds: list[tuple], version: int | None = None
    ) -> DataFrame:
        """Data-skipping read over a CONJUNCTION of range predicates:
        open only the files prune_files keeps, then apply the exact
        filters on top (stats prune files, the filters prune rows)."""
        snap = self.snapshot(version)
        df = self._read_resolved(snap, snap.prune(preds))
        for column, lower, upper in preds:
            if lower is not None:
                df = df.where(F.col(column) >= F.lit(lower))
            if upper is not None:
                df = df.where(F.col(column) <= F.lit(upper))
        return df

    def version_as_of(self, timestamp: float) -> int:
        """Latest version committed at or before ``timestamp`` (unix
        seconds) — Delta's TIMESTAMP AS OF resolution.  Raises if the
        table has no commit that old (mirrors Delta: a timestamp before
        the first commit is an error, after the last resolves to it)."""
        best = None
        for c in self._commits():
            if c.get("committed_at") is not None and c["committed_at"] <= timestamp:
                best = c["version"]
        if best is None:
            raise ValueError(
                f"no commit at or before timestamp {timestamp} "
                f"(earliest retained commit is newer)"
            )
        return best

    def read_as_of(self, timestamp: float) -> DataFrame:
        """Snapshot read at a TIMESTAMP (TIMESTAMP AS OF): resolves to
        the latest version whose commit time is <= the timestamp, then
        time-travels there."""
        return self.read(version=self.version_as_of(timestamp))

    def prune_files_values(
        self, column: str, values, version: int | None = None
    ) -> list[str]:
        """Files of the snapshot whose committed [min, max] for ``column``
        can contain ANY of the discrete ``values`` — the membership twin
        of prune_files, used by the txn-backed index probes (IVF cell
        probes, BM25 term-bucket probes) where the predicate is an
        IN-set, not a range.  Files without stats are kept (pruning is
        never a correctness gate).

        When the table declared a bloom filter on ``column``
        (set_bloom_filter), each file's committed sparse bitset is
        probed AFTER the [min, max] check: a value inside the range but
        provably absent from the bitset still skips the file — the case
        range stats can never prune on a hash-scattered key, where every
        file's [min, max] spans the whole domain (Delta's bloom-index
        role).  The stale-same-name soundness argument carries from
        range stats: a dropped-and-re-added column resolves to a
        different field id, so pname misses the old era's bloom and the
        file is kept."""
        return self.snapshot(version).prune_values(column, values)

    def prune_files_nullness(
        self, column: str, is_null: bool, version: int | None = None
    ) -> list[str]:
        """Files of the snapshot that can contain a row matching
        ``column IS NULL`` (``is_null=True``) or ``IS NOT NULL`` — the
        null-count twin of prune_files, driven by the per-file
        "__nulls__" commit stats: an IS NULL predicate skips files whose
        committed null count is 0, an IS NOT NULL predicate skips
        all-null files (null count == row count).  Files without a null
        count for the column are kept — pruning is an optimization,
        never a correctness gate (same rule as min/max).  See
        ``Snapshot.prune_nullness`` for the strict name resolution."""
        return self.snapshot(version).prune_nullness(column, is_null)

    def read_pruned_nullness(
        self, column: str, is_null: bool, version: int | None = None
    ) -> DataFrame:
        """Data-skipping read for ``IS [NOT] NULL`` predicates: open only
        the files prune_files_nullness keeps, then apply the exact
        predicate on top (stats prune files, the filter prunes rows) —
        read_pruned's contract extended to nullness, per Delta's
        nullCount skipping."""
        snap = self.snapshot(version)
        df = self._read_resolved(snap, snap.prune_nullness(column, is_null))
        pred = F.col(column).isNull() if is_null else F.col(column).isNotNull()
        return df.where(pred)

    def read_files(
        self, files: list[str], version: int | None = None
    ) -> DataFrame:
        """Era-resolved, DV-applied read of an EXPLICIT file subset (the
        consumer of prune_files/prune_files_values); an empty list
        returns a schema-correct empty frame instead of crashing on a
        zero-path parquet scan."""
        return self._read_resolved(self.snapshot(version), files)

    def is_committed(self, app_txn_id: str) -> bool:
        return any(
            c.get("app_txn_id") == app_txn_id for c in self.commits_iter()
        )

    def _replayed(self, app_txn_id: str | None) -> bool:
        """True when ``app_txn_id`` already committed: the write is a
        re-delivery and returns before running any Spark job."""
        return app_txn_id is not None and self.is_committed(app_txn_id)

    # ------------------------------------------------------- constraints
    def constraints(self, version: int | None = None) -> dict[str, str]:
        """name -> CHECK predicate SQL in force at ``version`` (Delta's
        table constraints): folded from set/drop commits; checkpoint
        commits carry the live set forward."""
        return self.snapshot(version).constraints

    @staticmethod
    def _satisfies(predicate_sql: str):
        """THE constraint-satisfaction rule, used identically by
        set_constraint, _validate_adds, and restore_version (and by
        merge_full_sync for its delete condition): a row
        satisfies a CHECK iff the predicate is literally TRUE — a NULL
        result counts as a violation (conservative quality-gate
        semantics, stricter than SQL/Delta's NULL-satisfies; one rule
        everywhere so a snapshot accepted by ADD CONSTRAINT is never
        rejected when its identical rows are appended later)."""
        return F.coalesce(F.expr(predicate_sql).cast("boolean"), F.lit(False))

    def set_constraint(self, name: str, predicate_sql: str) -> int:
        """Register a CHECK constraint as a metadata-only commit.  The
        CURRENT snapshot must already satisfy it (one validating pass —
        the Delta ADD CONSTRAINT contract), and every later write batch
        is validated before its files become visible: a violating batch
        raises ConstraintViolation and commits nothing.  Enforcement
        costs one filtered count over each WRITE BATCH (batch-sized,
        map-only), never a standing-table scan.  NULL predicate results
        violate, matching _validate_adds (see _satisfies)."""
        snap = self.snapshot()
        bad = (
            self._read_resolved(snap, snap.files)
            .where(~self._satisfies(predicate_sql))
            .count()
            if snap.files
            else 0  # empty table: vacuously satisfied
        )
        if bad:
            raise ConstraintViolation(
                f"existing snapshot has {bad} rows violating {name!r}: "
                f"{predicate_sql}"
            )
        return self._commit(
            snap,
            "set_constraint",
            extra={"constraint": {"name": name, "sql": predicate_sql}},
        )

    def drop_constraint(self, name: str) -> int:
        return self._commit(
            self.snapshot(),
            "drop_constraint",
            extra={"constraint": {"name": name, "sql": None}},
        )

    def _validate_adds(
        self, adds: dict[str, dict], live: dict[str, str]
    ) -> None:
        """Validate freshly WRITTEN (still-invisible) staged files against
        the CHECK constraints ``live``, by reading the parquet back — never
        by re-evaluating the batch DAG.  Re-evaluation would be both
        unsound (a nondeterministic batch could pass the validating
        evaluation and then write DIFFERENT rows) and wasteful (the
        upstream DAG computes twice).  Reading back costs one scan of the
        batch-sized staged files.  NULL predicate results count as
        violations (the shared _satisfies rule).  ``adds`` is the name ->
        stats map ``_write_files`` returned: every staged file of one
        write shares its recorded schema, so the read-back opens no
        footer."""
        if not live or not adds:
            return
        rec = next(iter(adds.values()))["__schema__"]
        df = self.spark.read.schema(_struct_from_rec(rec)).parquet(
            *[str(self.path / self.DATA_DIR / f) for f in adds]
        )
        self._raise_violations(df, live)

    def _raise_violations(self, df: DataFrame, live: dict[str, str]) -> None:
        """One-pass violation count of ``df`` against every constraint in
        ``live`` (single aggregate action, no per-constraint scans); the
        first violating constraint raises ConstraintViolation."""
        conds = [self._satisfies(sql) for sql in live.values()]
        row = df.select(
            *[
                F.count(F.when(~c, F.lit(1))).alias(f"__bad_{i}")
                for i, c in enumerate(conds)
            ]
        ).collect()[0]
        for i, (n, sql) in enumerate(live.items()):
            if row[f"__bad_{i}"]:
                raise ConstraintViolation(
                    f"write batch has {row[f'__bad_{i}']} rows violating "
                    f"{n!r}: {sql}"
                )

    # ---------------------------------------------------------------- write
    def _write_files(
        self, df: DataFrame, snap: Snapshot | None = None
    ) -> dict[str, dict]:
        """Write df as immutable parquet files under data/ and return
        name -> stats for the commit that will name them (files are
        INVISIBLE until then).  Per-file column min/max, null and row
        counts are harvested from the parquet footers — the data-skipping
        metadata (Delta-style) read_pruned() prunes on.  ``snap``
        (default: the latest snapshot) supplies the declared bloom
        columns."""
        token = uuid.uuid4().hex
        tmp = self.path / f"_staging_{token}"
        df.write.mode("overwrite").parquet(str(tmp))
        stats: dict[str, dict] = {}
        # The write SCHEMA rides the commit under a reserved stats key
        # (like __rows__/__nulls__/__bloom__, and carried forward by
        # expire_snapshots' checkpoint): every part file of this write has
        # exactly df's columns and Spark types, so readers can reconstruct
        # an era group's merged schema from the log ALONE — no footer
        # is opened to plan a read (Iceberg records schemas in commit
        # metadata for the same reason).  Nullability is not
        # recorded: file-based scans surface every column nullable.
        schema_rec = [
            [f.name, f.dataType.json()] for f in df.schema.fields
        ]
        # declared point-lookup bloom columns, resolved to this write
        # era's PHYSICAL names (a concurrent declaration landing after
        # this read just leaves these files bloom-less — conservative,
        # never wrong)
        bspec = (snap or self.snapshot()).bloom_targets()
        for i, part in enumerate(sorted(tmp.glob("part-*.parquet"))):
            name = f"{token}-{i:05d}.parquet"
            dest = self.path / self.DATA_DIR / name
            os.rename(part, dest)
            stats[name] = _footer_stats(dest)
            stats[name]["__schema__"] = schema_rec
            if bspec:
                bl = _file_bloom(dest, bspec)
                if bl:
                    stats[name]["__bloom__"] = bl
        shutil.rmtree(tmp)
        return stats

    def _try_commit(
        self,
        version: int,
        op: str,
        adds,
        removes: list[str],
        app_txn_id: str | None,
        extra: dict | None = None,
    ) -> bool:
        """Atomically publish ``version``; False if someone else won it.
        ``adds`` is the name -> stats map ``_write_files`` returned (or
        plain names, for files whose stats an earlier commit records);
        ``extra`` merges additional metadata into the commit (schema
        evolution records)."""
        payload = json.dumps(
            {
                "version": version,
                "op": op,
                "adds": list(adds),
                "removes": removes,
                "app_txn_id": app_txn_id,
                "committed_at": time.time(),
                "stats": adds if isinstance(adds, dict) else {},
                **(extra or {}),
            },
            indent=1,
        )
        try:
            fd = os.open(
                self._log_path(version), os.O_CREAT | os.O_EXCL | os.O_WRONLY
            )
        except FileExistsError:
            return False
        with os.fdopen(fd, "w") as fh:
            fh.write(payload)
        return True

    def _commit(
        self, snap: Snapshot, op: str, adds=(), removes=(),
        app_txn_id: str | None = None, extra: dict | None = None, *,
        staged: bool = True, retries: int = 1, rebase=None,
    ) -> int:
        """THE commit step (see the module docstring): publish ``op`` over
        the pinned ``snap`` as version ``snap.version + 1`` and return
        that version.  ``adds`` is the name -> stats map ``_write_files``
        returned, ``removes`` the files the commit retires, and ``extra``
        more commit metadata whose ``dv_files`` this write staged too.

        Staged data files are validated against ``snap.constraints``.  On
        any failure every staged file is unlinked; a lost race raises
        TxnConflict.  ``staged=False`` hands files earlier commits own
        (restore): they are neither validated nor unlinked.

        ``retries`` > 1 makes a blind writer: a lost race re-pins the
        latest snapshot, returns its version if ``app_txn_id`` landed
        meanwhile, and tries again.  ``rebase(snap)`` -> ``(removes,
        extra)`` re-plans the commit against each pinned snapshot."""
        files = [*adds, *(extra or {}).get("dv_files", [])] if staged else []
        checked = None
        try:
            for attempt in range(retries):
                if attempt:
                    snap = self.snapshot()
                    if self._replayed(app_txn_id):
                        return snap.version
                if rebase is not None:
                    removes, extra = rebase(snap)
                if staged and snap.constraints != checked:
                    self._validate_adds(adds, snap.constraints)
                    checked = snap.constraints
                if self._try_commit(
                    snap.version + 1, op, adds, list(removes), app_txn_id, extra
                ):
                    files = []  # published: the log owns them now
                    return snap.version + 1
        finally:
            for name in files:
                (self.path / self.DATA_DIR / name).unlink(missing_ok=True)
        raise TxnConflict(
            f"{_CONFLICT_LABELS.get(op, op)} based on version {snap.version} "
            f"lost to a concurrent commit (now {self.latest_version()}); "
            f"re-read and retry"
        )

    def _stage_dv(self, snap: Snapshot, matched: DataFrame) -> dict:
        """Stage ONE deletion-vector file for the rows of ``matched`` (a
        ``with_positions`` read of ``snap`` filtered to the rows to
        delete), unioned with the prior vectors of the files it touches
        so their earlier deletes survive the mapping replacement (the
        prior vector files stay referenced by older commits for time
        travel).  DVs are small by construction — deleted positions, not
        data — so every touched file maps to the one coalesced file.
        Returns the commit's {"dv_updates", "dv_files"}, or {} when
        nothing matched."""
        hits = matched.select(
            F.col("__file").alias("file"), F.col("__pos").alias("pos")
        )
        touched = sorted(
            r["file"] for r in hits.select("file").distinct().collect()
        )
        if not touched:
            return {}
        prior = [snap.dvs[f] for f in touched if f in snap.dvs]
        if prior:
            hits = hits.unionByName(
                self._dv_rows(prior).where(F.col("file").isin(touched))
            ).distinct()
        dv_files = list(self._write_files(hits.coalesce(1), snap))
        return {
            "dv_updates": {f: dv_files[0] for f in touched},
            "dv_files": dv_files,
        }

    def append(
        self, df: DataFrame, app_txn_id: str | None = None, max_retries: int = 10
    ) -> int:
        """Blind append: never conflicts, retries version races.
        ``app_txn_id`` makes re-delivery a no-op (exactly-once sink)."""
        return self._write_blind(df, "append", app_txn_id, max_retries)

    def overwrite(
        self, df: DataFrame, app_txn_id: str | None = None, max_retries: int = 10
    ) -> int:
        """Replace the table contents atomically."""
        return self._write_blind(
            df, "overwrite", app_txn_id, max_retries, lambda s: (s.files, None)
        )

    def _write_blind(
        self, df: DataFrame, op: str, app_txn_id, retries: int, rebase=None
    ) -> int:
        """Stage ``df`` and commit it as a blind writer (see _commit)."""
        if self._replayed(app_txn_id):
            return self.latest_version()
        snap = self.snapshot()
        adds = self._write_files(df, snap)
        return self._commit(
            snap, op, adds, app_txn_id=app_txn_id, retries=retries, rebase=rebase
        )

    def merge_upsert(
        self,
        updates: DataFrame,
        keys: list[str],
        app_txn_id: str | None = None,
    ) -> int:
        """Transactional MERGE: latest row per key wins between the
        current snapshot and ``updates`` (updates win ties).  Optimistic
        concurrency: the merge computes against a pinned snapshot; if
        ANOTHER DATA COMMIT lands first, the snapshot is stale and the
        merge raises TxnConflict rather than silently losing the
        concurrent writer's rows (rewrite-all-files merge => any
        concurrent change conflicts; a file-pruned merge would narrow
        this to overlapping files)."""
        if self._replayed(app_txn_id):
            return self.latest_version()
        snap = self.snapshot()
        merged = updates
        if snap.files:
            merged = (
                self._read_resolved(snap, snap.files)
                .join(updates.select(*keys), keys, "left_anti")
                .unionByName(updates)
            )
        return self._commit(
            snap, "merge", self._write_files(merged, snap), snap.files,
            app_txn_id,
        )

    def delete_keys(
        self,
        keys_df: DataFrame,
        keys: list[str],
        app_txn_id: str | None = None,
    ) -> int:
        """Transactional row-level DELETE: remove every row whose key
        appears in ``keys_df`` (left-anti rewrite).  Same strict OCC
        contract as merge_upsert — the rewrite pins a snapshot, and any
        concurrent data commit raises TxnConflict instead of silently
        resurrecting or losing rows; retry via merge_upsert_with_retry's
        pattern (re-call re-reads the new snapshot).  ``app_txn_id``
        makes re-delivery a no-op (exactly-once CDC apply)."""
        if self._replayed(app_txn_id):
            return self.latest_version()
        snap = self.snapshot()
        if not snap.files:
            # deleting from an empty table: nothing to rewrite, no commit
            return snap.version
        remaining = self._read_resolved(snap, snap.files).join(
            keys_df.select(*keys), keys, "left_anti"
        )
        return self._commit(
            snap, "delete", self._write_files(remaining, snap), snap.files,
            app_txn_id,
        )

    def delete_keys_dv(
        self,
        keys_df: DataFrame,
        keys: list[str],
        app_txn_id: str | None = None,
    ) -> int:
        """Row-level DELETE as a DELETION-VECTOR commit (merge-on-read):
        instead of rewriting every file that holds a matching row
        (``delete_keys`` — copy-on-write, the known 100 TB pain where a
        single-row GDPR delete rewrites a 1 GB file), record the matching
        rows' (file, row_index) positions in a small parquet deletion
        vector and commit only a metadata update.  Readers anti-join the
        vector at scan time; ``compact`` / ``cluster_zorder`` / any
        rewrite later folds the DV in physically.

        Contract mirrors delete_keys: same OCC conflict rule (commit at
        base+1 or TxnConflict), idempotent under ``app_txn_id``, time
        travel to pre-delete versions still shows the rows, and
        table_changes reports the deletes (CDF derives from snapshot
        reads, which apply DVs).  A file's second DV delete UNIONS with
        its existing vector (the prior vector file stays referenced by
        older commits for time travel).

        Scale: the write cost is O(matched rows + prior vectors of the
        touched files) — never a data-file rewrite; the scan-side cost is
        one anti-join against the vector, which disappears entirely after
        the next compaction.  Delta Lake's deletion vectors and Iceberg
        v2 positional delete files are this exact design."""
        if self._replayed(app_txn_id):
            return self.latest_version()
        snap = self.snapshot()
        if not snap.files:
            return snap.version
        extra = self._stage_dv(
            snap,
            self._read_resolved(snap, snap.files, with_positions=True).join(
                keys_df.select(*keys), keys, "left_semi"
            ),
        )
        if not extra:
            # nothing matched: a content no-op commits nothing (and does
            # not consume the app_txn_id) — same rule as the empty table
            return snap.version
        return self._commit(
            snap, "delete_dv", app_txn_id=app_txn_id, extra=extra
        )

    # ------------------------------------------------------------- maintain
    def vacuum(self) -> list[str]:
        """Delete orphan data files no version references (crashed
        writers).  Files removed by later versions are KEPT — they back
        time travel."""
        referenced: set[str] = set()
        for c in self._commits():
            referenced |= set(c["adds"])
            referenced |= set(c.get("dv_files") or [])
        dropped = []
        for p in (self.path / self.DATA_DIR).glob("*.parquet"):
            if p.name not in referenced:
                p.unlink()
                dropped.append(p.name)
        return sorted(dropped)


def merge_upsert_with_retry(
    table: TxnTable,
    updates: DataFrame,
    keys: list[str],
    app_txn_id: str | None = None,
    max_retries: int = 20,
    backoff_s: float = 0.05,
) -> int:
    """Bounded-retry MERGE for concurrent writers.

    TxnTable.merge_upsert is strict OCC: it computes against a pinned
    snapshot and raises TxnConflict if any other data commit lands first
    (rewrite-all-files merge ⇒ every concurrent change conflicts).  Under
    N racing writers that is the CORRECT primitive — no lost updates —
    but each writer must rebase and retry to make progress.  This helper
    is that loop: on conflict it sleeps a linearly growing backoff
    (attempt × ``backoff_s``, deterministic — no randomness, so tests
    replay) and calls merge_upsert again, which re-reads the NEW latest
    snapshot, i.e. the retry is a semantic rebase, not a blind re-commit.

    Liveness: every conflict means some OTHER writer committed, so with N
    writers a writer retries at most N-1 times before winning; set
    ``max_retries`` ≥ the expected writer fan-in.  Combined with the
    create-exclusive log-file primitive (_try_commit) the outcome is
    SERIALIZABLE: the final state equals replaying the writers' merges in
    commit-version order (TestConcurrentWriters proves this by replay).

    ``app_txn_id`` passes through, so a writer that is itself re-driven
    (stream redelivery, job retry) stays exactly-once across the loop.
    """
    last: TxnConflict | None = None
    for attempt in range(max_retries):
        try:
            return table.merge_upsert(updates, keys, app_txn_id=app_txn_id)
        except TxnConflict as exc:
            last = exc
            if attempt + 1 < max_retries:  # no pointless sleep before giving up
                time.sleep(backoff_s * (attempt + 1))
    raise TxnConflict(
        f"merge gave up after {max_retries} rebase attempts: {last}"
    )


def exactly_once_stream_sink(table: TxnTable, sink_id: str = "stream"):
    """foreachBatch handler giving a streaming query EXACTLY-ONCE
    delivery into a TxnTable: the micro-batch id becomes the commit's
    ``app_txn_id``, so a batch replayed after a crash/restart (Structured
    Streaming's at-least-once contract on sinks without their own
    transaction log) re-commits as a no-op instead of duplicating rows.

        q = (df.writeStream
               .foreachBatch(exactly_once_stream_sink(table, "events"))
               .option("checkpointLocation", ckpt).start())

    This is precisely the idempotent-sink half Delta's streaming writer
    implements (txnAppId/txnVersion); combined with the checkpoint's
    replay it upgrades the pipeline end to end to exactly-once."""

    def _handle(batch_df, batch_id: int) -> None:
        table.append(batch_df, app_txn_id=f"{sink_id}-{batch_id}")

    return _handle


def compact(
    table: TxnTable,
    app_txn_id: str | None = None,
    target_rows: int | None = None,
) -> int:
    """Rewrite the current snapshot's files into a coalesced layout as a
    single commit (adds the new files, removes every current one).  The
    table's CONTENT is unchanged — only the file count drops — and
    history still time-travels to pre-compaction versions (their files
    are referenced by earlier commits, so vacuum keeps them).  Small-file
    sprawl is the tax of per-batch streaming appends; this is the
    periodic maintenance commit that pays it down.

    ``target_rows`` sizes the output: the committed per-file row counts
    (``__rows__`` stats — no data scan) give the snapshot total, and the
    rewrite repartitions to ceil(total / target_rows) files.  Default
    remains a single file (test-scale tables); production picks
    target_rows so a file lands near the ~128 MB scan-friendly size."""
    if table._replayed(app_txn_id):
        return table.latest_version()
    snap = table.snapshot()
    if not snap.files:
        return snap.version
    data = table._read_resolved(snap, snap.files)
    if target_rows:
        total = sum(snap.stats[f]["__rows__"] for f in snap.files)
        data = data.repartition(max(1, -(-total // target_rows)))
    else:
        data = data.coalesce(1)
    return table._commit(
        snap, "compact", table._write_files(data, snap), snap.files, app_txn_id
    )


def _clustered(
    table: TxnTable,
    snap: Snapshot,
    files,
    col_a: str,
    col_b: str,
    bits: int,
    curve: str,
    num_files: int,
) -> DataFrame:
    """The shared rewrite of cluster_zorder / cluster_incremental:
    validate the curve, derive each column's global [lo, hi] from the
    committed per-file stats of ALL of ``snap``'s live files (driver-side,
    no data scan; one aggregate fallback when stats are missing), and
    return ``files`` range-partitioned into ``num_files`` and sorted on
    the curve value over the uniform 2^bits width_bucket cells.
    Incremental clustering rewrites only the tail but takes its bounds
    from the full snapshot here, so tail files land on the same cell
    lattice as the clustered bulk."""
    from aws_genaric_datapipeline_spark.operators.layout import (
        hilbert_value,
        zorder_value,
    )

    if curve not in ("zorder", "hilbert"):
        raise ValueError(f"unknown curve {curve!r}")
    curve_fn = zorder_value if curve == "zorder" else hilbert_value
    bounds: dict[str, tuple] = {}
    for col in (col_a, col_b):
        lo = hi = None
        have_all = True
        for f in snap.files:
            s = snap.stat(f, col)
            if s is None:
                have_all = False
                break
            lo = s[0] if lo is None else min(lo, s[0])
            hi = s[1] if hi is None else max(hi, s[1])
        if not have_all:
            row = table._read_resolved(snap, snap.files).agg(
                F.min(col).alias("lo"), F.max(col).alias("hi")
            ).collect()[0]
            lo, hi = row["lo"], row["hi"]
        bounds[col] = (lo, hi)
    n = 1 << bits

    def _cell(col: str):
        lo, hi = bounds[col]
        if lo is None or hi is None or lo == hi:
            return F.lit(0).cast("bigint")
        wb = F.width_bucket(
            F.col(col).cast("double"),
            F.lit(float(lo)),
            F.lit(float(hi)),
            F.lit(n),
        )
        # width_bucket returns n+1 at the max (and 0 below min, which
        # truncated float stats can produce) — clamp into [1, n]
        return (
            F.greatest(F.least(wb, F.lit(n)), F.lit(1)) - 1
        ).cast("bigint")

    return (
        table._read_resolved(snap, files)
        .withColumn("__z", curve_fn(_cell(col_a), _cell(col_b), bits))
        .repartitionByRange(num_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
    )


def cluster_zorder(
    table: TxnTable,
    col_a: str,
    col_b: str,
    app_txn_id: str | None = None,
    num_files: int = 8,
    bits: int = 8,
    curve: str = "zorder",
) -> int:
    """Rewrite the current snapshot CLUSTERED on the Z-order (Morton)
    curve of two numeric columns, as a single compaction-style commit —
    Delta's ``OPTIMIZE ... ZORDER BY (a, b)``.  Content is unchanged;
    what changes is the physical layout: every output file covers a
    narrow min/max band on BOTH columns, so the committed footer stats
    let prune_files / read_pruned_multi skip most files for a 2-D box
    predicate (a single-column sort only ever helps its leading column).

    The per-column grid is uniform ``2^bits`` buckets over the column's
    global [min, max], derived from the committed per-file stats fold —
    a driver-side pass over the log, NO extra data scan (falls back to
    one aggregate when stats are missing).  Heavily skewed columns want
    equi-depth cells instead (rank-scale upstream, layout.write_zordered
    shows the shape); uniform cells keep the rewrite one shuffle.

    Deletion vectors fold in (the snapshot read applies them and the
    commit removes every base file, clearing the DV map) and history
    still time-travels to the pre-cluster layout.  Same OCC rule as
    compact: any concurrent data commit wins and this raises TxnConflict.

    ``curve="hilbert"`` swaps the Morton interleave for the Hilbert
    curve (layout.hilbert_value): no diagonal jumps, so each file covers
    a tighter 2-D region for the same row count — the stronger-locality
    clustering production formats moved to.  Same commit, same pruning.
    """
    if curve not in ("zorder", "hilbert"):
        raise ValueError(f"unknown curve {curve!r}")
    if table._replayed(app_txn_id):
        return table.latest_version()
    snap = table.snapshot()
    if not snap.files:
        return snap.version
    clustered = _clustered(
        table, snap, snap.files, col_a, col_b, bits, curve, num_files
    )
    return table._commit(
        snap, "cluster", table._write_files(clustered, snap), snap.files,
        app_txn_id,
    )


def cluster_incremental(
    table: TxnTable,
    col_a: str,
    col_b: str,
    app_txn_id: str | None = None,
    num_files: int = 4,
    bits: int = 8,
    curve: str = "zorder",
) -> dict:
    """INCREMENTAL clustering: rewrite only the files appended SINCE the
    last cluster commit, leaving the already-clustered bulk untouched —
    the liquid-clustering maintenance shape.  A full cluster_zorder at
    100 TB re-shuffles the whole table to fold in a day's appends; this
    clusters just the unclustered tail (among itself, on the same curve
    cells — the grid bounds come from the same committed-stats fold, so
    tail files land on the same cell lattice and prune_files treats old
    and new files uniformly).  Periodic full rewrites still help (two
    clustered generations overlap in curve ranges where a single rewrite
    would not), but every query between them gets tail files with tight
    2-D bands instead of hash-scattered ones.

    Files added by a previous "cluster"/"cluster_incremental" commit are
    skipped; the commit removes ONLY the tail files, so the conflict
    window and the write cost both track the tail size.  DV entries on
    tail files fold in (their rows are read DV-applied and the files are
    removed).  Returns {"version", "n_clustered", "n_untouched"};
    version = current latest when there is no tail (no-op, no commit)."""
    if curve not in ("zorder", "hilbert"):
        raise ValueError(f"unknown curve {curve!r}")
    if table._replayed(app_txn_id):
        return {
            "version": table.latest_version(),
            "n_clustered": 0,
            "n_untouched": len(table.live_files()),
        }
    snap = table.snapshot()
    tail = [f for f in snap.files if f not in snap.clustered]
    if not tail:
        return {
            "version": snap.version,
            "n_clustered": 0,
            "n_untouched": len(snap.files),
        }
    # same grid as cluster_zorder, over the FULL snapshot's bounds so the
    # tail lands on the same cell lattice as the clustered bulk
    rewritten = _clustered(
        table, snap, tail, col_a, col_b, bits, curve, num_files
    )
    adds = table._write_files(rewritten, snap)
    v = table._commit(snap, "cluster_incremental", adds, tail, app_txn_id)
    return {
        "version": v,
        "n_clustered": len(tail),
        "n_untouched": len(snap.files) - len(tail),
    }


def restore_version(
    table: TxnTable, version: int, app_txn_id: str | None = None
) -> int:
    """RESTORE the table to an earlier version's CONTENT as a NEW commit
    (Delta's RESTORE TABLE ... VERSION AS OF): the restore point's live
    files are re-added and the current snapshot's files removed — a
    metadata-only commit (data files are immutable and still on disk;
    nothing rewrites).  History is preserved: the bad versions remain
    time-travelable, the restore itself appears in history, and CDF
    between pre- and post-restore versions reports exactly the rows the
    restore un-did.  The restore point's deletion-vector state carries
    over (its dv mapping is re-declared on the restore commit), and any
    CHECK constraints added since the restore point stay in force — they
    are table metadata, not content, AND the restored content is
    validated against them before the restore commits (the restore-point
    snapshot already satisfied every constraint in force back then —
    writes are gated — so only constraints set AFTER the restore point
    need the extra scan; zero scans in the common no-new-constraints
    case).  A nonexistent or future version raises ValueError instead of
    committing a no-op restore that never existed.

    Same OCC rule as every maintenance commit: a concurrent data commit
    wins and this raises TxnConflict."""
    if table._replayed(app_txn_id):
        return table.latest_version()
    known = {c["version"] for c in table.commits_iter()}
    base_version = max(known, default=0)
    if min(known, default=1) == 1:
        known.add(0)  # pre-first-commit empty table, unless expiry cut it off
    if version not in known:
        raise ValueError(
            f"cannot restore to version {version}: not in retained history "
            f"(latest is {base_version})"
        )
    cur, target = table.snapshot(base_version), table.snapshot(version)
    # constraints set after the restore point: the only ones the restored
    # snapshot has never been validated against
    to_check = {
        n: sql
        for n, sql in cur.constraints.items()
        if cur.constraint_set_at.get(n, 0) > version
    }
    if to_check and target.files:
        table._raise_violations(
            table._read_resolved(target, target.files), to_check
        )
    shared = set(target.files) & set(cur.files)
    # re-added files carry their stats and original write era, so the
    # restore commit stays self-contained once expiry drops their origin
    adds = {f: target.stats[f] for f in target.files if f not in shared}
    removes = [f for f in cur.files if f not in shared]
    # shared files must end with EXACTLY the restore point's DV state:
    # re-declare its mapping, and explicitly CLEAR (None marker) any
    # vector added after the restore point on a file both snapshots share
    dv_updates: dict = dict(target.dvs)
    for f in shared:
        if f in cur.dvs and f not in target.dvs:
            dv_updates[f] = None
    extra: dict = {
        "restored_version": version,
        "add_versions": {f: target.add_versions[f] for f in adds},
    }
    if dv_updates:
        extra["dv_updates"] = dv_updates
        extra["dv_files"] = sorted(set(target.dvs.values()))
    # re-added files belong to earlier commits: never validated or unlinked
    return table._commit(
        cur, "restore", adds, removes, app_txn_id, extra, staged=False
    )


def expire_snapshots(table: TxnTable, keep_last: int) -> list[int]:
    """Bound the time-travel window to the last ``keep_last`` versions
    (Iceberg's expire_snapshots): versions below the cutoff are removed
    from the log, and the cutoff version's commit is REWRITTEN as a
    self-contained checkpoint (its full live file set as adds, no
    removes), so replay from the truncated log reconstructs every
    retained version bit-for-bit: the checkpoint is the serialized
    ``snapshot(cutoff)``, and ``snapshot(v)`` of every retained version
    is the same before and after.

    After expiry, ``vacuum()`` reclaims the data files only expired
    versions referenced — the disk-space payoff (before expiry, vacuum
    keeps them because they back time travel).

    Reading an expired version raises (``TxnTable.snapshot``) rather than
    silently returning an empty/wrong snapshot.  Two caveats, same as
    the production formats: retention must exceed (a) the oldest
    concurrent reader's pin, (b) the longest possible sink re-delivery
    window — expired commits' ``app_txn_id``s are forgotten (except the
    cutoff's own), so an ancient replayed micro-batch would no longer
    dedupe.

    The checkpoint swap uses write-temp + os.replace (atomic on POSIX
    and the put-overwrite object-store analog); the O_EXCL race
    discipline is unnecessary here because maintenance is single-writer
    by contract (as in Delta/Iceberg, concurrent expiry is externally
    serialized).

    Returns the expired version numbers (empty list = nothing to do).
    """
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    versions = sorted(c["version"] for c in table.commits_iter())
    cutoff = max(versions, default=0) - keep_last + 1
    expired = [v for v in versions if v < cutoff]
    if not expired:
        return []
    pinned = {n: v for n, v in _load_refs(table).items() if v in set(expired)}
    if pinned:
        # Iceberg semantics: tagged snapshots are retained; expiring one
        # requires an explicit delete_tag first — never a silent unpin.
        raise ValueError(
            f"cannot expire tagged versions {sorted(pinned.items())}; "
            f"delete_tag first"
        )
    with open(table._log_path(cutoff)) as fh:
        orig = json.load(fh)
    # The checkpoint IS snapshot(cutoff): live files with their stats and
    # ORIGINAL add versions (field-id resolution for pre-cutoff files,
    # which keep their write-era physical column names), the schema
    # chain, the DV mapping (its vector files stay referenced, so vacuum
    # keeps them), constraints with their set versions, blooms and
    # transforms.  The commit time is the ORIGINAL one, not the expiry
    # wall-time: read_as_of for any instant at which that snapshot was
    # live must keep resolving to it after expiry.
    payload = json.dumps(
        table.snapshot(cutoff).checkpoint(
            orig.get("app_txn_id"), orig.get("committed_at", time.time())
        ),
        indent=1,
    )
    tmp = table._log_path(cutoff).with_suffix(".tmp")
    with open(tmp, "w") as fh:
        fh.write(payload)
    os.replace(tmp, table._log_path(cutoff))
    for v in expired:
        table._log_path(v).unlink(missing_ok=True)
    return expired


def table_changes(
    table: TxnTable,
    from_version: int,
    to_version: int,
    keys: list[str],
) -> DataFrame:
    """Change data feed between two committed versions (Delta's
    table_changes): the row-level diff derived FROM THE SNAPSHOTS, so it
    works for any pair of versions regardless of which operations
    produced them (append/overwrite/merge/compact — compaction commits
    correctly produce an EMPTY feed, since content is unchanged).

    Returns one row per changed key:
      keys..., change_type ('insert' | 'delete' | 'update_postimage'),
      old_<col>..., new_<col>... for every non-key column (null on the
      absent side of inserts/deletes).  Unchanged rows are filtered with
      a null-safe struct compare, so evolution-added columns (null in
      old files) diff correctly.

    ``from_version=0`` diffs against the empty table (everything is an
    insert) — the bootstrap form a downstream incremental consumer uses
    on first sync.

    Scale: one full-outer join keyed on the table key between two
    snapshot scans — the operation an incremental downstream pays ONCE
    per sync instead of reprocessing the table; at 100 TB both sides
    prune to the key + compared columns, and a key-partitioned layout
    turns it into a co-located join (see operators/bucketing.py).
    """
    # Both snapshots read under to_version's NAMES (field-id resolution):
    # a version that only renames a column therefore diffs as an empty
    # feed, and updates across the boundary diff the renamed column as
    # itself — CDF stays correct through schema evolution.
    new = table.read(to_version)
    if from_version == 0:
        old = new.where(F.lit(False))
    else:
        old = table.read(from_version, schema_version=to_version)
    val_cols = [c for c in new.columns if c not in keys]
    for c in val_cols:
        if c not in old.columns:
            old = old.withColumn(c, F.lit(None).cast(dict(new.dtypes)[c]))
    o = old.select(
        *[F.col(k).alias(f"_k_old_{k}") for k in keys],
        *[F.col(c).alias(f"old_{c}") for c in val_cols],
    )
    n = new.select(
        *[F.col(k).alias(f"_k_new_{k}") for k in keys],
        *[F.col(c).alias(f"new_{c}") for c in val_cols],
    )
    cond = None
    for k in keys:
        eq = F.col(f"_k_old_{k}") == F.col(f"_k_new_{k}")
        cond = eq if cond is None else (cond & eq)
    j = o.join(n, cond, "full_outer")
    old_key_null = F.col(f"_k_old_{keys[0]}").isNull()
    new_key_null = F.col(f"_k_new_{keys[0]}").isNull()
    change = (
        F.when(old_key_null, F.lit("insert"))
        .when(new_key_null, F.lit("delete"))
        .otherwise(F.lit("update_postimage"))
    )
    same = F.struct(*[F.col(f"old_{c}") for c in val_cols]).eqNullSafe(
        F.struct(*[F.col(f"new_{c}") for c in val_cols])
    )
    return (
        j.where(old_key_null | new_key_null | ~same)
        .select(
            *[
                F.coalesce(F.col(f"_k_new_{k}"), F.col(f"_k_old_{k}")).alias(k)
                for k in keys
            ],
            change.alias("change_type"),
            *[F.col(f"old_{c}") for c in val_cols],
            *[F.col(f"new_{c}") for c in val_cols],
        )
    )


def _envelope_files(snap: Snapshot, key: str, lo, hi) -> list[str]:
    """Non-empty live files whose committed ``key`` range can meet the
    [lo, hi] envelope (files without stats count — pruning never gates
    correctness): the files a keyed merge must rewrite."""
    return [
        f
        for f in snap.prune([(key, lo, hi)])
        if snap.stats.get(f, {}).get("__rows__") != 0
    ]


def merge_upsert_pruned(
    table: TxnTable,
    updates: DataFrame,
    key: str,
    app_txn_id: str | None = None,
) -> dict:
    """MERGE that rewrites ONLY the files whose committed [min, max]
    range on ``key`` can contain a delta key — the file-pruned form of
    ``TxnTable.merge_upsert`` (which rewrites the whole snapshot, the
    documented 100 TB gap).  Files outside the delta's key envelope are
    CARRIED OVER untouched: they appear in neither adds nor removes, so
    the commit cost tracks the DELTA's locality, not the table size —
    on a key-range-laid-out table (layout.range_partition / z-order), a
    narrow delta touches a handful of files.

    Pruning is stats-driven and conservative: a file without stats for
    ``key`` is always treated as touched (correctness never rides on the
    optimization — the same rule as read_pruned).  Envelope pruning
    ([delta_min, delta_max] interval overlap) is sound because a file
    whose range misses the envelope contains no delta key at all; a
    sparse wide-spread delta can be refined with an exact broadcast key
    set or a Bloom probe per file — same commit protocol, tighter
    touched set.

    Returns {"version", "n_touched", "n_carried"} — the carried count is
    the savings the layout bought.  Raises TxnConflict if another data
    commit lands first (same optimistic rule as merge_upsert, but the
    conflict window is now only the touched files in principle;
    detecting overlap-only conflicts is a straightforward refinement of
    the version check).
    """
    if table._replayed(app_txn_id):
        return {
            "version": table.latest_version(),
            "n_touched": 0,
            "n_carried": len(table.live_files()),
        }
    snap = table.snapshot()
    row = updates.agg(
        F.min(key).alias("lo"),
        F.max(key).alias("hi"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    lo, hi = row["lo"], row["hi"]
    if row["n"] == 0:
        # empty delta: the merge is a content no-op — commit nothing.
        # Checked BEFORE the empty-table branch, so an empty delta on an
        # empty table is equally a no-op (no junk version 1, no consumed
        # app_txn_id) — the two paths must agree on the contract.
        return {
            "version": snap.version,
            "n_touched": 0,
            "n_carried": len(snap.files),
        }
    if not snap.files:
        v = table.merge_upsert(updates, keys=[key], app_txn_id=app_txn_id)
        return {"version": v, "n_touched": 0, "n_carried": 0}
    # A non-empty delta whose key is all-NULL (lo None) equi-matches no
    # existing key: the merge is a pure append, every base file carried.
    # Otherwise every non-empty file whose key range can meet the delta's
    # envelope is touched (rename/drop transparent — Snapshot.stat).
    touched = [] if lo is None else _envelope_files(snap, key, lo, hi)
    if touched:
        # era-mapped read: touched files surface under LOGICAL names, so
        # the anti-join/union against the (logical-named) delta is sound
        # on evolved tables and the rewrite normalizes them to current
        # names (stats re-harvest under those at commit).  Deletion
        # vectors apply here too — a rewrite that ignored a touched
        # file's DV would resurrect its deleted rows.
        base = table._read_resolved(snap, touched)
        merged = base.join(updates.select(key), [key], "left_anti").unionByName(
            updates, allowMissingColumns=True
        )
    else:
        merged = updates
    v = table._commit(
        snap, "merge_pruned", table._write_files(merged, snap), touched,
        app_txn_id,
    )
    return {
        "version": v,
        "n_touched": len(touched),
        "n_carried": len(snap.files) - len(touched),
    }


def merge_full_sync(
    table: TxnTable,
    source: DataFrame,
    key: str,
    delete_condition: str | None = None,
    app_txn_id: str | None = None,
) -> dict:
    """MERGE with full-sync semantics in ONE commit — Delta's
    ``WHEN MATCHED THEN UPDATE ALL / WHEN NOT MATCHED THEN INSERT ALL /
    WHEN NOT MATCHED BY SOURCE [AND <cond>] THEN DELETE``: after the
    commit, every source row is present (source wins on key ties), and
    every pre-existing row whose key does NOT appear in the source is
    deleted — all of them when ``delete_condition`` is None, else only
    the rows satisfying the condition (SQL over the row's columns, e.g.
    ``"region = 'EU'"``).  Replica sync therefore needs neither a
    separate diff nor a delete_keys pass.

    Scale shape (the delete side PREFERS metadata over rewrites):
    - Files overlapping the source's [min, max] key envelope are
      REWRITTEN (they may hold matched rows): kept content = their
      unmatched rows that fail the delete condition, plus all source
      rows.  Same stats-driven conservative pruning as
      merge_upsert_pruned — a file without stats counts as touched.
    - Files OUTSIDE the envelope can hold no matched key, so every row
      is "not matched by source": with no condition the whole file is
      DROPPED from the snapshot (metadata-only, zero bytes moved); with
      a condition the matching rows land in a DELETION VECTOR
      (merge-on-read, zero data files rewritten — the delete_keys_dv
      machinery, prior vectors unioned so earlier deletes survive).

    OCC: computed against a pinned snapshot, commits at base+1 or
    raises TxnConflict (any concurrent data commit conflicts — the
    delete-by-absence side reads the WHOLE snapshot, so no narrower
    window is sound).  Idempotent under ``app_txn_id``.  The written
    batch passes CHECK-constraint validation before visibility.

    Returns {"version", "n_touched", "n_carried", "n_dropped",
    "n_dv_files"}."""
    if table._replayed(app_txn_id):
        return {
            "version": table.latest_version(),
            "n_touched": 0,
            "n_carried": len(table.live_files()),
            "n_dropped": 0,
            "n_dv_files": 0,
        }
    snap = table.snapshot()
    row = source.agg(
        F.min(key).alias("lo"), F.max(key).alias("hi")
    ).collect()[0]
    lo, hi = row["lo"], row["hi"]
    # an all-NULL source key (lo None) equi-matches nothing: every base
    # file is pure not-matched-by-source territory
    touched = [] if lo is None else _envelope_files(snap, key, lo, hi)
    unmatched = sorted(set(snap.files) - set(touched))
    deletes = (
        None if delete_condition is None else table._satisfies(delete_condition)
    )
    # ---- rewrite side: touched files' kept rows + every source row.
    # With no delete condition EVERY unmatched row deletes, so the
    # rewrite is exactly the source; with one, unmatched rows failing
    # the condition survive the rewrite.
    if touched and deletes is not None:
        base = table._read_resolved(snap, touched)
        kept = base.join(source.select(key), [key], "left_anti").where(~deletes)
        merged = kept.unionByName(source, allowMissingColumns=True)
    else:
        merged = source
    adds = table._write_files(merged, snap)
    # ---- delete-by-absence side on unmatched files
    removes = list(touched)
    extra: dict = {}
    if unmatched and deletes is None:
        # every row deletes: drop the files, move zero bytes
        removes += unmatched
    elif unmatched:
        extra = table._stage_dv(
            snap,
            table._read_resolved(snap, unmatched, with_positions=True).where(
                deletes
            ),
        )
    v = table._commit(snap, "merge_full_sync", adds, removes, app_txn_id, extra)
    return {
        "version": v,
        "n_touched": len(touched),
        "n_carried": len(snap.files) - len(touched)
        - (len(unmatched) if deletes is None else 0),
        "n_dropped": len(unmatched) if deletes is None else 0,
        "n_dv_files": len(extra.get("dv_updates", {})),
    }


# ----------------------------------------- hidden partition transforms
# Iceberg-style hidden partitioning: the table declares a TRANSFORM of a
# raw column (days(ts), bucket(n, col)); writes cluster by the transform
# into a physical __p_* column that every read path strips
# (_read_resolved), and raw-column predicates prune files THROUGH the
# transform — the user never sees or manages a partition column.


def _transform_column(spec: dict, col, dtype: str | None = None) -> "F.Column":
    """The transform's value expression over ``col`` (a Column).
    ``dtype`` (the column's Spark type string) selects truncate's
    variant: W-char prefix for strings, floor-to-width for integers
    (F.pmod is the sign-correct floored modulus, so negative values
    floor toward -inf like Iceberg) — MONOTONIC either way, so range
    predicates prune through truncate like days."""
    if spec["kind"] == "days":
        return F.datediff(col.cast("date"), F.to_date(F.lit("1970-01-01")))
    if spec["kind"] == "bucket":
        return F.pmod(F.xxhash64(col), F.lit(int(spec["n"]))).cast("int")
    if spec["kind"] == "truncate":
        w = int(spec["n"])
        if dtype == "string":
            return F.substring(col, 1, w)
        return col - F.pmod(col, F.lit(w))
    raise ValueError(f"unknown partition transform kind {spec['kind']!r}")


def _hidden_name(spec: dict) -> str:
    if spec["kind"] in ("bucket", "truncate"):
        return f"__p_{spec['kind']}_{spec['n']}_{spec['col']}"
    return f"__p_{spec['kind']}_{spec['col']}"


def set_bloom_filter(
    table: TxnTable, column: str, num_bits: int = 4096, k: int = 5
) -> int:
    """Declare a point-lookup bloom filter on ``column`` as a
    metadata-only commit (Delta's `delta.bloomFilter` table property
    role): every file written AFTER the declaration commits a sparse
    per-file bitset alongside its min/max stats, and
    prune_files_values() skips files the bitset proves cannot contain a
    probed value — the lookup shape range stats never prune on a
    hash-scattered key.  Earlier files carry no bloom and read
    conservatively.  Defaults (m=4096, k=5) hold ~1% false positives to
    ~570 distinct values per file and cost at most m positions of
    commit-log metadata per file.

    On a schema-evolved table the declaration records the column's FIELD
    ID, so later renames keep producing bitsets under each write era's
    physical name (the same rename-transparency the min/max stats have);
    declaring a column the non-empty table doesn't have raises."""
    if num_bits < 8 or k < 1:
        raise ValueError("bloom filter requires num_bits >= 8 and k >= 1")
    decl = {"col": column, "m": int(num_bits), "k": int(k)}
    snap = table.snapshot()
    if snap.schemas:
        fid = next((f["id"] for f in snap.fields if f["name"] == column), None)
        if fid is None:
            raise ValueError(
                f"set_bloom_filter: column {column!r} is not in the "
                f"table's current schema"
            )
        decl["field_id"] = fid
    elif snap.files and column not in snap.scan_plan(snap.files)[1]:
        raise ValueError(
            f"set_bloom_filter: column {column!r} is not in the "
            f"table's current schema"
        )
    # the era the (possibly name-only) declaration refers to — lets the
    # write path resolve the name through renames that happen later
    decl["declared_at"] = snap.version + 1
    return table._commit(snap, "set_bloom_filter", extra={"bloom_filter": decl})


def bloom_spec(table: TxnTable, version: int | None = None) -> dict[str, dict]:
    """column -> {m, k[, field_id]} bloom declarations in force at
    ``version`` (latest per column wins; expiry checkpoints carry the
    folded map forward under ``bloom_filters``)."""
    return table.snapshot(version).blooms


def metadata_count(table: TxnTable, version: int | None = None) -> int:
    """COUNT(*) of the snapshot WITHOUT scanning data files: committed
    per-file ``__rows__`` stats (recorded for every file this engine
    writes) sum to the physical total, and live deletion vectors
    subtract their positions (read from the DV files only — O(deleted
    rows), the same cost class as Delta's stored DV cardinality; a
    table with no DVs answers purely from the commit log).  This is the
    aggregate-pushdown shape that answers `SELECT count(*)` on a 100 TB
    table in milliseconds."""
    snap = table.snapshot(version)
    total = sum(int(snap.stats[f]["__rows__"]) for f in snap.files)
    if snap.dvs:
        total -= (
            table._dv_rows(sorted(set(snap.dvs.values())))
            .where(F.col("file").isin(sorted(snap.dvs)))
            .select("file", "pos")
            .distinct()
            .count()
        )
    return total


def metadata_minmax(
    table: TxnTable, column: str, version: int | None = None
) -> tuple:
    """MIN/MAX of ``column`` answered from committed per-file stats
    wherever that is sound, scanning ONLY the files where it is not
    (Delta's OptimizeMetadataOnlyQuery role, extended to deletion
    vectors): a file contributes its footer [min, max] directly unless
    (a) it carries a live DV (the extremum might be a deleted row),
    (b) it has no stats for the column, or (c) the column resolution is
    ambiguous on an evolved table — those files alone are scanned and
    folded in.  Parquet footer min/max ignore NULLs, matching SQL
    aggregate semantics; all-null files carry no min/max stat and land
    in the scan set, where the exact aggregate ignores them too.

    Column-era resolution is STRICT field-id (the prune_files_nullness
    rule, not the range-pruning rule): a stale same-name stat is sound
    for range PRUNING (missed rows surface as NULL and never match) but
    NOT for aggregation (a dropped column's extrema are not the
    re-added column's), so unresolvable files are scanned, never
    trusted.

    Stats stringify temporal scalars (ISO order-preserving), so on a
    date/timestamp column the result may come back as ISO strings when
    any metadata stat contributed.  Returns (None, None) for an
    empty/all-null snapshot."""
    snap = table.snapshot(version)
    lo = hi = None
    scan: list[str] = []
    for f in snap.files:
        if snap.stats.get(f, {}).get("__rows__") == 0:
            continue
        s = snap.stat(f, column, strict=True)
        if f in snap.dvs or s is None:
            scan.append(f)
            continue
        mn, mx = s
        lo = mn if lo is None else min(lo, mn)
        hi = mx if hi is None else max(hi, mx)
    if scan:
        row = (
            table._read_resolved(snap, scan)
            .agg(F.min(column).alias("mn"), F.max(column).alias("mx"))
            .collect()[0]
        )
        smn, smx = row["mn"], row["mx"]
        if smn is not None:
            if isinstance(lo, str) and not isinstance(smn, str):
                smn, smx = str(smn), str(smx)
            lo = smn if lo is None else min(lo, smn)
            hi = smx if hi is None else max(hi, smx)
    return lo, hi


def set_partition_transform(
    table: TxnTable, kind: str, col: str, n: int | None = None
) -> int:
    """Declare the table's hidden partition transform as a metadata-only
    commit (Iceberg's partition spec): ``kind`` is ``"days"`` (temporal
    clustering; raw range predicates prune through the monotonic
    transform), ``"bucket"`` with ``n`` (hash clustering; raw equality
    predicates prune to the one matching bucket), or ``"truncate"`` with
    ``n`` (Iceberg's truncate[W] — floor-to-width for integers, W-char
    prefix for strings; monotonic, so range predicates prune through it
    like days).  Later declarations replace earlier ones; existing files
    keep their old layout and stay readable (pruning is stats-driven,
    never a correctness gate)."""
    if kind not in ("days", "bucket", "truncate"):
        raise ValueError(f"unknown partition transform kind {kind!r}")
    if kind in ("bucket", "truncate") and (n is None or n < 1):
        raise ValueError(f"{kind} transform requires n >= 1")
    spec = {"kind": kind, "col": col, **({"n": int(n)} if n else {})}
    return table._commit(
        table.snapshot(),
        "set_partition_transform",
        extra={"partition_transform": spec},
    )


def partition_transform(
    table: TxnTable, version: int | None = None
) -> dict | None:
    """The transform spec in force at ``version`` (latest declaration
    wins; expiry checkpoints carry it forward under the same key)."""
    return table.snapshot(version).transform


def partition_transform_history(
    table: TxnTable, version: int | None = None
) -> list[dict]:
    """EVERY transform spec declared at or below ``version``, deduped by
    hidden column name — the partition-EVOLUTION fold (Iceberg's spec
    history).  Pruning conjoins one hidden predicate per spec here:
    each spec's stats key encodes (kind, n, col), so a predicate only
    ever bites files actually written under that exact transform, and
    files from every era keep pruning after the spec changes.  Expiry
    checkpoints carry the folded list (``partition_transform_history``);
    a pre-history checkpoint degrades to its single carried spec — old
    eras' files just read conservatively, never wrongly."""
    return list(table.snapshot(version).transform_history)


def append_clustered(
    table: TxnTable,
    df: DataFrame,
    num_files: int = 4,
    app_txn_id: str | None = None,
) -> int:
    """Append laid out by the table's declared hidden transform: the
    __p_* transform column is computed, the batch range-partitions and
    sorts on it (each file covers a narrow contiguous transform band —
    tight footer stats), and the column ships IN the parquet so pruning
    reads it from commit stats while _read_resolved hides it from every
    logical read.  Plain appends remain legal; their files simply carry
    no transform stats and are never pruned by it."""
    spec = partition_transform(table)
    if spec is None:
        raise ValueError(
            "append_clustered requires set_partition_transform first"
        )
    hidden = _hidden_name(spec)
    out = (
        df.withColumn(
            hidden,
            _transform_column(
                spec, F.col(spec["col"]), dict(df.dtypes).get(spec["col"])
            ),
        )
        .repartitionByRange(num_files, hidden)
        .sortWithinPartitions(hidden)
    )
    return table.append(out, app_txn_id=app_txn_id)


def _transform_bounds(
    table: TxnTable, specs: list[dict], pairs: list[tuple], lower, upper
) -> dict[tuple, tuple]:
    """(spec index, type_json) pair -> the spec's transform of the raw
    bounds, as (lower, upper) with None kept None, evaluated ENGINE-SIDE
    in one tiny job (one column per pair, one row per given bound) so
    pruning bounds are bit-identical to what the writer computed — never
    a Python reimplementation of xxhash64/datediff.  Each bound is CAST
    to the pair's type, the type the raw column had in the files being
    pruned (``Snapshot.write_schema``): xxhash64 is type-sensitive
    (hash(42 AS int) != hash(42 AS bigint)), so hashing any other type —
    the Python-inferred one, or the widened read type after an int ->
    bigint drift — computes a different bucket than append_clustered
    wrote and silently prunes matching files."""
    if not pairs:
        return {}
    cols = []
    for i, tj in pairs:
        dt = _struct_from_rec([["v", tj]])[0].dataType
        cols.append(
            _transform_column(specs[i], F.col("v").cast(dt), dt.simpleString())
        )
    vals = [v for v in (lower, upper) if v is not None]
    rows = table.spark.createDataFrame([(v,) for v in vals], ["v"]).select(
        *cols
    ).collect()
    return {
        p: (
            rows[0][j] if lower is not None else None,
            rows[-1][j] if upper is not None else None,
        )
        for j, p in enumerate(pairs)
    }


def prune_files_hidden(
    table: TxnTable,
    lower=None,
    upper=None,
    version: int | None = None,
) -> list[str]:
    """Files that can match a RAW-column predicate, answered through the
    hidden transform: ``days`` maps [lower, upper] through the monotonic
    transform and range-prunes on the __p_* stats (conjoined with any
    raw-column stats); ``bucket`` requires equality (lower == upper) and
    prunes to files whose __p_* band covers the value's bucket — the
    case raw min/max can never prune, since every bucket file spans the
    full raw range.

    PARTITION EVOLUTION: the conjunction carries one hidden predicate
    per spec EVER declared on the query column (partition_transform_
    history), not just the current one.  Each hidden stats key encodes
    (kind, n, col), so a spec's predicate only bites files written under
    that exact transform — after days(ts) evolves to bucket(n, ts), an
    equality probe prunes the old era through the day band AND the new
    era through the bucket, with zero per-file attribution bookkeeping
    (wrong-era stats simply don't exist under the probed name, and a
    missing stat always reads conservatively).

    TYPE DRIFT: each file computed its transform under the raw column's
    type in its own write batch, so files group by those recorded types
    and each group prunes with bounds transformed under its own types."""
    return _prune_hidden(table, table.snapshot(version), lower, upper)


def _prune_hidden(table: TxnTable, snap: Snapshot, lower, upper) -> list[str]:
    """prune_files_hidden over an already-folded snapshot."""
    spec = snap.transform
    if spec is None:
        raise ValueError("table has no partition transform declared")
    if not snap.files:
        return []
    if lower is None and upper is None:
        return list(snap.files)  # no predicate: nothing to prune by
    is_eq = lower is not None and lower == upper
    usable = [
        e
        for e in snap.transform_history
        if e["col"] == spec["col"]
        and (e["kind"] in ("days", "truncate") or is_eq)
    ]
    if spec["kind"] == "bucket" and not is_eq and not usable:
        raise ValueError(
            "bucket transform pruning requires an equality predicate "
            "(lower == upper)"
        )
    # files group by the raw column's write type under each usable spec
    # whose hidden column they carry (files without one have no stat)
    groups: dict[tuple, list[str]] = {}
    for f in snap.files:
        rec = dict(snap.write_schema(f))
        key = tuple(
            (i, rec[e["col"]])
            for i, e in enumerate(usable)
            if _hidden_name(e) in rec
        )
        groups.setdefault(key, []).append(f)
    # ONE Spark job evaluates every (spec, type) pair's bounds
    pairs = sorted({p for key in groups for p in key})
    bounds = _transform_bounds(table, usable, pairs, lower, upper)
    kept: set[str] = set()
    for key, fs in groups.items():
        preds = [(spec["col"], lower, upper)] + [
            (_hidden_name(usable[i]), *bounds[(i, t)]) for i, t in key
        ]
        kept.update(set(fs) & set(snap.prune(preds)))
    return [f for f in snap.files if f in kept]


def read_pruned_hidden(
    table: TxnTable,
    lower=None,
    upper=None,
    version: int | None = None,
) -> DataFrame:
    """Data-skipping read for a raw-column predicate answered through
    the hidden transform: open only prune_files_hidden's files, then
    apply the exact raw predicate on top."""
    snap = table.snapshot(version)
    chosen = _prune_hidden(table, snap, lower, upper)
    df = table._read_resolved(snap, chosen)
    col = F.col(snap.transform["col"])
    # the exact filter follows the PREDICATE shape, not the current
    # spec's kind — after evolution a range probe is legal on a
    # bucket-current table (old days-era files still prune)
    if lower is not None and lower == upper:
        return df.where(col == F.lit(lower))
    if lower is not None:
        df = df.where(col >= F.lit(lower))
    if upper is not None:
        df = df.where(col <= F.lit(upper))
    return df


# ------------------------------------------------------------------- tags
def _refs_path(table: TxnTable) -> Path:
    return table.path / table.LOG_DIR / "refs.json"


def _load_refs(table: TxnTable) -> dict:
    p = _refs_path(table)
    if not p.exists():
        return {}
    with open(p) as fh:
        return json.load(fh)


def set_tag(table: TxnTable, name: str, version: int | None = None) -> int:
    """Name a committed version (Iceberg-style tag): ``read_tag`` then
    resolves the name forever — 'the snapshot we trained run 47 on', 'the
    audited quarterly close' — independent of later writes.  Default is
    the current latest version.  Publication is write-temp + os.replace
    (atomic); tags are a tiny name→version map next to the log."""
    v = table.latest_version() if version is None else version
    versions = {c["version"] for c in table._commits()}
    if v not in versions:
        raise ValueError(f"cannot tag version {v}: not a committed version")
    refs = _load_refs(table)
    refs[name] = v
    tmp = _refs_path(table).with_suffix(".tmp")
    with open(tmp, "w") as fh:
        json.dump(refs, fh, indent=1)
    os.replace(tmp, _refs_path(table))
    return v


def read_tag(table: TxnTable, name: str) -> DataFrame:
    """Snapshot read at a named tag."""
    refs = _load_refs(table)
    if name not in refs:
        raise ValueError(f"unknown tag {name!r}; have {sorted(refs)}")
    return table.read(version=refs[name])


def delete_tag(table: TxnTable, name: str) -> None:
    refs = _load_refs(table)
    refs.pop(name, None)
    tmp = _refs_path(table).with_suffix(".tmp")
    with open(tmp, "w") as fh:
        json.dump(refs, fh, indent=1)
    os.replace(tmp, _refs_path(table))


def list_tags(table: TxnTable) -> dict:
    return dict(sorted(_load_refs(table).items()))
