"""Config-driven pipeline model.

Mirrors the reference's declarative JSON pipeline configs
(reference pipelines/tableA/config.json:1-25, loaded by app.py:17-25 and
re-fetched at job runtime, raw_layer_job.py:38-41) — same field layout, new
semantics:

- locations are URIs/paths (local fs in dev, ``s3a://`` in prod) — path
  scheme is config, not code;
- credentials come from config/env references, never literals (fixes the
  hardcoded JDBC credentials at reference raw_layer_job.py:117-119);
- the declared column schema is parsed to a real Spark ``StructType`` and
  enforced at ingest (the reference never reconciled declared vs inferred
  schemas — SURVEY.md §1.2).
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field
from pathlib import Path

import pyspark.sql.types as T

# Spark DDL primitive type names (case-insensitive) and their types.
_PRIMITIVES = {
    "boolean": T.BooleanType,
    "tinyint": T.ByteType,
    "byte": T.ByteType,
    "smallint": T.ShortType,
    "short": T.ShortType,
    "int": T.IntegerType,
    "integer": T.IntegerType,
    "bigint": T.LongType,
    "long": T.LongType,
    "float": T.FloatType,
    "real": T.FloatType,
    "double": T.DoubleType,
    "string": T.StringType,
    "binary": T.BinaryType,
    "date": T.DateType,
    "timestamp": T.TimestampType,
    "timestamp_ltz": T.TimestampType,
    "timestamp_ntz": T.TimestampNTZType,
}
_DDL_TOKEN = re.compile(r"\s*(`(?:[^`]|``)*`|[A-Za-z_]\w*|\d+|[<>(),:])")


def parse_type(text: str) -> T.DataType:
    """Parse a Spark DDL type string — a primitive, ``decimal(p[,s])``, or
    nested ``array<T>``, ``map<K,V>`` and ``struct<name[:]T, ...>`` — the
    way ``StructType.fromDDL`` does (every field, element and value
    nullable), but in Python: no Spark session or JVM call is needed.
    Raises ValueError on an unknown type or malformed string."""
    toks, pos = [], 0
    while text[pos:].strip():
        m = _DDL_TOKEN.match(text, pos)
        if m is None:
            raise ValueError(f"cannot parse type {text!r} at offset {pos}")
        toks.append(m.group(1))
        pos = m.end()

    def take(i: int, want: str | None = None) -> tuple[str, int]:
        if i >= len(toks) or (want is not None and toks[i] != want):
            got = toks[i] if i < len(toks) else "end of string"
            raise ValueError(f"type {text!r}: expected {want or 'a type'}, got {got!r}")
        return toks[i], i + 1

    def one(i: int) -> tuple[T.DataType, int]:
        name, i = take(i)
        kind = name.lower()
        if kind in _PRIMITIVES:
            return _PRIMITIVES[kind](), i
        if kind in ("decimal", "dec", "numeric"):
            prec, scale = 10, 0
            if i < len(toks) and toks[i] == "(":
                p, i = take(i + 1)
                prec, scale = int(p), 0
                if toks[i : i + 1] == [","]:
                    sc, i = take(i + 1)
                    scale = int(sc)
                _, i = take(i, ")")
            if not 1 <= prec <= 38 or not 0 <= scale <= prec:
                raise ValueError(f"type {text!r}: invalid decimal({prec},{scale})")
            return T.DecimalType(prec, scale), i
        if kind == "array":
            _, i = take(i, "<")
            elem, i = one(i)
            _, i = take(i, ">")
            return T.ArrayType(elem, True), i
        if kind == "map":
            _, i = take(i, "<")
            key, i = one(i)
            _, i = take(i, ",")
            val, i = one(i)
            _, i = take(i, ">")
            return T.MapType(key, val, True), i
        if kind == "struct":
            _, i = take(i, "<")
            fields = []
            while toks[i : i + 1] != [">"]:
                if fields:
                    _, i = take(i, ",")
                fname, i = take(i)
                if fname in "<>(),:":
                    raise ValueError(f"type {text!r}: expected a field name, got {fname!r}")
                if fname.startswith("`"):
                    fname = fname[1:-1].replace("``", "`")
                if toks[i : i + 1] == [":"]:
                    i += 1
                ftype, i = one(i)
                fields.append(T.StructField(fname, ftype, True))
            _, i = take(i, ">")
            return T.StructType(fields), i
        raise ValueError(f"unknown type {name!r} in {text!r}")

    dtype, end = one(0)
    if end != len(toks):
        raise ValueError(f"type {text!r}: unexpected {toks[end]!r}")
    return dtype


@dataclass(frozen=True)
class ColumnSpec:
    name: str
    type: str  # Spark DDL type string (parse_type): string, bigint, decimal(12,2), array<float>, ...
    comment: str = ""


@dataclass(frozen=True)
class QualityRuleSpec:
    """Declarative data-quality rule (pipeline/quality.py builds the
    predicate): rule is one of not_null | in_range | matches."""

    rule: str
    column: str
    lo: float | None = None
    hi: float | None = None
    pattern: str | None = None


@dataclass(frozen=True)
class SourceSpec:
    """Where raw data comes from.

    kind='jdbc'    → url/driver/dbtable or view (credentials via env refs)
    kind='parquet'/'csv'/'json'/'orc' → path
    """

    kind: str
    view: str | None = None  # logical view name (reference: raw.CDSView)
    path: str | None = None
    url: str | None = None
    driver: str | None = None
    user_env: str | None = None  # env var NAME holding the username
    password_env: str | None = None  # env var NAME holding the password
    partition_column: str | None = None  # for partitioned JDBC reads
    num_partitions: int = 8
    options: dict[str, str] = field(default_factory=dict)


@dataclass(frozen=True)
class PipelineConfig:
    template: str
    project: str
    subject: str
    job_src: str
    source: SourceSpec
    raw_path: str  # root of the raw layer (reference: s3://rawBucket/rawS3Folder)
    prepared_path: str  # root of the prepared layer
    state_path: str  # state log table location (replaces DynamoDB table)
    table_name: str  # catalog name of the prepared data object
    schema: tuple[ColumnSpec, ...] = ()
    quality: tuple[QualityRuleSpec, ...] = ()  # checked at ingest, same action
    quality_budget: float = 0.0  # max tolerated violation ratio per rule

    @property
    def stack_name(self) -> str:
        """Reference naming convention: {project}-{subject}-{job_src} (app.py:24)."""
        return f"{self.project}-{self.subject}-{self.job_src}"

    def declared_struct(self) -> T.StructType | None:
        """Parse declared column specs into a StructType (None if no schema)."""
        if not self.schema:
            return None
        return T.StructType(
            [T.StructField(c.name, parse_type(c.type), True) for c in self.schema]
        )


def _source_from_dict(d: dict) -> SourceSpec:
    return SourceSpec(
        kind=d.get("kind", "parquet"),
        view=d.get("view"),
        path=d.get("path"),
        url=d.get("url"),
        driver=d.get("driver"),
        user_env=d.get("user_env"),
        password_env=d.get("password_env"),
        partition_column=d.get("partition_column"),
        num_partitions=int(d.get("num_partitions", 8)),
        options=dict(d.get("options", {})),
    )


def parse_config(data: dict, base_dir: str | None = None) -> PipelineConfig:
    """Parse a pipeline config dict (either the new layout or the reference's
    AWS-flavored layout, translated field-for-field)."""
    if "raw" in data and "rawBucket" in data.get("raw", {}):
        # reference layout (pipelines/tableA/config.json): translate S3
        # buckets/folders into generic paths rooted at base_dir or s3a://.
        raw = data["raw"]
        prepared = data.get("prepared", {})
        cfg = data.get("config", {})
        root = base_dir or "s3a://"
        join = (lambda b, f="": os.path.join(root, b, f)) if base_dir else (
            lambda b, f="": f"s3a://{b}/{f}"
        )
        return PipelineConfig(
            template=data["template"],
            project=data["project"],
            subject=data["subject"],
            job_src=cfg["job_src"],
            source=SourceSpec(kind="jdbc", view=raw.get("CDSView")),
            raw_path=join(raw["rawBucket"], raw.get("rawS3Folder", "")),
            prepared_path=join(prepared.get("preparedBucket", ""), raw.get("rawS3Folder", "")),
            state_path=join(cfg.get("dynamoTable", "_pipeline_state")),
            table_name=data.get("data_object", {}).get("name", cfg["job_src"]),
            schema=tuple(
                ColumnSpec(c["name"], c["type"], c.get("comment", ""))
                for c in data.get("data_object", {}).get("schema", [])
            ),
        )
    return PipelineConfig(
        template=data.get("template", "cds_view"),
        project=data.get("project", "default"),
        subject=data.get("subject", "default"),
        job_src=data["job_src"],
        source=_source_from_dict(data.get("source", {})),
        raw_path=data["raw_path"],
        prepared_path=data["prepared_path"],
        state_path=data["state_path"],
        table_name=data.get("table_name", data["job_src"]),
        schema=tuple(
            ColumnSpec(c["name"], c["type"], c.get("comment", ""))
            for c in data.get("schema", [])
        ),
        quality=tuple(
            QualityRuleSpec(
                rule=q["rule"], column=q["column"],
                lo=q.get("lo"), hi=q.get("hi"), pattern=q.get("pattern"),
            )
            for q in data.get("quality", [])
        ),
        quality_budget=float(data.get("quality_budget", 0.0)),
    )


def load_pipeline(path: str | Path, base_dir: str | None = None) -> PipelineConfig:
    with open(path) as f:
        return parse_config(json.load(f), base_dir=base_dir)


def discover_pipelines(pipelines_dir: str | Path, base_dir: str | None = None) -> dict[str, PipelineConfig]:
    """Walk a pipelines/ directory and load every config.json (the engine
    equivalent of the reference's os.walk loop, app.py:17-25)."""
    out: dict[str, PipelineConfig] = {}
    for root, _dirs, files in os.walk(pipelines_dir):
        for fname in files:
            if fname == "config.json":
                cfg = load_pipeline(Path(root) / fname, base_dir=base_dir)
                out[cfg.job_src] = cfg
    return out
