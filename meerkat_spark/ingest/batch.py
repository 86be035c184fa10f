"""Batch ingestion: schemaless rows → typed, time-partitioned Parquet.

Reference semantics being rebuilt (citations):
- "primarily schemaless, data types will be inferred at ingestion
  time", opt-in enforcement (reference README.md:13,20).
- Mandatory `_ts` timestamp and `_dedup` i32 on every event
  (reference README.md:15); dedup applied at merge time, not ingest
  (README.md:22) — see compact.py.
- Rows buffered until a size/time threshold then indexed+flushed
  (README.md:20-22) — the buffer/flush machinery IS Spark's write
  path; here we only enforce the API contract.
- Segments partitioned by time "similar to apache druid"
  (README.md:27) → write.partitionBy on a derived `_ts_day` column,
  giving Catalyst partition pruning on time predicates (SURVEY.md §4).

Scale: ingestion is append-only; each batch writes only its own
partition directories. `repartition(shards, _dedup)` mirrors the
reference's consistent-hash sharding (README.md:8) and bounds file
counts per partition.

Schema record: the table keeps its schema in `<table>/_schema.json`, as
the reference keeps a `ColumnMeta{name, column_type, nullable}` list in
each segment's metadata (segment_metadata.proto:51-71) instead of
rebuilding the schema from data files. Spark's parquet listing skips
`_`-prefixed files. Every append merges its batch schema into the record
BEFORE its data write: recorded columns keep their order, new ones are
appended, every field is nullable and `_ts_day date` stays last. So the
record's columns are a superset of every data file's columns; a write
that crashes after the record update can leave a column that reads as
all nulls, never a row or column that a read misses. `read_table` and
`compact_partition` read with the record and launch no schema job.
- Cold path (the only one): a table with `_ts_day=` directories and no
  record (written before records existed, or by other writers) reads by
  inference (`mergeSchema`, one footer job per read), and appends to it
  create no record, which would miss the older files' columns. An append
  that changes a recorded column's type deletes the record, so the table
  moves to the cold path for good: `read_table` then raises on the
  conflict as inference does, and `read_table_with_schema_union`
  resolves it. Ingest itself never rejects a type change (README.md:14).
- Retention: a column stays in the schema after the last partition that
  held it is dropped; the schema belongs to the table, not to the files
  that survive.
- Writers: only `ingest_dataframe` and `start_stream_ingest` keep the
  record, one writer per table at a time (the contract compaction
  already states). Other writers are outside the contract.
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from meerkat_spark.types import kql_to_spark

TS_COL = "_ts"
DEDUP_COL = "_dedup"
DAY_COL = "_ts_day"
SCHEMA_FILE = "_schema.json"


@dataclass
class IngestConfig:
    path: str
    # opt-in schema enforcement: {column: kql_type_name}; empty → infer
    schema: dict[str, str] = field(default_factory=dict)
    strict: bool = False  # True: misfit values error; False: null (KQL cast style)
    shards: int = 4


def _ensure_system_columns(df: DataFrame) -> DataFrame:
    """Enforce mandatory `_ts` (timestamp, default now) and `_dedup`
    (int32, default hash of all columns — stable content hash so exact
    replays dedup away at merge time)."""
    if TS_COL not in df.columns:
        df = df.withColumn(TS_COL, F.current_timestamp())
    else:
        df = df.withColumn(TS_COL, F.col(TS_COL).cast("timestamp"))
    if DEDUP_COL not in df.columns:
        content = [c for c in df.columns if c not in (TS_COL, DEDUP_COL)]
        # reduce the 64-bit content hash into int32 range with pmod —
        # a plain cast overflows under ANSI mode
        df = df.withColumn(
            DEDUP_COL,
            F.pmod(F.xxhash64(*[F.col(c) for c in content]), F.lit(2**31)).cast("int"),
        )
    else:
        df = df.withColumn(DEDUP_COL, F.col(DEDUP_COL).cast("int"))
    return df


def _apply_declared_schema(df: DataFrame, schema: dict[str, str], strict: bool) -> DataFrame:
    """Opt-in enforcement: cast declared columns to their KQL types.
    strict=False nulls out misfits (KQL failed-cast semantics);
    strict=True uses plain cast (errors surface per ANSI rules)."""
    for col_name, kql_type in schema.items():
        if col_name not in df.columns:
            df = df.withColumn(col_name, F.lit(None).cast(kql_to_spark(kql_type)))
            continue
        spark_type = kql_to_spark(kql_type)
        col = F.col(col_name)
        df = df.withColumn(
            col_name,
            col.cast(spark_type) if strict else col.try_cast(spark_type),
        )
    return df


def _as_nullable(t: T.DataType) -> T.DataType:
    """`t` with every nested field nullable, as Spark writes parquet."""
    if isinstance(t, T.StructType):
        return T.StructType([T.StructField(f.name, _as_nullable(f.dataType)) for f in t])
    if isinstance(t, T.ArrayType):
        return T.ArrayType(_as_nullable(t.elementType))
    if isinstance(t, T.MapType):
        return T.MapType(_as_nullable(t.keyType), _as_nullable(t.valueType))
    return t


def _recorded_schema(path: str) -> T.StructType | None:
    """The table's recorded schema, or None on the cold path."""
    try:
        with open(os.path.join(path, SCHEMA_FILE)) as f:
            return T.StructType.fromJson(json.load(f))
    except FileNotFoundError:
        return None


def _record_schema(path: str, schema: T.StructType) -> None:
    """Merge a batch schema into the table's record (module docstring)."""
    record = os.path.join(path, SCHEMA_FILE)
    old = _recorded_schema(path)
    if old is None and os.path.isdir(path) and any(
        d.startswith(f"{DAY_COL}=") for d in os.listdir(path)
    ):
        return  # cold path: the files carry columns no record lists
    fields = {f.name: f.dataType for f in old or [] if f.name != DAY_COL}
    for f in schema:
        if f.name == DAY_COL:
            continue
        t = _as_nullable(f.dataType)
        if fields.setdefault(f.name, t) != t:
            os.remove(record)  # type conflict: inference from now on
            return
    new = T.StructType(
        [T.StructField(n, t) for n, t in fields.items()]
        + [T.StructField(DAY_COL, T.DateType())]
    )
    if new != old:
        os.makedirs(path, exist_ok=True)
        tmp = f"{record}.tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            f.write(new.json())
        os.replace(tmp, record)


def _append(df: DataFrame, path: str) -> None:
    """Record the batch schema, then append the batch as parquet
    partitioned by its `_ts` day. Both ingest paths write through here."""
    _record_schema(path, df.schema)
    (
        df.withColumn(DAY_COL, F.date_format(F.col(TS_COL), "yyyy-MM-dd"))
        .write.mode("append")
        .partitionBy(DAY_COL)
        .parquet(path)
    )


def ingest_dataframe(df: DataFrame, cfg: IngestConfig) -> None:
    """Append a batch to the table: enforce system columns + declared
    schema, hash-repartition (sharding), and append Parquet partitioned
    by `_ts_day`."""
    df = _ensure_system_columns(df)
    if cfg.schema:
        df = _apply_declared_schema(df, cfg.schema, cfg.strict)
    _append(df.repartition(cfg.shards, F.col(DEDUP_COL)), cfg.path)


def ingest_rows(
    spark: SparkSession, rows: list[dict], cfg: IngestConfig
) -> None:
    """Schemaless ingest: infer types from the rows (the reference's
    inference-at-ingestion, README.md:13), then append."""
    df = spark.createDataFrame(rows)  # Spark infers types
    ingest_dataframe(df, cfg)


def _read_parquet(spark: SparkSession, schema: T.StructType | None, path: str) -> DataFrame:
    """Read parquet under `path` with a recorded schema; with None (the
    cold path) infer it by merging every file's footer — one Spark job —
    since Spark otherwise takes one arbitrary file's schema and drops
    columns added by later appends."""
    if schema is None:
        return spark.read.option("mergeSchema", "true").parquet(path)
    return spark.read.schema(schema).parquet(path)


def read_table(spark: SparkSession, path: str) -> DataFrame:
    """Read an ingested table with its recorded schema: every column any
    append brought (schema evolution is the norm, reference README.md:14),
    in first-appearance order, null where a file lacks it, `_ts_day`
    last — and no schema job. A table without a record takes the cold
    path (module docstring)."""
    return _read_parquet(spark, _recorded_schema(path), path)
