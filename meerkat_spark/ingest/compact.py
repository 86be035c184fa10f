"""Compaction + merge-time dedup.

Reference: segments are "merged regularly" LSM-style (README.md:27) and
duplicate rows are removed at merge time by the `_dedup` column within a
time bucket (README.md:15,22,31 — replica sync hashes time buckets).

Spark realization: per-day-partition rewrite —
read partition → dropDuplicates([_ts, _dedup]) → coalesce to target
file count → atomic swap (write to tmp dir, move over). Each partition
compacts independently (parallelizable, bounded memory at any table
size); partitions untouched by new data are skipped by the caller.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from meerkat_spark.ingest.batch import DAY_COL, DEDUP_COL, TS_COL, _read_parquet, _recorded_schema


def list_day_partitions(path: str) -> list[str]:
    if not os.path.isdir(path):
        return []
    return sorted(
        d.split("=", 1)[1]
        for d in os.listdir(path)
        if d.startswith(f"{DAY_COL}=")
    )


def _footer_row_count(d: str) -> int:
    """Sum of num_rows across the directory's parquet footers."""
    import pyarrow.parquet as pq

    total = 0
    for f in os.listdir(d):
        if f.endswith(".parquet"):
            total += pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
    return total


def compact_partition(
    spark: SparkSession, path: str, day: str, target_files: int = 1
) -> tuple[int, int]:
    """Dedup+rewrite one day partition atomically. Returns (rows_before,
    rows_after)."""
    part_dir = os.path.join(path, f"{DAY_COL}={day}")
    # reclaim residue of a compaction that crashed mid-swap. The shared
    # sweep (ADVICE r12, high) restores the newest `.old-*` copy FIRST
    # when the live partition is missing (a crash between the two
    # renames makes that residue the only copy — deleting it destroyed
    # the partition), and only deletes residue while the live dir
    # exists. Same single-writer-per-table contract as the sweep.
    from meerkat_spark.ingest.neardup_maintenance import _swap_in, _sweep_stale_swaps

    _sweep_stale_swaps(part_dir)
    # read with the table's recorded schema (minus the partition column)
    # so columns added by later appends survive the rewrite without a
    # footer-merge job: the record lists every column of every data file.
    # A table without a record takes read_table's cold path.
    schema = _recorded_schema(path)
    if schema is not None:
        schema = T.StructType([f for f in schema if f.name != DAY_COL])
    df = _read_parquet(spark, schema, part_dir)
    deduped = df.dropDuplicates([TS_COL, DEDUP_COL]).coalesce(target_files)
    tmp_dir = part_dir + f".compact-{uuid.uuid4().hex[:8]}"
    deduped.write.mode("overwrite").parquet(tmp_dir)
    # row counts from parquet footers (metadata only) — no extra Spark
    # jobs; the write above is the single action of a compaction
    before = _footer_row_count(part_dir)
    after = _footer_row_count(tmp_dir)
    # atomic-ish swap (single filesystem rename pair; object stores would
    # use a manifest commit instead — documented architectural delta)
    _swap_in(tmp_dir, part_dir)
    return before, after


def compact_table(
    spark: SparkSession, path: str, target_files: int = 1
) -> dict[str, tuple[int, int]]:
    """Compact every day partition. Caller may restrict to recent days."""
    results: dict[str, tuple[int, int]] = {}
    for day in list_day_partitions(path):
        results[day] = compact_partition(spark, path, day, target_files)
    return results


def apply_retention(
    path: str, keep_after_day: str, dry_run: bool = False
) -> list[str]:
    """Retention/TTL maintenance: DROP whole day partitions older than
    `keep_after_day` ('YYYY-MM-DD'; partitions with _ts_day <
    keep_after_day are removed). Deleting by partition directory is the
    append-only store's TTL primitive — no row-level delete exists
    (reference README.md:3, no UPDATE/DELETE): retention is a metadata
    operation touching zero live data files, O(expired partitions)
    regardless of table size. Returns the dropped day list."""
    dropped = []
    for day in list_day_partitions(path):
        if day < keep_after_day:
            dropped.append(day)
            if not dry_run:
                shutil.rmtree(
                    os.path.join(path, f"{DAY_COL}={day}"), ignore_errors=True
                )
    return dropped
