"""Single-partition local relations from driver-resident rows.

``SparkSession.createDataFrame(list)`` slices the list across
defaultParallelism Python-RDD partitions, so every consumer action pays
one near-empty Python-worker task per core. The first r16 fix —
appending ``.coalesce(1)`` — was far worse: a CoalescedRDD computes its
~32 Python parent partitions SEQUENTIALLY inside one task, and each
parent is a separate Python-worker round trip (~0.15 s), so every
action on the frame cost ~4.7 s on local[32] (measured; a 7-10x
regression on classifier_quality_gate). Parallelizing the rows into ONE
slice up front keeps the exact list-path type conversion (no
pandas/Arrow coercion differences) and pays a single Python round trip
per action: ~0.17 s vs ~4.7 s coalesced vs ~0.4 s full-width on the
bench host, with the 1-partition structure every downstream broadcast
build wants.

``ivf_search``'s driver tables (the query x cell probe table, the
small-refine rerank pairs and the PQ auto-split's query chunks) do not
use ``local_df``: they are all-numeric and their vectors are already one
numpy matrix, so they are handed to ``createDataFrame`` as a pyarrow
Table. Spark decodes those Arrow batches in the JVM into a
LocalTableScan, whatever ``spark.sql.execution.arrow.pyspark.enabled``
says, so the broadcast build needs no Python worker. Measured on a
4-vCPU VM (pyspark 4.1.2, local[4], a 16-row x 32-dim probe table
broadcast-joined to 10k rows, then collected, 10 alternating runs each):
0.32-0.50 s (median 0.39-0.42) over the ``local_df`` table, 0.15-0.29 s
(median 0.19-0.24) over the Arrow table, identical rows. Tables with
strings or mixed Python values keep ``local_df`` and its exact
list-path type conversion.
"""

from __future__ import annotations

import operator

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def local_df(spark: SparkSession, rows, schema) -> DataFrame:
    """``createDataFrame`` over driver-resident ``rows`` as ONE
    partition (``rows`` may be empty; ``schema`` is required — DDL
    string or StructType)."""
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows if rows else [], 1), schema
    )


def sql_in(col_name: str, values) -> Column:
    """``col IN (v1, v2, …)`` over a driver-resident value list in ONE
    py4j round trip. ``Column.isin`` builds one JVM literal PER ELEMENT
    (~0.8 ms of socket round trip each — 2.0 s of the 4.0 s
    ivf_quantized search construction when its rerank filtered on a
    2,162-id list, measured via cProfile); rendering the identical
    ``In`` predicate as a SQL string lets the JVM parse every literal
    in one call. The Catalyst plan — and therefore the partition
    pruning the IVF search's cell filter relies on — is exactly what
    ``isin`` produces. Integer and string values only; an empty list is
    ``lit(False)`` like an empty ``In``."""
    vals = list(values)
    if not vals:
        return F.lit(False)
    parts = []
    for v in vals:
        if isinstance(v, bool):
            raise TypeError("sql_in supports int and str values only")
        if isinstance(v, str):
            escaped = v.replace("\\", "\\\\").replace("'", "\\'")
            parts.append(f"'{escaped}'")
        else:
            parts.append(str(operator.index(v)))
    return F.expr(f"`{col_name}` IN ({','.join(parts)})")
