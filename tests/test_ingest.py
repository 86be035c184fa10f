"""Round-trip ingestion tests (the reference's own test style: write
then read back and verify — reference src/store/io/mod.rs:135-199)."""

from __future__ import annotations

import json
import os
import re

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from meerkat_spark.ingest import (
    IngestConfig,
    compact_table,
    ingest_dataframe,
    ingest_rows,
    read_table_with_schema_union,
)
from meerkat_spark.ingest.batch import (
    DAY_COL,
    DEDUP_COL,
    SCHEMA_FILE,
    TS_COL,
    read_table,
)
from meerkat_spark.ingest.compact import compact_partition


def test_ingest_roundtrip_with_inference(spark, tmp_path):
    path = str(tmp_path / "tbl")
    rows = [
        {"user": i, "kind": "a" if i % 2 else "b", "score": i * 1.5}
        for i in range(100)
    ]
    ingest_rows(spark, rows, IngestConfig(path=path))
    back = read_table(spark, path)
    assert back.count() == 100
    assert TS_COL in back.columns and DEDUP_COL in back.columns
    assert DAY_COL in back.columns  # time partitioning applied
    assert dict(back.dtypes)["user"] == "bigint"  # inferred
    assert dict(back.dtypes)["score"] == "double"
    assert back.agg(F.countDistinct(DEDUP_COL)).first()[0] == 100


def test_ingest_declared_schema_nulls_misfits(spark, tmp_path):
    path = str(tmp_path / "tbl2")
    rows = [{"v": "12"}, {"v": "not-a-number"}, {"v": "7"}]
    ingest_rows(
        spark, rows, IngestConfig(path=path, schema={"v": "int"}, strict=False)
    )
    back = read_table(spark, path)
    vals = sorted(r.v for r in back.select("v").collect() if r.v is not None)
    assert vals == [7, 12]
    assert back.filter(F.col("v").isNull()).count() == 1  # KQL-style null cast


def test_ingest_time_partition_pruning(spark, tmp_path):
    path = str(tmp_path / "tbl3")
    rows = [
        {"x": 1, TS_COL: "2024-03-01 10:00:00"},
        {"x": 2, TS_COL: "2024-03-02 10:00:00"},
    ]
    ingest_rows(spark, rows, IngestConfig(path=path))
    assert os.path.isdir(os.path.join(path, f"{DAY_COL}=2024-03-01"))
    pruned = read_table(spark, path).filter(F.col(DAY_COL) == "2024-03-01")
    # partition pruning must reach the scan (one partition dir only)
    assert pruned.count() == 1
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[[^\]]*\b_ts_day\b", plan), plan


def test_compaction_dedup(spark, tmp_path):
    path = str(tmp_path / "tbl4")
    rows = [{"x": i, TS_COL: "2024-03-01 10:00:00", DEDUP_COL: i % 5} for i in range(20)]
    cfg = IngestConfig(path=path)
    ingest_rows(spark, rows, cfg)
    ingest_rows(spark, rows, cfg)  # exact replay — all dups at merge time
    assert read_table(spark, path).count() == 40
    results = compact_table(spark, path)
    # same (_ts, _dedup) collapses: 5 distinct dedup keys at one ts
    before, after = results["2024-03-01"]
    assert before == 40 and after == 5
    assert spark.read.parquet(path).count() == 5


def test_schema_union_type_conflict(spark, tmp_path):
    """Backward-incompatible evolution: column changes int→string across
    segments (reference README.md:14) — union reader supertypes it."""
    p = str(tmp_path / "tbl5")
    spark.createDataFrame([(1, 10), (2, 20)], "id int, v int").write.parquet(
        p + "/seg1"
    )
    spark.createDataFrame(
        [(3, "thirty"), (4, "forty")], "id int, v string"
    ).write.parquet(p + "/seg2")
    with pytest.raises(Exception):
        # stock mergeSchema cannot express this
        spark.read.option("mergeSchema", "true").parquet(p).collect()
    df = read_table_with_schema_union(spark, p)
    assert dict(df.dtypes)["v"] == "string"
    vals = sorted(r.v for r in df.select("v").collect())
    assert vals == ["10", "20", "forty", "thirty"]


def test_schema_union_numeric_widening(spark, tmp_path):
    p = str(tmp_path / "tbl6")
    spark.createDataFrame([(1, 10)], "id int, v int").write.parquet(p + "/seg1")
    spark.createDataFrame([(2, 2.5)], "id int, v double").write.parquet(p + "/seg2")
    df = read_table_with_schema_union(spark, p)
    assert dict(df.dtypes)["v"] == "double"
    assert sorted(r.v for r in df.select("v").collect()) == [2.5, 10.0]


def test_rollup_incremental_lifecycle(spark, tmp_path):
    """build -> extend == one-shot aggregation; extend touches only the
    batch's day partitions; query-side day filter prunes at the scan."""
    import os

    from pyspark.sql import functions as F

    from meerkat_spark.ingest.rollup import (
        rollup_build,
        rollup_extend,
        rollup_query,
    )

    ev = spark.createDataFrame(
        [
            (i, "t%d" % (i % 2), "2024-01-%02d 12:00:00" % (1 + i % 3), float(i))
            for i in range(300)
        ],
        "id long, k string, ts string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    path = str(tmp_path / "rollup")
    rollup_build(ev.filter("id < 200"), path, ["k"], "ts", "value")
    rollup_extend(ev.filter("id >= 200"), path, ["k"], "ts", "value")

    got = {
        (r._rollup_day_s, r.k): r
        for r in rollup_query(spark, path)
        .withColumn("_rollup_day_s", F.col("_rollup_day").cast("string"))
        .collect()
    }
    direct = {
        (r.d, r.k): r
        for r in ev.groupBy(
            F.date_format("ts", "yyyy-MM-dd").alias("d"), "k"
        )
        .agg(
            F.count("value").alias("n"),
            F.sum("value").alias("s"),
            F.min("value").alias("mn"),
            F.max("value").alias("mx"),
            F.var_samp("value").alias("v"),
        )
        .collect()
    }
    assert set(got) == set(direct)
    for key, d in direct.items():
        g = got[key]
        assert g["count"] == d.n and g["min"] == d.mn and g["max"] == d.mx
        assert g["sum"] == pytest.approx(d.s, rel=1e-12)
        assert g["variance"] == pytest.approx(d.v, rel=1e-9)

    # a day never in any batch is untouched by extend: add one new-day
    # batch, other day partitions' files must not be rewritten
    before = {
        p: os.path.getmtime(os.path.join(path, p))
        for p in os.listdir(path)
        if p.startswith("_rollup_day=")
    }
    extra = spark.createDataFrame(
        [(999, "t0", "2024-02-01 00:00:00", 5.0)],
        "id long, k string, ts string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    rollup_extend(extra, path, ["k"], "ts", "value")
    after = {
        p: os.path.getmtime(os.path.join(path, p))
        for p in os.listdir(path)
        if p.startswith("_rollup_day=")
    }
    assert set(after) == set(before) | {"_rollup_day=2024-02-01"}
    for p, t0 in before.items():
        assert after[p] == t0  # untouched partitions not rewritten

    # query with a day filter prunes partitions
    q = rollup_query(spark, path, days=["2024-01-02"])
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and q.count() == 2


def test_retention_drops_expired_day_partitions(spark, tmp_path):
    """Round-7 TTL maintenance: partitions strictly before the
    retention floor are dropped whole (a directory-level operation —
    the append-only store's only delete primitive); newer partitions
    and their rows survive byte-identically. dry_run reports without
    deleting."""
    import datetime as dt

    from meerkat_spark.ingest import IngestConfig, ingest_rows
    from meerkat_spark.ingest.batch import read_table
    from meerkat_spark.ingest.compact import apply_retention, list_day_partitions

    path = str(tmp_path / "ttl_tbl")
    rows = []
    for day in (1, 5, 10, 20):
        for i in range(3):
            rows.append(
                {
                    "k": day * 100 + i,
                    "_ts": dt.datetime(2024, 1, day, 12, 0, i),
                    "_dedup": day * 100 + i,
                }
            )
    ingest_rows(spark, rows, IngestConfig(path=path))
    assert len(list_day_partitions(path)) == 4

    preview = apply_retention(path, "2024-01-08", dry_run=True)
    assert preview == ["2024-01-01", "2024-01-05"]
    assert len(list_day_partitions(path)) == 4  # dry run deletes nothing

    dropped = apply_retention(path, "2024-01-08")
    assert dropped == ["2024-01-01", "2024-01-05"]
    assert list_day_partitions(path) == ["2024-01-10", "2024-01-20"]
    back = read_table(spark, path)
    assert back.count() == 6
    assert back.agg({"_ts": "min"}).collect()[0][0] >= dt.datetime(2024, 1, 10)


def test_compaction_keeps_evolved_columns(spark, tmp_path):
    """A day partition holding files written before and after a column
    was added compacts to the merged schema: the new column survives,
    null on the older rows. Each day is its own pair of appends, so a
    reader that takes its schema from one arbitrary file per partition
    is caught with near certainty."""
    path = str(tmp_path / "tbl_evolve")
    cfg = IngestConfig(path=path)
    days = [f"2024-03-0{d} 10:00:00" for d in range(1, 7)]
    for ts in days:
        ingest_rows(spark, [{"x": i, TS_COL: ts} for i in range(50)], cfg)
        ingest_rows(
            spark,
            [{"x": i, "country": f"c{i % 3}", TS_COL: ts} for i in range(50, 100)],
            cfg,
        )
    assert len(compact_table(spark, path)) == len(days)
    back = read_table(spark, path)
    assert back.count() == 100 * len(days)
    assert back.filter(F.col("country").isNotNull()).count() == 50 * len(days)


def _evolved_batches(spark):
    """Three batches over two days; `country` arrives in the second and
    `tag` in the third. `_ts` sits mid-schema so first-appearance order
    differs from any sorted order."""
    b1 = spark.createDataFrame(
        [(i, f"2024-03-0{1 + i % 2} 10:00:00", i * 0.5) for i in range(40)],
        "k long, _ts string, v double",
    )
    b2 = spark.createDataFrame(
        [(i, f"2024-03-0{1 + i % 2} 11:00:00", i * 0.5, f"c{i % 3}") for i in range(40, 80)],
        "k long, _ts string, v double, country string",
    )
    b3 = spark.createDataFrame(
        [(i, "2024-03-02 12:00:00", "t", f"c{i % 3}") for i in range(80, 120)],
        "k long, _ts string, tag string, country string",
    )
    return [b1, b2, b3]


def test_column_order_is_first_appearance(spark, tmp_path):
    """The recorded schema fixes read_table's column order: first
    appearance across appends, `_ts_day` last — the same on every read
    and after compaction, with 4 files per partition."""
    path = str(tmp_path / "order")
    cfg = IngestConfig(path=path, shards=4)
    for b in _evolved_batches(spark):
        ingest_dataframe(b, cfg)
    want = ["k", TS_COL, "v", DEDUP_COL, "country", "tag", DAY_COL]
    assert [read_table(spark, path).columns for _ in range(3)] == [want] * 3
    compact_table(spark, path)
    back = read_table(spark, path)
    assert back.columns == want
    assert back.count() == 120
    assert back.filter(F.col("tag").isNotNull()).count() == 40


def _schema_map(schema):
    return {f.name: (f.dataType.simpleString(), f.nullable) for f in schema}


def _build_table(spark, tmp_path, kind):
    path = str(tmp_path / kind)
    rows = [{"user": i, "v": str(i), TS_COL: f"2024-03-0{1 + i % 3} 10:00:00"} for i in range(30)]
    if kind == "inferred":
        ingest_rows(spark, rows, IngestConfig(path=path))
    elif kind in ("declared_strict", "declared_lenient"):
        schema = {"v": "int", "score": "real", "missing": "long"}
        ingest_rows(spark, rows, IngestConfig(
            path=path, schema=schema, strict=kind == "declared_strict"))
    elif kind == "evolved":
        for b in _evolved_batches(spark):
            ingest_dataframe(b, IngestConfig(path=path))
    else:  # stream
        from meerkat_spark.streaming import start_stream_ingest

        src = str(tmp_path / "src")
        ingest_rows(spark, rows, IngestConfig(path=src))
        stream = spark.readStream.schema(read_table(spark, src).schema).parquet(src)
        q = start_stream_ingest(
            stream.drop(DAY_COL), path, str(tmp_path / "ck"), watermark="1 hour")
        q.awaitTermination(120)
    return path


@pytest.mark.parametrize(
    "kind", ["inferred", "declared_strict", "declared_lenient", "evolved", "stream"]
)
def test_recorded_schema_matches_cold_read(spark, tmp_path, kind):
    """The record read_table uses equals what merging every data file's
    footer infers, name for name, type for type, nullability included."""
    path = _build_table(spark, tmp_path, kind)
    record = os.path.join(path, SCHEMA_FILE)
    with open(record) as f:
        recorded = T.StructType.fromJson(json.load(f))
    cold = spark.read.option("mergeSchema", "true").parquet(path).schema
    assert _schema_map(read_table(spark, path).schema) == _schema_map(recorded)
    assert _schema_map(recorded) == _schema_map(cold)
    # the comparison catches a drifted record (int `_dedup` as bigint)
    drifted = T.StructType([
        T.StructField(f.name, T.LongType() if f.name == DEDUP_COL else f.dataType)
        for f in recorded
    ])
    assert _schema_map(drifted) != _schema_map(cold)


def test_legacy_table_reads_by_inference(spark, tmp_path):
    """A table of `_ts_day=` parquet dirs without a record takes the cold
    path, and an append to it does not start a record (it would miss the
    older files' columns)."""
    path = str(tmp_path / "legacy")
    spark.createDataFrame(
        [(i, f"old{i}", "2024-03-01") for i in range(10)], "x long, legacy string, d string"
    ).selectExpr("x", "legacy", f"timestamp(d) AS {TS_COL}", f"CAST(x AS INT) AS {DEDUP_COL}",
                 f"d AS {DAY_COL}").write.partitionBy(DAY_COL).parquet(path)
    assert "legacy" in read_table(spark, path).columns
    ingest_rows(spark, [{"x": 10 + i, "fresh": "y", TS_COL: "2024-03-02 10:00:00"}
                        for i in range(5)], IngestConfig(path=path))
    assert not os.path.exists(os.path.join(path, SCHEMA_FILE))
    back = read_table(spark, path)
    assert {"legacy", "fresh"} <= set(back.columns)
    assert back.count() == 15
    assert back.filter(F.col("legacy").isNotNull()).count() == 10


def test_type_conflicting_append_drops_record(spark, tmp_path):
    """Ingest accepts a column's type change (reference README.md:14),
    deleting the record: read_table then raises on the conflict as
    inference does, and the schema-union reader supertypes it."""
    path = str(tmp_path / "conflict")
    cfg = IngestConfig(path=path)
    ingest_rows(spark, [{"id": 1, "v": 10, TS_COL: "2024-03-01 10:00:00"}], cfg)
    assert os.path.exists(os.path.join(path, SCHEMA_FILE))
    ingest_rows(spark, [{"id": 2, "v": "thirty", TS_COL: "2024-03-02 10:00:00"}], cfg)
    assert not os.path.exists(os.path.join(path, SCHEMA_FILE))
    with pytest.raises(Exception):
        read_table(spark, path).collect()
    ingest_rows(spark, [{"id": 3, "v": 5, TS_COL: "2024-03-03 10:00:00"}], cfg)
    assert not os.path.exists(os.path.join(path, SCHEMA_FILE))
    df = read_table_with_schema_union(spark, path)
    assert dict(df.dtypes)["v"] == "string"
    assert sorted(r.v for r in df.select("v").collect()) == ["10", "5", "thirty"]


def test_crashed_append_keeps_earlier_rows(spark, tmp_path, monkeypatch):
    """The record is updated before the data write: a write that fails
    after it leaves a column with no values, never an unreadable row."""
    from pyspark.sql.readwriter import DataFrameWriter

    path = str(tmp_path / "crash")
    cfg = IngestConfig(path=path)
    ingest_rows(spark, [{"x": i, TS_COL: "2024-03-01 10:00:00"} for i in range(20)], cfg)

    def crash(self, *args, **kwargs):
        raise OSError("disk full")

    monkeypatch.setattr(DataFrameWriter, "parquet", crash)
    with pytest.raises(OSError):
        ingest_rows(spark, [{"x": 99, "late": "l", TS_COL: "2024-03-02 10:00:00"}], cfg)
    monkeypatch.undo()
    back = read_table(spark, path)
    assert "late" in back.columns
    assert sorted(r.x for r in back.collect()) == list(range(20))
    assert back.filter(F.col("late").isNotNull()).count() == 0
    assert compact_table(spark, path)["2024-03-01"] == (20, 20)


def _group_jobs(spark, group, fn):
    """Names of the first stage of each job `fn` launches."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return [
        tracker.getStageInfo(min(tracker.getJobInfo(j).stageIds)).name
        for j in sorted(tracker.getJobIdsForGroup(group))
    ]


def _four_day_evolved_table(spark, path):
    cfg = IngestConfig(path=path)
    for d in range(1, 5):
        ts = f"2024-03-0{d} 10:00:00"
        ingest_rows(spark, [{"x": i, TS_COL: ts} for i in range(50)], cfg)
        ingest_rows(spark, [{"x": i, "country": f"c{i % 3}", TS_COL: ts}
                            for i in range(50, 100)], cfg)


def test_warm_read_launches_no_job(spark, tmp_path):
    """With a record, a warm read_table plus KQL construction launches
    no Spark job: no footer merge, no listing."""
    from meerkat_spark.engine import MeerkatEngine

    path = str(tmp_path / "jobs")
    _four_day_evolved_table(spark, path)
    engine = MeerkatEngine(spark, str(tmp_path / "no-catalog"))
    kql = "live | where x >= 10 | summarize n = count() by country"

    def construct():
        engine.register_table("live", read_table(spark, path))
        return engine.kql(kql).to_df()

    assert len(construct().collect()) == 4  # three countries and null
    assert _group_jobs(spark, "ingest-warm-read", construct) == []


def test_compaction_runs_no_footer_merge_job(spark, tmp_path):
    """Compacting a partition of a recorded table runs its rewrite
    without a footer-merge (`parquet at`) job."""
    path = str(tmp_path / "jobs")
    _four_day_evolved_table(spark, path)
    calls = _group_jobs(
        spark, "ingest-compact", lambda: compact_partition(spark, path, "2024-03-01"))
    assert calls and not [c for c in calls if c.startswith("parquet at")], calls
    assert compact_partition(spark, path, "2024-03-02") == (100, 100)
    assert read_table(spark, path).filter(F.col("country").isNotNull()).count() == 200
