"""Replay idempotence for every incremental-index keeper loop
(VERDICT r11 'what's wrong' #1 / next-round ask #1, plus stretch #8).

Structured Streaming's foreachBatch is at-least-once: a crash after
the index append but before the checkpoint commit re-delivers the SAME
epoch. The guarantees pinned here:

- ingest_neardup_batch / ingest_minhash_batch re-run on an already-
  applied batch append NOTHING (indexed-id anti-join) and return empty
  keepers/pairs — this also heals HALF-applied replays row-wise;
- neardup_keeper_step skips a completed epoch wholesale via its
  `_epochs/` marker (keepers log not double-appended);
- the segment ingest path (start_stream_ingest) tolerates duplicate
  epoch appends BY DESIGN: merge-time dedup on (_ts, _dedup) removes
  them at compaction (reference README.md:15,22 — `_dedup` exists
  exactly for replica/replay reconciliation).
"""

from __future__ import annotations

import os

import pytest

SF = "/root/testdata/sf0.001"


def _emb_batches(spark):
    import pandas as pd

    emb = (
        spark.read.parquet(os.path.join(SF, "embeddings.parquet"))
        .select("vec_id", "embedding")
        .limit(60)
        .toPandas()
    )
    emb["embedding"] = emb["embedding"].map(list)
    seed = emb.iloc[:10].copy()
    seed["vec_id"] += 200_000
    batch1 = emb.iloc[:40].copy()  # first 10 collide with the seed
    batch2 = emb.iloc[40:].copy()
    return (
        spark.createDataFrame(seed),
        spark.createDataFrame(batch1),
        spark.createDataFrame(batch2),
    )


def _index_counts(spark, path):
    return (
        spark.read.parquet(os.path.join(path, "postings")).count(),
        spark.read.parquet(os.path.join(path, "vectors")).count(),
    )


def test_neardup_batch_replay_idempotent(spark, tmp_path):
    from meerkat_spark.ingest.neardup_maintenance import ingest_neardup_batch
    from meerkat_spark.similarity.neardup_index import build_neardup_index

    seed, batch1, _ = _emb_batches(spark)
    idx = str(tmp_path / "vidx")
    build_neardup_index(seed, idx, threshold=0.95)

    k1, p1 = ingest_neardup_batch(batch1, idx, threshold=0.95)
    n_keep, n_pairs = k1.count(), p1.count()
    assert n_keep == 30  # 10 seed collisions dropped
    counts_after_1 = _index_counts(spark, idx)

    # the replay: identical batch, already applied. Keepers and the
    # index are untouched; rows that were DROPPED in run 1 were never
    # indexed, so they re-drop and re-report as pairs (a report, not a
    # mutation — idempotence is about the index and the keeper set)
    k2, p2 = ingest_neardup_batch(batch1, idx, threshold=0.95)
    assert k2.count() == 0
    assert {(r.id2,) for r in p2.select("id2").collect()} == {
        (r.id2,) for r in p1.select("id2").collect()
    }
    assert _index_counts(spark, idx) == counts_after_1
    assert n_pairs >= 10


def test_neardup_partial_replay_processes_only_new(spark, tmp_path):
    """A replayed batch UNIONED with genuinely new rows (the half-
    applied-epoch shape): replayed rows are skipped, new rows get the
    normal keeper treatment."""
    from meerkat_spark.ingest.neardup_maintenance import ingest_neardup_batch
    from meerkat_spark.similarity.neardup_index import build_neardup_index

    seed, batch1, batch2 = _emb_batches(spark)
    idx = str(tmp_path / "vidx")
    build_neardup_index(seed, idx, threshold=0.95)
    ingest_neardup_batch(batch1, idx, threshold=0.95)
    counts_1 = _index_counts(spark, idx)

    mixed = batch1.unionByName(batch2)
    k, _p = ingest_neardup_batch(mixed, idx, threshold=0.95)
    kept = {r.vec_id for r in k.select("vec_id").collect()}
    want = {r.vec_id for r in batch2.select("vec_id").collect()}
    assert kept == want  # distinct test vectors: all of batch2 survives
    p_after, v_after = _index_counts(spark, idx)
    assert v_after == counts_1[1] + len(want)
    assert p_after > counts_1[0]


def test_minhash_batch_replay_idempotent(spark, tmp_path):
    from meerkat_spark.ingest.neardup_maintenance import ingest_minhash_batch
    from meerkat_spark.text.dedup_index import build_minhash_index

    docs = (
        spark.read.parquet(os.path.join(SF, "documents.parquet"))
        .select("doc_id", "text")
        .limit(40)
    )
    seed = docs.limit(10).withColumn("doc_id", docs.doc_id + 200_000)
    idx = str(tmp_path / "midx")
    build_minhash_index(seed, idx)

    k1, p1 = ingest_minhash_batch(docs, idx)
    n1 = spark.read.parquet(idx).count()
    kept1 = {r.doc_id for r in k1.select("doc_id").collect()}
    seed_colliders = {r.doc_id for r in docs.limit(10).collect()}
    # every seed collider dropped; the default (no-verify) path may
    # additionally drop a spurious band collision among the real docs
    assert not (kept1 & seed_colliders)
    assert 25 <= len(kept1) <= 30

    k2, p2 = ingest_minhash_batch(docs, idx)
    assert k2.count() == 0
    # never-indexed (dropped) rows re-drop and re-report as pairs
    assert {r.id2 for r in p2.collect()} == {r.id2 for r in p1.collect()}
    assert spark.read.parquet(idx).count() == n1


def test_minhash_replay_idempotent_with_verify(spark, tmp_path):
    from meerkat_spark.ingest.neardup_maintenance import ingest_minhash_batch
    from meerkat_spark.text.dedup_index import build_minhash_index

    docs = (
        spark.read.parquet(os.path.join(SF, "documents.parquet"))
        .select("doc_id", "text")
        .limit(30)
    )
    seed = docs.limit(8).withColumn("doc_id", docs.doc_id + 200_000)
    idx = str(tmp_path / "midxv")
    build_minhash_index(seed, idx)
    # covers every id that can ever be indexed-side: the seed, plus
    # batch-1 keepers (indexed by the time the replay run probes)
    corpus = seed.unionByName(docs)

    k1, p1 = ingest_minhash_batch(
        docs, idx, verify_jaccard=0.8, corpus=corpus
    )
    n1 = spark.read.parquet(idx).count()
    kept1 = {r.doc_id for r in k1.select("doc_id").collect()}
    seed_colliders = {r.doc_id for r in docs.limit(8).collect()}
    assert not (kept1 & seed_colliders)

    k2, p2 = ingest_minhash_batch(
        docs, idx, verify_jaccard=0.8, corpus=corpus
    )
    assert k2.count() == 0
    # every originally-dropped row re-drops, none is newly dropped
    assert {r.id2 for r in p2.collect()} == {r.id2 for r in p1.collect()}
    assert spark.read.parquet(idx).count() == n1


def test_minhash_verify_coverage_violation_raises(spark, tmp_path):
    """ADVICE r11: a candidate whose indexed-side text is missing from
    `corpus` must raise, not silently keep a true duplicate."""
    from meerkat_spark.ingest.neardup_maintenance import ingest_minhash_batch
    from meerkat_spark.text.dedup_index import build_minhash_index

    docs = (
        spark.read.parquet(os.path.join(SF, "documents.parquet"))
        .select("doc_id", "text")
        .limit(10)
    )
    seed = docs.withColumn("doc_id", docs.doc_id + 200_000)
    idx = str(tmp_path / "midxc")
    build_minhash_index(seed, idx)
    empty_corpus = seed.filter("doc_id < 0")

    with pytest.raises(ValueError, match="coverage violation"):
        ingest_minhash_batch(
            docs, idx, verify_jaccard=0.8, corpus=empty_corpus
        )


def test_neardup_keeper_step_epoch_marker(spark, tmp_path):
    """The packaged streaming step: a re-delivered epoch_id is a no-op
    for BOTH the index and the keepers log; a new epoch processes."""
    from meerkat_spark.similarity.neardup_index import build_neardup_index
    from meerkat_spark.streaming.ingest import neardup_keeper_step

    seed, batch1, batch2 = _emb_batches(spark)
    idx = str(tmp_path / "vidx")
    keepers_path = str(tmp_path / "keepers")
    build_neardup_index(seed, idx, threshold=0.95)

    neardup_keeper_step(batch1, 0, idx, threshold=0.95, keepers_path=keepers_path)
    assert os.path.exists(os.path.join(idx, "_epochs", "epoch-0"))
    counts_1 = _index_counts(spark, idx)
    log_1 = spark.read.parquet(keepers_path).count()
    assert log_1 == 30

    # epoch replay: marker short-circuits everything
    neardup_keeper_step(batch1, 0, idx, threshold=0.95, keepers_path=keepers_path)
    assert _index_counts(spark, idx) == counts_1
    assert spark.read.parquet(keepers_path).count() == log_1

    # next epoch still processes
    neardup_keeper_step(batch2, 1, idx, threshold=0.95, keepers_path=keepers_path)
    assert spark.read.parquet(keepers_path).count() == log_1 + batch2.count()
    assert _index_counts(spark, idx)[1] == counts_1[1] + batch2.count()


def test_segment_ingest_duplicate_epoch_heals_at_compaction(spark, tmp_path):
    """Stretch #8: the raw segment ingest path is replay-TOLERANT
    rather than replay-proof — a duplicated foreachBatch append lands
    duplicate rows, and merge-time dedup on (_ts, _dedup) removes them
    at compaction, exactly the reference's `_dedup` design
    (README.md:15,22). Readers between replay and compaction see
    at-least-once rows (documented contract)."""
    from pyspark.sql import functions as F

    from meerkat_spark.ingest.batch import DAY_COL, TS_COL, _ensure_system_columns
    from meerkat_spark.ingest.compact import compact_table

    events = (
        spark.read.parquet(os.path.join(SF, "events.parquet"))
        # deterministic row set: each write action re-executes the
        # plan, and a bare limit() may pick different rows per run
        .orderBy("event_id")
        .limit(500)
        .withColumnRenamed("ts", TS_COL)
    )
    prepared = _ensure_system_columns(events).withColumn(
        DAY_COL, F.date_format(F.col(TS_COL), "yyyy-MM-dd")
    )
    out = str(tmp_path / "segments")
    # the same "epoch" committed twice — simulated foreachBatch replay
    prepared.write.mode("append").partitionBy(DAY_COL).parquet(out)
    prepared.write.mode("append").partitionBy(DAY_COL).parquet(out)
    assert spark.read.parquet(out).count() == 1000

    results = compact_table(spark, out)
    assert results  # at least one day partition compacted
    assert spark.read.parquet(out).count() == 500
    assert (
        spark.read.parquet(out)
        .groupBy("_ts", "_dedup")
        .count()
        .filter("count > 1")
        .count()
        == 0
    )


def test_minhash_keeper_step_epoch_marker(spark, tmp_path):
    """Text twin of the epoch-marker test: a re-delivered epoch is a
    no-op for the postings table and the keepers log."""
    from meerkat_spark.streaming.ingest import minhash_keeper_step
    from meerkat_spark.text.dedup_index import build_minhash_index

    docs = (
        spark.read.parquet(os.path.join(SF, "documents.parquet"))
        .select("doc_id", "text")
        .limit(40)
    )
    seed = docs.limit(10).withColumn("doc_id", docs.doc_id + 200_000)
    idx = str(tmp_path / "midx")
    keepers_path = str(tmp_path / "keepers")
    build_minhash_index(seed, idx)

    minhash_keeper_step(docs, 0, idx, keepers_path=keepers_path)
    assert os.path.exists(os.path.join(idx, "_epochs", "epoch-0"))
    n1 = spark.read.parquet(idx).count()
    log_1 = spark.read.parquet(keepers_path).count()

    minhash_keeper_step(docs, 0, idx, keepers_path=keepers_path)
    assert spark.read.parquet(idx).count() == n1
    assert spark.read.parquet(keepers_path).count() == log_1


def test_epoch_marker_stream_namespace(spark, tmp_path):
    """r12 hardening: epoch_ids are per-checkpoint, so markers carry a
    checkpoint-derived stream namespace — re-pointing a stream at a
    fresh checkpoint restarts epoch_ids at 0 and must NOT read the old
    stream's epoch-0 as already applied."""
    from meerkat_spark.similarity.neardup_index import build_neardup_index
    from meerkat_spark.streaming.ingest import (
        _stream_id_of,
        neardup_keeper_step,
    )

    seed, batch1, batch2 = _emb_batches(spark)
    idx = str(tmp_path / "vidx")
    build_neardup_index(seed, idx, threshold=0.95)

    sid_a = _stream_id_of(str(tmp_path / "ck_a"))
    sid_b = _stream_id_of(str(tmp_path / "ck_b"))
    assert sid_a != sid_b

    neardup_keeper_step(batch1, 0, idx, threshold=0.95, stream_id=sid_a)
    v1 = _index_counts(spark, idx)[1]
    # same epoch id, DIFFERENT stream (fresh checkpoint): must process —
    # batch2's new ids land; batch1 replays heal via the anti-join
    neardup_keeper_step(
        batch1.unionByName(batch2), 0, idx, threshold=0.95, stream_id=sid_b
    )
    assert _index_counts(spark, idx)[1] == v1 + batch2.count()
    # and the same (stream, epoch) IS skipped
    neardup_keeper_step(batch1, 0, idx, threshold=0.95, stream_id=sid_a)
    assert _index_counts(spark, idx)[1] == v1 + batch2.count()


def test_ivf_ingest_step_epoch_marker(spark, tmp_path):
    """r12: a re-delivered IVF ingest epoch is skipped wholesale by its
    marker (no duplicate rows); a half-applied replay (simulated by a
    bare double-extend) is detected and healed by the step's own
    maintenance cadence."""
    from meerkat_spark.similarity.ivf_index import (
        build_ivf_index,
        extend_ivf_index,
        ivf_index_stats,
    )
    from meerkat_spark.streaming.ingest import ivf_ingest_step

    emb = spark.read.parquet(os.path.join(SF, "embeddings.parquet")).select(
        "vec_id", "embedding"
    )
    idx = str(tmp_path / "iidx")
    build_ivf_index(emb.filter("vec_id < 200"), idx, n_cells=8)
    batch = emb.filter("vec_id >= 200 and vec_id < 260")

    ivf_ingest_step(batch, 1, idx, maintain_every=0)
    n1 = ivf_index_stats(spark, idx)["n_rows"]
    assert n1 == 260
    ivf_ingest_step(batch, 1, idx, maintain_every=0)  # complete-epoch replay
    assert ivf_index_stats(spark, idx)["n_rows"] == n1

    # half-applied shape: the extend landed but the marker never
    # committed — the re-delivered epoch re-extends (duplicates), and
    # its maintenance pass heals them in the same step
    extend_ivf_index(batch.withColumn("vec_id", batch.vec_id + 1000), idx)
    ivf_ingest_step(
        batch.withColumn("vec_id", batch.vec_id + 1000), 2, idx, maintain_every=1
    )
    s = ivf_index_stats(spark, idx)
    assert s["n_duplicate_rows"] == 0
    assert s["n_rows"] == n1 + 60


def test_backfill_chunked_equals_streamed_chunks(spark, tmp_path):
    """r12: the chunked backfill ingests exactly what sequentially
    streaming the same hash chunks would (arrival-order keeper
    contract), never re-appends on a resumed/replayed run, and drops
    cross-chunk duplicates through the index."""
    from meerkat_spark.ingest.neardup_maintenance import (
        backfill_minhash_index,
        ingest_minhash_batch,
    )
    from meerkat_spark.text.dedup_index import build_minhash_index
    from pyspark.sql import functions as F

    docs = (
        spark.read.parquet(os.path.join(SF, "documents.parquet"))
        .select("doc_id", "text")
        .limit(120)
    )
    # plant cross-chunk duplicates: exact copies with shifted ids land
    # in different hash chunks than their originals
    copies = docs.filter("doc_id % 4 = 0").withColumn(
        "doc_id", docs.doc_id + 500_000
    )
    batch = docs.unionByName(copies).localCheckpoint(eager=True)

    seed = docs.limit(5).withColumn("doc_id", docs.doc_id + 900_000)
    idx_a, idx_b = str(tmp_path / "bidx_a"), str(tmp_path / "bidx_b")
    build_minhash_index(seed, idx_a)
    build_minhash_index(seed, idx_b)

    per_chunk = backfill_minhash_index(batch, idx_a, chunk_rows=40)
    assert len(per_chunk) >= 3  # actually chunked
    assert sum(n for n, _ in per_chunk) == batch.count()

    # the manual equivalent: same hash chunks, same order
    k = len(per_chunk)
    part = F.pmod(F.xxhash64(F.col("doc_id").cast("string")), F.lit(k))
    for i in range(k):
        ingest_minhash_batch(batch.filter(part == i), idx_b)
    a = spark.read.parquet(idx_a)
    b = spark.read.parquet(idx_b)
    assert {tuple(r) for r in a.collect()} == {tuple(r) for r in b.collect()}

    # resume/replay: the whole backfill again is a no-op for the index
    n = a.count()
    again = backfill_minhash_index(batch, idx_a, chunk_rows=40)
    assert all(kept == 0 for _, kept in again)
    assert spark.read.parquet(idx_a).count() == n


def test_backfill_neardup_smoke(spark, tmp_path):
    from meerkat_spark.ingest.neardup_maintenance import backfill_neardup_index
    from meerkat_spark.similarity.neardup_index import build_neardup_index

    seed, batch1, batch2 = _emb_batches(spark)
    idx = str(tmp_path / "vidx")
    build_neardup_index(seed, idx, threshold=0.95)
    per_chunk = backfill_neardup_index(
        batch1.unionByName(batch2), idx, chunk_rows=20, threshold=0.95
    )
    assert len(per_chunk) == 3
    assert sum(n for n, _ in per_chunk) == 60
    # 10 seed collisions dropped regardless of which chunk they landed in
    assert sum(kept for _, kept in per_chunk) == 50
    assert _index_counts(spark, idx)[1] == 10 + 50


def test_heavy_hitters_step_replay_idempotent(spark, tmp_path):
    """The streaming Misra-Gries summary's replay protocol: summaries
    are merge-SUMS, so re-merging a delivered batch would double-count
    — the immutable-epoch-dir + pointer protocol must make a replay at
    EVERY crash point a no-op:
      (a) marker present -> skipped wholesale;
      (b) epoch dir complete but marker lost -> pointer/marker
          recommitted, summary bytes unchanged;
      (c) epoch dir complete, pointer NOT yet advanced (the
          crash-between-rename-and-pointer state) -> the replay
          discovers the dir, advances, and never re-merges.
    """
    from meerkat_spark.streaming.ingest import (
        heavy_hitters_step,
        read_heavy_hitters_summary,
    )

    hh = str(tmp_path / "hh")
    batches = [
        spark.createDataFrame(
            [(f"k{j % 7}",) for j in range(i, 40 + i)], "key string"
        )
        for i in range(3)
    ]
    for e, b in enumerate(batches):
        heavy_hitters_step(b, e, hh, "key", capacity=100)
    base = sorted(
        map(tuple, read_heavy_hitters_summary(spark, hh).collect())
    )
    exact = {}
    for b in batches:
        for r in b.collect():
            exact[r["key"]] = exact.get(r["key"], 0) + 1
    assert dict((k, v) for k, v, _ in base) == exact  # exact regime

    # (a) plain at-least-once redelivery of every epoch
    for e, b in enumerate(batches):
        heavy_hitters_step(b, e, hh, "key", capacity=100)
    assert sorted(
        map(tuple, read_heavy_hitters_summary(spark, hh).collect())
    ) == base

    # (b) epoch dir complete, marker lost
    marker = os.path.join(hh, "_epochs", "epoch-2")
    os.remove(marker)
    heavy_hitters_step(batches[2], 2, hh, "key", capacity=100)
    assert os.path.exists(marker)
    assert sorted(
        map(tuple, read_heavy_hitters_summary(spark, hh).collect())
    ) == base

    # (c) crash between the epoch-dir rename and the pointer advance:
    # epoch 3's dir exists (complete), pointer still at epoch 2,
    # no marker — the replay must adopt the dir, not re-merge
    b3 = spark.createDataFrame([("k0",), ("k1",)], "key string")
    cur = read_heavy_hitters_summary(spark, hh)
    from meerkat_spark.operators.sketches import (
        merge_mg_summaries,
        misra_gries_summary,
    )

    expected3 = merge_mg_summaries(
        [cur, misra_gries_summary(b3, "key", capacity=100,
                                  keep_total_row=True)],
        "key",
        capacity=100,
        keep_total_row=True,
    )
    expected3.write.mode("overwrite").parquet(os.path.join(hh, "summary-3"))
    want = sorted(
        map(tuple, expected3.filter("key is not null").collect())
    )
    heavy_hitters_step(b3, 3, hh, "key", capacity=100)
    with open(os.path.join(hh, "_latest")) as f:
        assert f.read().strip() == "summary-3"
    assert sorted(
        map(tuple, read_heavy_hitters_summary(spark, hh).collect())
    ) == want
    assert os.path.exists(os.path.join(hh, "_epochs", "epoch-3"))


def test_heavy_hitters_first_epoch_bounded_and_reader_grace(spark, tmp_path):
    """ADVICE r13 (both streaming items):
    1. the FIRST epoch's persisted state is already <= capacity keys
       (+ the NULL error sentinel) — the raw per-partition summary can
       hold capacity x partitions keys, and the step must re-evict it
       through the merge before persisting;
    2. the sweep retains the newest retain_epochs dirs, so a lazy
       reader frame handed out before a fold still collects after it
       (one-epoch grace), while older dirs are still reclaimed."""
    from meerkat_spark.streaming.ingest import (
        heavy_hitters_step,
        read_heavy_hitters_summary,
    )

    hh = str(tmp_path / "hh")
    cap = 10
    b0 = spark.createDataFrame(
        [(f"k{j}",) for j in range(500)], "key string"
    ).repartition(8)
    heavy_hitters_step(b0, 0, hh, "key", capacity=cap)
    with open(os.path.join(hh, "_latest")) as f:
        first_dir = f.read().strip()
    raw = spark.read.parquet(os.path.join(hh, first_dir))
    assert raw.count() <= cap + 1, (
        "first epoch persisted capacity x partitions keys — missing "
        "the single-input re-eviction merge"
    )

    # hand a lazy reader frame out, then fold the next epoch
    held = read_heavy_hitters_summary(spark, hh)
    b1 = spark.createDataFrame([("k1",)] * 30, "key string")
    heavy_hitters_step(b1, 1, hh, "key", capacity=cap)
    # grace window: the superseded dir is retained, the frame collects
    assert os.path.isdir(os.path.join(hh, first_dir))
    held.collect()

    # a further fold pushes epoch 0 out of the retain-2 window
    b2 = spark.createDataFrame([("k2",)] * 30, "key string")
    heavy_hitters_step(b2, 2, hh, "key", capacity=cap)
    assert not os.path.isdir(os.path.join(hh, first_dir))
    assert os.path.isdir(os.path.join(hh, "summary-1"))
    assert os.path.isdir(os.path.join(hh, "summary-2"))


def _ivf_crash_fixture(spark, idx):
    """Base index + one drifted batch whose ingest triggers an
    in-stream rebuild at skew_rebuild_ratio=5 (the blob construction
    of tests/test_ivf_index.py, scaled down)."""
    import numpy as np

    from meerkat_spark.similarity.ivf_index import build_ivf_index

    rng = np.random.default_rng(13)
    base = rng.normal(0, 1, (200, 16))
    blob = rng.normal(0, 1, (1600, 16))
    blob[:, 0] += 12.0
    schema = "vec_id long, embedding array<double>"
    bdf = spark.createDataFrame(
        [(i, [float(x) for x in base[i]]) for i in range(200)], schema
    )
    blobdf = spark.createDataFrame(
        [(10_000 + i, [float(x) for x in blob[i]]) for i in range(1600)],
        schema,
    )
    copies = blobdf.filter("vec_id % 40 = 0").selectExpr(
        "CAST(vec_id + 1000000 AS long) AS vec_id", "embedding"
    )
    build_ivf_index(bdf, idx, n_cells=8)
    return blobdf.unionByName(copies), copies


def _ivf_state(spark, idx):
    rows = (
        spark.read.parquet(os.path.join(idx, "assigned"))
        .select("neighbor_id", "cell_id")
        .collect()
    )
    return sorted((r.neighbor_id, r.cell_id) for r in rows)


@pytest.mark.parametrize(
    "crash", ["before_swap", "between_renames", "before_old_cleanup"]
)
def test_ivf_stream_rebuild_crash_replay(spark, tmp_path, crash):
    """r14 (VERDICT r13 ask #7): the in-stream allow_rebuild cadence
    under a kill at each of the rebuild swap's three crash points. The
    epoch marker only commits after maintenance, so the replayed epoch
    re-enters the step, whose entry sweep restores a live index that
    died between the two swap renames; the re-run rebuild (or the
    dedup compaction, when the swap had already completed) converges
    to an index CONTENT-IDENTICAL to an uncrashed control run — same
    (neighbor_id, cell_id) assignment set under the deterministic
    trainer — with the planted-copy recall contract intact and no
    duplicate rows left behind."""
    import os as _os
    import shutil as _shutil

    from meerkat_spark.similarity.ivf_index import (
        ivf_index_stats,
        ivf_search,
    )
    from meerkat_spark.streaming.ingest import ivf_ingest_step

    mk = {"skew_rebuild_ratio": 5.0}

    # control: the same epoch, never crashed
    idx_c = str(tmp_path / "ivf_control")
    batch, copies = _ivf_crash_fixture(spark, idx_c)
    ivf_ingest_step(
        batch, 1, idx_c, maintain_every=1, allow_rebuild=True,
        maintain_kwargs=mk,
    )
    want_state = _ivf_state(spark, idx_c)

    idx = str(tmp_path / "ivf_crash")
    batch2, copies2 = _ivf_crash_fixture(spark, idx)

    real_rename, real_rmtree = _os.rename, _shutil.rmtree
    with pytest.MonkeyPatch.context() as mp:
        if crash == "before_swap":
            def rn(src, dst):
                if ".old-" in str(dst):
                    raise RuntimeError("kill before the first swap rename")
                return real_rename(src, dst)

            mp.setattr(_os, "rename", rn)
        elif crash == "between_renames":
            def rn(src, dst):
                if ".rebuild-" in str(src):
                    raise RuntimeError("kill between the swap renames")
                return real_rename(src, dst)

            mp.setattr(_os, "rename", rn)
        else:
            def rt(p, *a, **k):
                if ".old-" in str(p):
                    raise RuntimeError("kill before the old-dir cleanup")
                return real_rmtree(p, *a, **k)

            mp.setattr(_shutil, "rmtree", rt)
        with pytest.raises(RuntimeError, match="kill"):
            ivf_ingest_step(
                batch2, 1, idx, maintain_every=1, allow_rebuild=True,
                maintain_kwargs=mk,
            )
    # the kill left no epoch marker, so the epoch is replayed verbatim
    assert not os.path.exists(os.path.join(idx, "_epochs", "epoch-1"))
    ivf_ingest_step(
        batch2, 1, idx, maintain_every=1, allow_rebuild=True,
        maintain_kwargs=mk,
    )

    # converged: marker committed, no crash residue, index content
    # identical to the uncrashed control
    assert os.path.exists(os.path.join(idx, "_epochs", "epoch-1"))
    parent = os.path.dirname(idx)
    residue = [
        n for n in os.listdir(parent)
        if ".old-" in n or ".rebuild-" in n
    ]
    assert not residue, residue
    assert _ivf_state(spark, idx) == want_state
    s = ivf_index_stats(spark, idx, skew_rebuild_ratio=5.0)
    assert s["n_duplicate_rows"] == 0
    assert s["recommendation"] != "rebuild"

    # searchable with the planted-copy contract intact
    res = ivf_search(spark, idx, copies2, k=1, n_probe=1)
    got = {(r.query_id, r.neighbor_id) for r in res.collect()}
    want = {
        (r.vec_id, r.vec_id - 1_000_000) for r in copies2.collect()
    }
    assert got == want


def test_merge_fold_keepers_tolerate_empty_batches(spark, tmp_path):
    """foreachBatch can deliver EMPTY micro-batches (a trigger with no
    new files): every merge-fold keeper must fold one without
    disturbing its state."""
    from meerkat_spark.streaming.ingest import (
        heavy_hitters_step,
        hll_distinct_step,
        read_heavy_hitters_summary,
        read_hll_distinct,
        read_tdigest,
        read_weighted_sample,
        tdigest_step,
        weighted_sample_step,
    )

    data = spark.createDataFrame(
        [(i, f"g{i % 3}", float(i % 50 + 1)) for i in range(300)],
        "id long, g string, v double",
    )
    empty = data.filter("id < 0")

    hh = str(tmp_path / "hh")
    heavy_hitters_step(data, 0, hh, "g", capacity=10)
    before = sorted(map(tuple, read_heavy_hitters_summary(spark, hh).collect()))
    heavy_hitters_step(empty, 1, hh, "g", capacity=10)
    assert sorted(
        map(tuple, read_heavy_hitters_summary(spark, hh).collect())
    ) == before

    ws = str(tmp_path / "ws")
    weighted_sample_step(data, 0, ws, weight_col="v", n=15, id_col="id")
    before = sorted(map(tuple, read_weighted_sample(spark, ws).collect()))
    weighted_sample_step(empty, 1, ws, weight_col="v", n=15, id_col="id")
    assert sorted(
        map(tuple, read_weighted_sample(spark, ws).collect())
    ) == before

    hl = str(tmp_path / "hll")
    hll_distinct_step(data, 0, hl, value_col="id", by=["g"])
    before = sorted(map(tuple, read_hll_distinct(spark, hl).collect()))
    hll_distinct_step(empty, 1, hl, value_col="id", by=["g"])
    assert sorted(map(tuple, read_hll_distinct(spark, hl).collect())) == before

    td = str(tmp_path / "td")
    tdigest_step(data, 0, td, value_col="v", by=["g"])
    before = sorted(map(repr, read_tdigest(spark, td).collect()))
    tdigest_step(empty, 1, td, value_col="v", by=["g"])
    assert sorted(map(repr, read_tdigest(spark, td).collect())) == before


def test_weighted_sample_step_crash_states(spark, tmp_path):
    """The shared _fold_summary_epoch protocol through the r14
    weighted-sample keeper: the three crash states of
    test_heavy_hitters_step_replay_idempotent — (a) marker present,
    (b) dir complete + marker lost, (c) dir complete + pointer behind
    — all replay to byte-identical state."""
    from meerkat_spark.operators.sampling import (
        merge_weighted_samples,
        weighted_sample_summary,
    )
    from meerkat_spark.streaming.ingest import (
        read_weighted_sample,
        weighted_sample_step,
    )

    ws = str(tmp_path / "ws")
    batches = [
        spark.createDataFrame(
            [(100 * e + j, j % 9 + 1) for j in range(60)], "id long, w long"
        )
        for e in range(3)
    ]
    for e, b in enumerate(batches):
        weighted_sample_step(b, e, ws, weight_col="w", n=25, id_col="id")
    base = sorted(map(tuple, read_weighted_sample(spark, ws).collect()))

    # (a) plain redelivery of every epoch
    for e, b in enumerate(batches):
        weighted_sample_step(b, e, ws, weight_col="w", n=25, id_col="id")
    assert sorted(map(tuple, read_weighted_sample(spark, ws).collect())) == base

    # (b) marker lost, dir complete
    marker = os.path.join(ws, "_epochs", "epoch-2")
    os.remove(marker)
    weighted_sample_step(batches[2], 2, ws, weight_col="w", n=25, id_col="id")
    assert os.path.exists(marker)
    assert sorted(map(tuple, read_weighted_sample(spark, ws).collect())) == base

    # (c) epoch 3's dir complete, pointer still at 2, no marker
    b3 = spark.createDataFrame([(9000 + j, 1000) for j in range(5)],
                               "id long, w long")
    cur = spark.read.parquet(
        os.path.join(ws, open(os.path.join(ws, "_latest")).read().strip())
    )
    expected3 = merge_weighted_samples(
        [cur, weighted_sample_summary(b3, "w", n=25, id_col="id")],
        n=25, id_col="id",
    )
    expected3.write.mode("overwrite").parquet(os.path.join(ws, "summary-3"))
    want = sorted(map(tuple, expected3.drop("__es_key").collect()))
    weighted_sample_step(b3, 3, ws, weight_col="w", n=25, id_col="id")
    with open(os.path.join(ws, "_latest")) as f:
        assert f.read().strip() == "summary-3"
    assert sorted(map(tuple, read_weighted_sample(spark, ws).collect())) == want


def test_fold_sweep_keeps_previous_target_across_checkpoints(spark, tmp_path):
    """Re-pointing a merge-fold keeper at a fresh checkpoint restarts
    its epoch ids at 0 under a new stream id. The sweep must still keep
    the previous pointer target, so a reader frame handed out before a
    fold collects after it, whatever the epoch numbers of older dirs;
    everything else is reclaimed."""
    from meerkat_spark.streaming.ingest import (
        _stream_id_of,
        heavy_hitters_step,
        read_heavy_hitters_summary,
    )

    hh = str(tmp_path / "hh")
    sid_a = _stream_id_of(str(tmp_path / "ck_a"))
    sid_b = _stream_id_of(str(tmp_path / "ck_b"))

    def batch(k):
        return spark.createDataFrame([(f"k{k}",)] * 5, "key string")

    for e in range(4):
        heavy_hitters_step(batch(e), e, hh, "key", capacity=10, stream_id=sid_a)
    heavy_hitters_step(batch(10), 0, hh, "key", capacity=10, stream_id=sid_b)
    held = read_heavy_hitters_summary(spark, hh)
    heavy_hitters_step(batch(11), 1, hh, "key", capacity=10, stream_id=sid_b)

    assert len(held.collect()) == 5
    assert sorted(d for d in os.listdir(hh) if d.startswith("summary-")) == [
        f"summary-{sid_b}-0",
        f"summary-{sid_b}-1",
    ]


@pytest.mark.parametrize("keeper", ["hll", "tdigest"])
def test_fold_keeper_crash_states(spark, tmp_path, keeper):
    """The three replay states of test_heavy_hitters_step_replay_idempotent
    through the HLL and t-digest keepers: (a) marker present, (b) dir
    complete but marker lost, (c) dir complete but pointer behind. Each
    replays to the state of an uncrashed run, and (c) adopts the
    complete dir instead of folding the batch again."""
    import shutil
    from functools import partial

    from meerkat_spark.streaming import ingest

    step, read = {
        "hll": (
            partial(ingest.hll_distinct_step, value_col="id", by=["g"]),
            ingest.read_hll_distinct,
        ),
        "tdigest": (
            partial(ingest.tdigest_step, value_col="v", by=["g"]),
            ingest.read_tdigest,
        ),
    }[keeper]
    batches = [
        spark.createDataFrame(
            [(100 * e + j, f"g{j % 3}", float(j * (e + 1) % 37)) for j in range(60)],
            "id long, g string, v double",
        )
        for e in range(4)
    ]

    def state(path):
        return sorted(map(repr, read(spark, path).collect()))

    control = str(tmp_path / "control")
    for e, b in enumerate(batches):
        step(b, e, control)

    path = str(tmp_path / keeper)
    for e, b in enumerate(batches[:3]):
        step(b, e, path)
    base = state(path)

    # (a) plain redelivery of every epoch
    for e, b in enumerate(batches[:3]):
        step(b, e, path)
    assert state(path) == base

    # (b) epoch dir complete, marker lost
    marker = os.path.join(path, "_epochs", "epoch-2")
    os.remove(marker)
    step(batches[2], 2, path)
    assert os.path.exists(marker)
    assert state(path) == base

    # (c) epoch 3's complete dir (from the uncrashed run) is in place,
    # the pointer is still at epoch 2 and there is no marker
    planted = os.path.join(path, "summary-3")
    shutil.copytree(os.path.join(control, "summary-3"), planted)
    files = sorted(os.listdir(planted))
    step(batches[3], 3, path)
    with open(os.path.join(path, "_latest")) as f:
        assert f.read().strip() == "summary-3"
    assert sorted(os.listdir(planted)) == files
    assert os.path.exists(os.path.join(path, "_epochs", "epoch-3"))
    assert state(path) == state(control)
