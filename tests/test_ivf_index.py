"""Persisted IVF index: build-once/search-many lifecycle — recall vs
brute force, search touches only probed partitions, repeat searches
reuse the stored assignment (no retraining)."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from meerkat_spark.similarity import knn
from meerkat_spark.similarity.ivf_index import build_ivf_index, ivf_search

SF = "/root/testdata/sf0.001"


def _topk_sets(df):
    out = {}
    for r in df.collect():
        out.setdefault(r.query_id, set()).add(r.neighbor_id)
    return out


def test_build_search_recall_and_pruning(spark, tmp_path):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    idx = str(tmp_path / "ivf")
    build_ivf_index(emb, idx, n_cells=8)

    q = emb.filter(F.col("vec_id") < 8)
    out = ivf_search(spark, idx, q, k=5, n_probe=4)
    exact = _topk_sets(knn.brute_force_topk(emb, q, k=5))
    approx = _topk_sets(out)
    recalls = [len(exact[qid] & approx.get(qid, set())) / 5 for qid in exact]
    assert sum(recalls) / len(recalls) >= 0.3, recalls

    # the probed cell ids reach the scan as PARTITION filters — the
    # layout-level pruning that makes the persisted index worth building
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [cell_id" in plan, plan[:2000]

    # a second search (different queries) reuses the stored index
    q2 = emb.filter((F.col("vec_id") >= 8) & (F.col("vec_id") < 12))
    out2 = ivf_search(spark, idx, q2, k=3, n_probe=3)
    assert out2.count() == 4 * 3


def test_index_matches_inline_ivf_shape(spark, tmp_path):
    """Persisted search returns the same schema/contract as the inline
    ivf_topk operator (drop-in replacement on the query side)."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    idx = str(tmp_path / "ivf")
    build_ivf_index(emb, idx, n_cells=8)
    q = emb.filter(F.col("vec_id") < 4)
    persisted = ivf_search(spark, idx, q, k=3, n_probe=8)  # probe all cells
    inline = knn.ivf_topk(emb, q, k=3, n_cells=8, n_probe=8)
    assert persisted.columns == inline.columns
    # probing ALL cells makes both exact: identical neighbor sets
    assert _topk_sets(persisted) == _topk_sets(inline)


def test_two_level_exact_dup_contract_and_recall(spark, tmp_path):
    """IMI-style two-level build (super argmax -> in-group cell argmax,
    O(n * n^0.25) assignment work instead of flat O(n * sqrt n)).
    Search mirrors the routing, so an identical query/corpus vector pair
    ALWAYS meets in the same cell: top-1 at n_probe=1 must be the
    planted exact duplicate at sim 1.0."""
    import os

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    dups = emb.filter(F.col("vec_id") < 10).withColumn(
        "vec_id", F.col("vec_id") + F.lit(100000)
    )
    idx = str(tmp_path / "ivf2l")
    build_ivf_index(emb.unionByName(dups), idx, n_cells=16, two_level=True)
    assert os.path.isdir(f"{idx}/supercentroids")

    q = emb.filter(F.col("vec_id") < 10)
    out = {r.query_id: r for r in ivf_search(spark, idx, q, k=1, n_probe=1).collect()}
    assert len(out) == 10
    for qid, r in out.items():
        assert r.neighbor_id == qid + 100000 and r.sim == 1.0, r

    # non-degenerate recall on ordinary (non-dup) queries with probes
    q2 = emb.filter((F.col("vec_id") >= 20) & (F.col("vec_id") < 28))
    exact = _topk_sets(knn.brute_force_topk(emb.unionByName(dups), q2, k=5))
    approx = _topk_sets(ivf_search(spark, idx, q2, k=5, n_probe=4))
    recalls = [len(exact[qid] & approx.get(qid, set())) / 5 for qid in exact]
    assert sum(recalls) / len(recalls) >= 0.3, recalls


def test_cluster_centroids_never_leaves_empty_supers():
    """ADVICE r10 (high): _cluster_centroids could keep a supercentroid
    that lost every member cell during training; a corpus vector routing
    to that dead super crashed the build's grouped argmax (empty-matrix
    argmax in the mapInPandas worker). The fix drops empty supers and
    renumbers. Sweep clustered configurations (the advisor's repro
    shape: 24/300 random clustered configs hit the precondition) and
    assert every surviving super id has >= 1 member cell."""
    import numpy as np

    from meerkat_spark.similarity.ivf_index import _cluster_centroids

    rng = np.random.default_rng(7)
    for trial in range(120):
        n_clusters = int(rng.integers(2, 8))
        n_cells = int(rng.integers(8, 80))
        dim = int(rng.integers(4, 32))
        centers = rng.normal(size=(n_clusters, dim))
        cents = centers[rng.integers(0, n_clusters, n_cells)] + 0.05 * rng.normal(
            size=(n_cells, dim)
        )
        cents /= np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-12)
        n_super = int(rng.integers(2, max(3, n_cells // 2)))
        sc, super_of_cell = _cluster_centroids(cents, n_super)
        assert len(sc) >= 1
        assert super_of_cell.min() >= 0 and super_of_cell.max() < len(sc)
        counts = np.bincount(super_of_cell, minlength=len(sc))
        assert counts.min() > 0, (trial, counts)


def test_hierarchical_training_collects_bounded(spark):
    """VERDICT r9 'what's wrong' #1: flat training collects
    n_cells*train_factor vectors (2M at the sqrt(corpus) default on a
    1e9 corpus). The hierarchical trainer's driver collects must be
    bounded by the SUPER sample (sqrt(n_cells)*train_factor) and the
    centroid table (n_cells) — never the full training sample."""
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("cv"),
    )
    n_cells, train_factor = 64, 64
    knn._LAST_TRAIN_COLLECTS.clear()
    cents = knn._train_centroids_hierarchical(c, n_cells, train_factor, n_iter=3)
    assert 1 <= len(cents) <= n_cells
    n_super = int(max(round(n_cells**0.5), 2))
    flat_would_collect = n_cells * train_factor
    for label, rows in knn._LAST_TRAIN_COLLECTS:
        assert rows <= max(n_super * train_factor, n_cells), (label, rows)
        assert rows < flat_would_collect, (label, rows)


def test_flat_trainer_hard_cap_raises(spark):
    """The flat trainer refuses configurations whose sample collect
    would exceed the hard cap (the queries_to_pdf contract, applied to
    training — VERDICT r9 ask #1)."""
    import pytest
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("cv"),
    )
    with pytest.raises(ValueError, match="hierarchical"):
        knn._train_centroids_sample(c, 1024, 64, 1, max_collect=10_000)


def test_quantized_index_recall_and_codes(spark, tmp_path):
    """quantize=True lifecycle (VERDICT r9 ask #7): planted exact dups
    must come back top-1 at sim 1.0 through the int8 coarse pass + float
    rerank, and the stored codes must match similarity/quantize.py's
    symmetric scheme exactly (same scale, same half-up rounding)."""
    from meerkat_spark.similarity.quantize import quantize_table

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select("vec_id", "embedding")
    dups = emb.filter(F.col("vec_id") < 10).withColumn(
        "vec_id", F.col("vec_id") + F.lit(100000)
    )
    idx = str(tmp_path / "ivfq")
    build_ivf_index(emb.unionByName(dups), idx, n_cells=16, quantize=True)

    q = emb.filter(F.col("vec_id") < 10)
    out = {r.query_id: r for r in ivf_search(spark, idx, q, k=1, n_probe=1).collect()}
    assert len(out) == 10
    for qid, r in out.items():
        assert r.neighbor_id == qid + 100000 and r.sim == 1.0, r

    # stored codes == quantize.py's formula, row for row
    stored = {
        r.neighbor_id: (list(r.q), r.q_scale)
        for r in spark.read.parquet(f"{idx}/assigned")
        .filter(F.col("neighbor_id") < 10)
        .collect()
    }
    expected = {
        r.vec_id: ([int(x) for x in r.q], r.q_scale)
        for r in quantize_table(
            emb.filter(F.col("vec_id") < 10),
            vec_col="embedding",
        ).collect()
    }
    assert set(stored) == set(expected)
    for vid in stored:
        assert stored[vid][0] == expected[vid][0], vid
        assert abs(stored[vid][1] - expected[vid][1]) < 1e-12, vid


def test_default_n_cells_scales_sqrt(spark, tmp_path):
    """n_cells=None sizes the index at ~sqrt(corpus) (clamped to
    [4, 65536]) — the r8 scale fix: fixed cell counts make probe cost
    linear in the corpus; sqrt keeps centroid-scan and cell-scan both
    O(sqrt n). Pin the sizing so a refactor can't silently regress the
    default back to a constant."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    n = emb.count()
    idx = str(tmp_path / "ivf_default")
    build_ivf_index(emb, idx)
    got = spark.read.parquet(f"{idx}/centroids").count()
    assert got == int(min(max(round(n**0.5), 4), 1 << 16))
    # search still returns k results per query against the default index
    q = emb.filter(F.col("vec_id") < 4)
    out = ivf_search(spark, idx, q, k=3, n_probe=4)
    per_q = {r.query_id for r in out.collect()}
    assert len(per_q) == 4


def test_build_routes_to_hierarchical_above_flat_bound(spark, tmp_path):
    """build_ivf_index must select the hierarchical trainer exactly when
    the flat sample collect would exceed FLAT_TRAIN_MAX_ROWS — the
    scale rule that keeps small builds on the cheap single-collect path
    while a sqrt(corpus) build at real scale never collects
    n_cells*train_factor rows."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select("vec_id", "embedding")

    knn._LAST_TRAIN_COLLECTS.clear()
    build_ivf_index(emb, str(tmp_path / "flat"), n_cells=16, train_factor=64)
    assert [lbl for lbl, _ in knn._LAST_TRAIN_COLLECTS] == ["flat_sample"]

    knn._LAST_TRAIN_COLLECTS.clear()
    # 130 * 512 = 66560 > 65536 -> hierarchical (sample rows are capped
    # by the 500-row corpus, so this stays cheap to run)
    build_ivf_index(emb, str(tmp_path / "hier"), n_cells=130, train_factor=512)
    labels = [lbl for lbl, _ in knn._LAST_TRAIN_COLLECTS]
    assert "hier_centroids" in labels, labels


def test_ivfpq_recall_and_mutual_exclusion(spark, tmp_path):
    """IVFPQ composition (pq_m=8): planted exact dups rerank to top-1
    at sim 1.0 through the ADC coarse pass; approximate recall on
    ordinary queries stays above the floor; quantize and pq_m are
    mutually exclusive."""
    import os

    import pytest

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select("vec_id", "embedding")
    dups = emb.filter(F.col("vec_id") < 10).withColumn(
        "vec_id", F.col("vec_id") + F.lit(100000)
    )
    idx = str(tmp_path / "ivfpq")
    build_ivf_index(emb.unionByName(dups), idx, n_cells=16, pq_m=8)
    assert os.path.isdir(f"{idx}/pq_codebooks")

    q = emb.filter(F.col("vec_id") < 10)
    out = {r.query_id: r for r in ivf_search(spark, idx, q, k=1, n_probe=1).collect()}
    assert len(out) == 10
    for qid, r in out.items():
        assert r.neighbor_id == qid + 100000 and r.sim == 1.0, r

    q2 = emb.filter((F.col("vec_id") >= 20) & (F.col("vec_id") < 28))
    exact = _topk_sets(knn.brute_force_topk(emb.unionByName(dups), q2, k=5))
    approx = _topk_sets(ivf_search(spark, idx, q2, k=5, n_probe=4))
    recalls = [len(exact[qid] & approx.get(qid, set())) / 5 for qid in exact]
    assert sum(recalls) / len(recalls) >= 0.3, recalls

    with pytest.raises(ValueError, match="ONE of"):
        build_ivf_index(emb, str(tmp_path / "x"), quantize=True, pq_m=8)


@pytest.mark.parametrize(
    "variant", [{"quantize": True}, {"pq_m": 8}], ids=["sq8", "pq"]
)
def test_rerank_exact_over_probed_cells(spark, tmp_path, variant):
    """With a refine that covers every row, the SQ8/PQ float rerank
    returns exactly the cosine top-k over the probed cells' rows, self
    excluded, computed in numpy from `assigned/`. 24 queries x refine
    500 bounds 12,000 candidate pairs, so this also covers batches above
    10,000 pairs. The rerank is one broadcast join on neighbor_id: no
    semi-join and no literal neighbor_id In filter in the plan."""
    import re

    import pyarrow.parquet as papq

    from meerkat_spark.similarity.ivf_index import _load_index_meta

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select("vec_id", "embedding")
    idx = str(tmp_path / "ivf_rerank")
    build_ivf_index(emb, idx, n_cells=16, **variant)
    rows = papq.read_table(f"{idx}/assigned").to_pandas()
    assert len(rows) == 500
    k, n_probe = 5, 2
    out = ivf_search(
        spark, idx, emb.filter(F.col("vec_id") < 24), k=k, n_probe=n_probe,
        refine=len(rows),
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" not in plan, plan[:2000]
    assert not re.search(r"In\(neighbor_id|neighbor_id#\d+L IN \(", plan), plan[:2000]

    got: dict[int, list] = {}
    for r in sorted(out.collect(), key=lambda r: (r.query_id, r.rank)):
        got.setdefault(r.query_id, []).append((r.neighbor_id, r.sim))
    ids = rows["neighbor_id"].to_numpy()
    Cn = knn._unit(np.stack(rows["cv"].to_numpy()))
    meta = _load_index_meta(spark, idx)
    pos = {int(v): i for i, v in enumerate(ids)}
    for qid in range(24):
        qn = Cn[pos[qid]]
        cells = knn._route(
            qn[None, :], meta["cents"], n_probe, meta["supercents"],
            meta["super_of_cell"],
        )[0]
        cand = np.isin(rows["cell_id"].astype(int), cells) & (ids != qid)
        sims = Cn[cand] @ qn
        order = np.lexsort((ids[cand], -sims))[:k]
        want = list(zip(ids[cand][order].tolist(), sims[order].tolist()))
        assert [n for n, _ in got[qid]] == [n for n, _ in want], qid
        assert np.allclose([s for _, s in got[qid]], [s for _, s in want], atol=1e-6)


def test_hierarchical_super_sample_clamped(spark):
    """ADVICE r10 low: a large caller train_factor used to make the
    hierarchical trainer's OWN supercentroid sample exceed max_collect
    and raise 'use _train_centroids_hierarchical' from inside itself.
    The super sample is now clamped to the collect cap instead."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("cv"),
    )
    # n_super = sqrt(256) = 16; 16 * 10_000 = 160k > max_collect=20k
    # would have raised pre-fix; the clamp caps the sample at 20k rows
    knn._LAST_TRAIN_COLLECTS.clear()
    cents = knn._train_centroids_hierarchical(
        c, n_cells=256, train_factor=10_000, n_iter=1, max_collect=20_000
    )
    assert 1 <= len(cents) <= 256
    for label, rows in knn._LAST_TRAIN_COLLECTS:
        assert rows <= 20_000, (label, rows)


def test_search_pairs_unique_under_padded_probes(spark, tmp_path):
    """r11: the coarse candidate joins no longer carry a
    dropDuplicates shuffle — pair uniqueness must hold BY CONSTRUCTION
    (one cell per vector, distinct (query, cell) probes). The
    adversarial case is the two-level path with n_probe larger than a
    probed supercluster's member-cell count, where the old code PADDED
    the probe list by repeating the first cell."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select("vec_id", "embedding")
    idx = str(tmp_path / "ivf2l_pad")
    # tiny cell count -> few cells per supercluster -> padding certain
    build_ivf_index(emb, idx, n_cells=4, two_level=True)
    q = emb.filter(F.col("vec_id") < 12)
    out = ivf_search(spark, idx, q, k=50, n_probe=8).collect()
    pairs = [(r.query_id, r.neighbor_id) for r in out]
    assert len(pairs) == len(set(pairs)), "duplicate (query, neighbor) pairs"
    # ranks stay dense 1..n per query (a duplicate would shift them)
    by_q: dict[int, list[int]] = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r.rank)
    for qid, ranks in by_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), qid

    # quantized variant through the same padded-probe geometry
    idxq = str(tmp_path / "ivfq_pad")
    build_ivf_index(emb, idxq, n_cells=4, quantize=True)
    outq = ivf_search(spark, idxq, q, k=20, n_probe=8).collect()
    pq_pairs = [(r.query_id, r.neighbor_id) for r in outq]
    assert len(pq_pairs) == len(set(pq_pairs))


def test_pq_query_batch_autosplits_above_lut_guard(spark, tmp_path, monkeypatch):
    """r11: a PQ query batch whose combined ADC LUT would exceed the
    broadcast bound auto-splits into guard-sized chunks and unions the
    per-chunk results — identical output to the unsplit search, no
    raise. Forced by shrinking MAX_ADC_LUT_ENTRIES below the batch."""
    import meerkat_spark.similarity.pq as pqmod

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select("vec_id", "embedding")
    dups = emb.filter(F.col("vec_id") < 10).withColumn(
        "vec_id", F.col("vec_id") + F.lit(100000)
    )
    idx = str(tmp_path / "ivfpq_split")
    build_ivf_index(emb.unionByName(dups), idx, n_cells=16, pq_m=8)
    q = emb.filter(F.col("vec_id") < 10)

    whole = {(r.query_id, r.rank): r.neighbor_id
             for r in ivf_search(spark, idx, q, k=1, n_probe=1).collect()}

    # codebooks hold m*k_eff rows; cap the LUT at ~3 queries' worth
    lut_per_q = spark.read.parquet(f"{idx}/pq_codebooks").count()
    monkeypatch.setattr(pqmod, "MAX_ADC_LUT_ENTRIES", 3 * lut_per_q)
    split = {(r.query_id, r.rank): r.neighbor_id
             for r in ivf_search(spark, idx, q, k=1, n_probe=1).collect()}
    assert split == whole
    for (qid, rank), nid in split.items():
        assert rank == 1 and nid == qid + 100000


def test_extend_index_same_routing_all_variants(spark, tmp_path):
    """r11 extend_ivf_index: an appended batch routes and encodes with
    the PERSISTED state (centroids / super routing / PQ books / OPQ
    flag / SQ8 detection), so an exact copy of an indexed vector lands
    in its source's cell and comes back top-1 at sim 1.0 through every
    index variant — the planted contract must survive extension."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select("vec_id", "embedding")
    base = emb.filter(F.col("vec_id") % 2 == 0)
    copies = emb.filter((F.col("vec_id") % 2 == 0) & (F.col("vec_id") < 20)).select(
        (F.col("vec_id") + 100000).cast("long").alias("vec_id"), "embedding"
    )
    fresh = emb.filter(F.col("vec_id") % 2 == 1)
    variants = {
        "float2l": {"two_level": True},
        "sq8": {"quantize": True},
        "opq": {"pq_m": 8, "pq_rotate": True},
    }
    for name, kwargs in variants.items():
        idx = str(tmp_path / name)
        build_ivf_index(base, idx, n_cells=8, **kwargs)
        from meerkat_spark.similarity.ivf_index import extend_ivf_index

        extend_ivf_index(fresh.unionByName(copies), idx)
        q = emb.filter((F.col("vec_id") % 2 == 0) & (F.col("vec_id") < 20))
        out = {
            r.query_id: r
            for r in ivf_search(spark, idx, q, k=1, n_probe=1).collect()
        }
        assert len(out) == 10, name
        for qid, r in out.items():
            assert r.neighbor_id == qid + 100000 and r.sim == 1.0, (name, r)
        # appended fresh vectors are searchable too
        q2 = fresh.filter(F.col("vec_id") < 9)
        got = ivf_search(spark, idx, q2, k=3, n_probe=8)
        assert got.count() > 0, name


def test_ivf_index_stats_skew_and_file_telemetry(spark, tmp_path):
    """r12 (VERDICT r11 ask #4): extend freezes centroids, so the
    maintenance loop needs telemetry. Pins: healthy build -> 'ok';
    repeated extends -> file-count debt -> 'compact' (and
    compact_ivf_index clears it); a 10x-skewed extend (one cell
    swallows the whole append) -> 'rebuild'."""
    from meerkat_spark.similarity.ivf_index import (
        compact_ivf_index,
        extend_ivf_index,
        ivf_index_stats,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    idx = str(tmp_path / "ivf")
    build_ivf_index(emb.filter("vec_id < 400"), idx, n_cells=8)
    s0 = ivf_index_stats(spark, idx)
    assert s0["recommendation"] == "ok"
    assert s0["n_cells"] <= 8 and s0["files_per_cell_max"] == 1

    # five small extends -> some cell accumulates > 4 files
    for i in range(5):
        batch = (
            emb.filter("vec_id < 400")
            .withColumn("vec_id", F.col("vec_id") + F.lit(1000 * (i + 1)))
        )
        extend_ivf_index(batch, idx)
    s1 = ivf_index_stats(spark, idx)
    assert s1["recommendation"] == "compact"
    assert s1["files_per_cell_max"] > 4
    assert s1["n_rows"] == 6 * 400

    compact_ivf_index(spark, idx)
    s2 = ivf_index_stats(spark, idx)
    assert s2["files_per_cell_max"] == 1
    assert s2["recommendation"] == "ok"
    assert s2["n_rows"] == s1["n_rows"]

    # skewed append: 10x the corpus, every row a copy of ONE vector
    # (fresh ids) -> one cell swallows it all -> rebuild, not compact
    one = emb.filter("vec_id = 0").select("embedding").first()[0]
    skew_df = spark.range(20_000, 44_000).select(
        F.col("id").alias("vec_id"),
        F.lit([float(x) for x in one]).alias("embedding"),
    )
    extend_ivf_index(skew_df, idx)
    # with n_cells=8 the max/mean ratio asymptotes to 8, so exercise
    # the rebuild route through the threshold KNOB (it is an operator
    # knob, not a contract — the default 8x targets sqrt-n cell counts)
    s3 = ivf_index_stats(spark, idx, skew_rebuild_ratio=5.0)
    assert s3["recommendation"] == "rebuild"
    assert s3["skew_ratio"] > 5.0
    # and rebuild outranks the file-count debt the append also created
    assert s3["files_per_cell_max"] >= 2


def test_meta_cache_seed_equals_cold_read(spark, tmp_path):
    """r12: build_ivf_index pre-seeds the driver metadata cache; the
    seeded value must equal a cold re-read of the persisted tables for
    every index variant, and a REBUILD at the same path must invalidate
    the cache (signature change)."""
    from pyspark.sql.types import LongType, StructField, StructType

    from meerkat_spark.similarity.ivf_index import (
        _cached_meta_matches_cold_read,
        _load_index_meta,
        _seed_meta_cache,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    for i, kwargs in enumerate(
        [
            {"n_cells": 8},
            {"n_cells": 8, "quantize": True},
            {"n_cells": 8, "pq_m": 8},
            {"n_cells": 16, "two_level": True},
        ]
    ):
        idx = str(tmp_path / f"ivf{i}")
        build_ivf_index(emb, idx, **kwargs)
        assert _cached_meta_matches_cold_read(spark, idx), kwargs

    # the `assigned` schema is compared too: a seeded type drift (the
    # write side's cell_id long vs the int a cold read infers) must fail
    # here rather than surface in a search
    drifted = dict(_load_index_meta(spark, idx))
    drifted["assigned_schema"] = StructType(
        drifted["assigned_schema"].fields[:-1] + [StructField("cell_id", LongType())]
    )
    _seed_meta_cache(idx, drifted)
    assert not _cached_meta_matches_cold_read(spark, idx)

    # rebuild invalidation: different cell count at the SAME path must
    # not serve the stale cached routing
    idx = str(tmp_path / "ivf0")
    meta8 = _load_index_meta(spark, idx)
    assert len(meta8["cents"]) <= 8
    build_ivf_index(emb, idx, n_cells=4)
    meta4 = _load_index_meta(spark, idx)
    assert len(meta4["cents"]) <= 4 and len(meta4["cents"]) != len(meta8["cents"])


def test_maintain_ivf_index_policy(spark, tmp_path):
    """r12: the one-call maintenance wrapper COMPACTS on file debt,
    only REPORTS rebuild (re-training changes near-boundary results —
    operator opt-in), and no-ops on a healthy index."""
    from meerkat_spark.similarity.ivf_index import (
        extend_ivf_index,
        ivf_search,
        maintain_ivf_index,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    idx = str(tmp_path / "ivf")
    build_ivf_index(emb.filter("vec_id < 400"), idx, n_cells=8)
    assert maintain_ivf_index(spark, idx)["action"] == "none"

    for i in range(5):
        extend_ivf_index(
            emb.filter("vec_id < 400").withColumn(
                "vec_id", F.col("vec_id") + F.lit(1000 * (i + 1))
            ),
            idx,
        )
    q = emb.filter("vec_id < 4")
    before = {tuple(r) for r in ivf_search(spark, idx, q, k=3, n_probe=8).collect()}
    res = maintain_ivf_index(spark, idx)
    assert res["action"] == "compacted"
    assert res["files_after"] < res["files_before"]
    # compaction is result-preserving
    after = {tuple(r) for r in ivf_search(spark, idx, q, k=3, n_probe=8).collect()}
    assert before == after
    assert maintain_ivf_index(spark, idx)["action"] == "none"

    one = emb.filter("vec_id = 0").select("embedding").first()[0]
    extend_ivf_index(
        spark.range(20_000, 44_000).select(
            F.col("id").alias("vec_id"),
            F.lit([float(x) for x in one]).alias("embedding"),
        ),
        idx,
    )
    res = maintain_ivf_index(spark, idx, skew_rebuild_ratio=5.0)
    assert res["action"] == "rebuild_required"


def test_extend_replay_detected_and_healed(spark, tmp_path):
    """r12: a replayed extend_ivf_index batch duplicates assigned rows
    — the same neighbor would rank TWICE in a top-k. ivf_index_stats
    must report the duplicates, maintain_ivf_index must heal them via
    dedup compaction, and the healed search must equal the pre-replay
    search."""
    from meerkat_spark.similarity.ivf_index import (
        extend_ivf_index,
        ivf_index_stats,
        maintain_ivf_index,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    idx = str(tmp_path / "ivf")
    build_ivf_index(emb.filter("vec_id < 300"), idx, n_cells=8)
    batch = emb.filter("vec_id >= 300 and vec_id < 400")
    extend_ivf_index(batch, idx)
    q = emb.filter("vec_id < 4")
    clean = {tuple(r) for r in ivf_search(spark, idx, q, k=5, n_probe=8).collect()}

    extend_ivf_index(batch, idx)  # the replay
    s = ivf_index_stats(spark, idx)
    assert s["n_duplicate_rows"] == batch.count()
    assert s["recommendation"] == "compact"
    # the hazard is real: a duplicated id ranks twice
    dup_res = ivf_search(spark, idx, q, k=5, n_probe=8)
    pairs = dup_res.groupBy("query_id", "neighbor_id").count()
    assert pairs.filter("count > 1").count() > 0

    res = maintain_ivf_index(spark, idx)
    assert res["action"] == "compacted"
    s2 = ivf_index_stats(spark, idx)
    assert s2["n_duplicate_rows"] == 0 and s2["recommendation"] == "ok"
    healed = {tuple(r) for r in ivf_search(spark, idx, q, k=5, n_probe=8).collect()}
    assert healed == clean


def _blob_fixture(spark):
    """(base_df, blob_df): 400 isotropic base vectors and a 4000-row
    DIVERSE drifted blob (unit Gaussian shifted +12 along dim 0 — a
    ~20-degree cone the base-trained frozen centroids route almost
    entirely into one cell, while its internal angular spread lets a
    re-train split it across many). A near-parallel fixture (exact
    copies / one shifted direction) would NOT work: k-means cannot
    separate colinear vectors, so rebuild could never cut the skew."""
    rng = np.random.default_rng(13)
    base = rng.normal(0, 1, (400, 16))
    blob = rng.normal(0, 1, (4000, 16))
    blob[:, 0] += 12.0
    schema = "vec_id long, embedding array<double>"
    bdf = spark.createDataFrame(
        [(i, [float(x) for x in base[i]]) for i in range(400)], schema
    )
    blobdf = spark.createDataFrame(
        [(10_000 + i, [float(x) for x in blob[i]]) for i in range(4000)],
        schema,
    )
    return bdf, blobdf


def test_rebuild_ivf_index_heals_skew(spark, tmp_path):
    """r13 (VERDICT r12 ask #4): the missing arm of the maintenance
    loop. A drifted extend stream skews one frozen cell to >5x the
    mean; rebuild_ivf_index re-trains from the STORED vectors via an
    atomic tmp+swap, after which the skew ratio is back under the
    threshold, the row set is intact, and a planted exact-copy probe
    still returns its source as top-1 (the ivf_extend_recall contract
    survives re-training)."""
    from meerkat_spark.similarity.ivf_index import (
        extend_ivf_index,
        ivf_index_stats,
        ivf_search,
        rebuild_ivf_index,
    )

    base, blob = _blob_fixture(spark)
    idx = str(tmp_path / "ivf")
    build_ivf_index(base, idx, n_cells=8)
    extend_ivf_index(blob, idx)
    # exact copies (+1M) of every 40th blob vector, for the recall pin
    copies = blob.filter("vec_id % 40 = 0").select(
        (F.col("vec_id") + 1_000_000).cast("long").alias("vec_id"),
        "embedding",
    )
    extend_ivf_index(copies, idx)

    s_before = ivf_index_stats(spark, idx, skew_rebuild_ratio=5.0)
    assert s_before["recommendation"] == "rebuild"
    assert s_before["skew_ratio"] > 5.0

    res = rebuild_ivf_index(spark, idx)
    assert res["n_rows"] == s_before["n_rows"]  # nothing lost
    assert res["n_cells_after"] > res["n_cells_before"]  # fresh sqrt(n)
    s_after = ivf_index_stats(spark, idx, skew_rebuild_ratio=5.0)
    assert s_after["skew_ratio"] < 5.0, s_after
    assert s_after["n_rows"] == s_before["n_rows"]

    # planted-copy recall through the rebuilt routing
    res_df = ivf_search(spark, idx, copies, k=1, n_probe=1)
    got = {(r.query_id, r.neighbor_id) for r in res_df.collect()}
    want = {
        (r.vec_id + 1_000_000, r.vec_id)
        for r in blob.filter("vec_id % 40 = 0").collect()
    }
    assert got == want


def test_rebuild_preserves_variants_and_heals_duplicates(spark, tmp_path):
    """r13: rebuild auto-detects the index variant (SQ8 codes here) and
    carries it through the re-train; replayed-extend duplicate rows are
    deduped by the rebuild itself."""
    from meerkat_spark.similarity.ivf_index import (
        extend_ivf_index,
        ivf_index_stats,
        rebuild_ivf_index,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    idx = str(tmp_path / "ivfq")
    build_ivf_index(emb.filter("vec_id < 300"), idx, n_cells=8, quantize=True)
    batch = emb.filter("vec_id >= 300 and vec_id < 400")
    extend_ivf_index(batch, idx)
    extend_ivf_index(batch, idx)  # replay -> duplicates
    assert ivf_index_stats(spark, idx)["n_duplicate_rows"] == batch.count()

    res = rebuild_ivf_index(spark, idx)
    assert res["n_rows"] == 400  # replay rows healed
    s = ivf_index_stats(spark, idx)
    assert s["n_duplicate_rows"] == 0
    cols = spark.read.parquet(f"{idx}/assigned").columns
    assert "q" in cols and "q_scale" in cols  # variant preserved


def test_maintain_rebuild_branch_heals_and_opts_in(spark, tmp_path):
    """r13 (ADVICE r12, medium): a rebuild-diagnosed index with replay
    duplicates must still be DEDUP-HEALED on the default report-only
    path (duplicates rank twice in every top-k and used to persist
    across maintenance cycles); with allow_rebuild=True the wrapper
    runs the rebuild itself and the skew diagnosis clears."""
    from meerkat_spark.similarity.ivf_index import (
        extend_ivf_index,
        ivf_index_stats,
        maintain_ivf_index,
    )

    base, blob = _blob_fixture(spark)
    idx = str(tmp_path / "ivf")
    build_ivf_index(base, idx, n_cells=8)
    extend_ivf_index(blob, idx)
    # replay part of the blob -> duplicates UNDER the skew diagnosis
    extend_ivf_index(blob.filter("vec_id % 4 = 0"), idx)

    res = maintain_ivf_index(spark, idx, skew_rebuild_ratio=5.0)
    assert res["action"] == "rebuild_required_deduped"
    assert ivf_index_stats(spark, idx)["n_duplicate_rows"] == 0
    # skew persists (report-only path does not re-train) ...
    assert ivf_index_stats(spark, idx, skew_rebuild_ratio=5.0)[
        "recommendation"
    ] == "rebuild"
    # ... until the operator opts in
    res2 = maintain_ivf_index(spark, idx, skew_rebuild_ratio=5.0,
                              allow_rebuild=True)
    assert res2["action"] == "rebuilt"
    s = ivf_index_stats(spark, idx, skew_rebuild_ratio=5.0)
    assert s["recommendation"] != "rebuild"
    assert s["skew_ratio"] < 5.0


def test_search_probed_cell_without_directory(spark, tmp_path):
    """A probed cell with no `cell_id=` directory (what a cell k-means
    left empty looks like) contributes no rows: a search that probes it
    among other cells returns what the remaining probed rows give, and a
    search whose only probed cell lacks a directory returns the empty
    result frame instead of failing on the missing path."""
    import shutil

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select("vec_id", "embedding")
    idx = str(tmp_path / "ivf_gap")
    build_ivf_index(emb, idx, n_cells=8)
    assigned = spark.read.parquet(f"{idx}/assigned")
    cell_of = {
        r.neighbor_id: r.cell_id
        for r in assigned.select("neighbor_id", "cell_id").collect()
    }
    # query 0 routes to the cell its own vector was assigned to
    gone = cell_of[0]
    q = emb.filter(F.col("vec_id") < 8)
    # k above the corpus size: every probed candidate comes back ranked
    before = ivf_search(spark, idx, q, k=1000, n_probe=3).collect()
    assert {cell_of[r.neighbor_id] for r in before if r.query_id == 0} - {gone}

    shutil.rmtree(f"{idx}/assigned/cell_id={gone}")
    after = ivf_search(spark, idx, q, k=1000, n_probe=3).collect()
    kept = [r for r in before if cell_of[r.neighbor_id] != gone]
    assert {(r.query_id, r.neighbor_id, r.sim) for r in after} == {
        (r.query_id, r.neighbor_id, r.sim) for r in kept
    }
    by_q: dict[int, list[int]] = {}
    for r in after:
        by_q.setdefault(r.query_id, []).append(r.rank)
    for qid, ranks in by_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), qid

    only_gone = ivf_search(spark, idx, emb.filter(F.col("vec_id") == 0), k=5, n_probe=1)
    assert only_gone.schema.simpleString() == (
        "struct<query_id:bigint,neighbor_id:bigint,sim:double,rank:int>"
    )
    assert only_gone.collect() == []


def test_warm_search_launches_no_listing_job(spark, tmp_path):
    """A warm search reads only its probed cells' directories with the
    cached `assigned` schema. With more cells than Spark's 32-path
    parallel-discovery threshold, a whole-table read pays a listing job
    and a schema-inference job on every call; here construction may run
    only the bounded query collect (float) plus the coarse candidate
    collect (sq8, pq), and no job may come from a parquet read."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select("vec_id", "embedding")
    q = emb.filter(F.col("vec_id") < 4)
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def construct_jobs(group, fn):
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

    query_collect = construct_jobs(
        "ivf-warm-queries", lambda: knn.queries_to_pdf(q, "vec_id", "embedding")
    )
    assert query_collect
    for name, kwargs in {
        "float": {}, "sq8": {"quantize": True}, "pq": {"pq_m": 8}
    }.items():
        idx = str(tmp_path / name)
        build_ivf_index(emb, idx, n_cells=40, **kwargs)
        cells = [d for d in os.listdir(f"{idx}/assigned") if d.startswith("cell_id=")]
        assert len(cells) > 32, (name, len(cells))
        ivf_search(spark, idx, q, k=3, n_probe=1).collect()
        calls = construct_jobs(
            f"ivf-warm-{name}",
            lambda: ivf_search(spark, idx, q, k=3, n_probe=1),
        )
        assert not [c for c in calls if c.startswith("parquet at")], (name, calls)
        if name == "float":
            assert len(calls) == len(query_collect), calls
        else:
            extra = calls[len(query_collect):]
            assert calls[: len(query_collect)] == query_collect, (name, calls)
            assert extra and all("ivf_index.py" in c for c in extra), (name, calls)


# --- one routing function: knn._route places every vector ------------


@pytest.mark.parametrize("two_level", [False, True], ids=["flat", "two_level"])
def test_exact_copy_found_at_every_n_probe(spark, tmp_path, two_level):
    """Every exact-copy query of a 2,000-vector clustered corpus gets
    its source at rank 1 with sim 1.0, at n_probe 1, 2 and 3, flat and
    two-level: the build writes a vector to column 0 of knn._route and
    every search probes that cell first. A two-level search that ranked
    the union of its probed superclusters' cells could drop that cell
    (seed 1 missed 61 copies at n_probe=2)."""
    from meerkat_spark.similarity.ivf_index import _arrow_df

    rng = np.random.default_rng(1)
    centers = rng.normal(size=(30, 16))
    X = centers[rng.integers(0, 30, 2000)] + 0.3 * rng.normal(size=(2000, 16))
    ids = np.arange(len(X), dtype=np.int64)
    ddl = "vec_id long, embedding array<double>"
    corpus = _arrow_df(spark, ddl, {"vec_id": ids, "embedding": X})
    copies = _arrow_df(spark, ddl, {"vec_id": ids + 1_000_000, "embedding": X})
    idx = str(tmp_path / "ivf_copies")
    build_ivf_index(corpus, idx, n_cells=64, two_level=two_level)
    for n_probe in (1, 2, 3):
        top1 = {
            r.query_id: r
            for r in ivf_search(spark, idx, copies, k=1, n_probe=n_probe).collect()
        }
        missed = [
            q for q in (ids + 1_000_000).tolist()
            if q not in top1
            or top1[q].neighbor_id != q - 1_000_000
            or top1[q].sim != 1.0
        ]
        assert not missed, (n_probe, len(missed), missed[:5])


def test_route_ties_batches_and_probe_clamp():
    """knn._route's contract on its own: an exact tie goes to the lowest
    cell id; column 0 of a row routed alone equals that row's column 0
    inside the whole batch, on centroids with exact and near-duplicates
    (BLAS gemv and gemm may round differently); n_probe above the cell
    count returns every cell, flat and two-level."""
    from meerkat_spark.similarity.ivf_index import _cluster_centroids

    e = np.eye(3)
    tied = knn._unit(np.array([e[0], e[1], e[1], e[2], e[1]]))
    assert knn._route(e[1:2], tied)[0, 0] == 1
    assert knn._route(e[1:2], tied, n_probe=3)[0].tolist() == [1, 2, 4]
    many = np.tile(e[[1, 0, 2]], (22, 1))[:64]  # cells 0, 3, ..., 63 tie
    assert knn._route(e[1:2], many, n_probe=22)[0].tolist() == list(range(0, 64, 3))

    rng = np.random.default_rng(16)
    base = rng.normal(size=(6, 24))
    cents = knn._unit(np.concatenate([
        base,
        base[:3],  # exact duplicates of cells 0-2
        base[3:] + 1e-13 * rng.normal(size=(3, 24)),  # near-duplicates
    ]))
    X = knn._unit(np.concatenate([
        np.repeat(base, 40, axis=0) + 1e-9 * rng.normal(size=(240, 24)),
        rng.normal(size=(200, 24)),
    ]))
    supercents, super_of_cell = _cluster_centroids(cents, 3)
    for two in (None, (supercents, super_of_cell)):
        kw = {} if two is None else {"supercents": two[0], "super_of_cell": two[1]}
        whole = knn._route(X, cents, 1, **kw)[:, 0]
        alone = [knn._route(X[i : i + 1], cents, 1, **kw)[0, 0] for i in range(len(X))]
        assert whole.tolist() == alone
        assert (knn._route(X, cents, 3, **kw)[:, 0] == whole).all()

        every = knn._route(X[:5], cents, n_probe=len(cents) + 7, **kw)
        assert all(sorted(row) == list(range(len(cents))) for row in every.tolist())


def test_kmeans_seeds_from_distinct_rows():
    """_spherical_kmeans seeds from the first k DISTINCT rows: a sample
    that opens with exact copies would otherwise start several centroids
    at one point, and those never separate. On rows without copies the
    seeds are the first k rows, as before."""
    rng = np.random.default_rng(3)
    X = knn._unit(rng.normal(size=(60, 8)))
    # five copies of e0 first; the other rows lie in the positive orthant
    # of dims 1-7, so none of them ever joins the copies' centroid
    rest = knn._unit(np.abs(rng.normal(size=(55, 8))) * (np.arange(8) > 0))
    copies = np.concatenate([np.repeat(np.eye(8)[:1], 5, axis=0), rest])
    cents = knn._spherical_kmeans(copies, 8, 5)
    assert len(cents) == 8 and len(np.unique(cents, axis=0)) == 8
    assert (knn._spherical_kmeans(X, 8, 0) == X[:8]).all()
    # fewer distinct rows than k: every distinct row seeds, then repeats
    few = np.repeat(X[:3], 4, axis=0)
    assert len(np.unique(knn._spherical_kmeans(few, 5, 2), axis=0)) == 3
