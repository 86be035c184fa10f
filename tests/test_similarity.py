"""ANN validation: LSH/IVF approximate search measured against the
exact brute-force baseline (recall), plus kernel sanity checks."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from meerkat_spark.similarity import knn

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def _topk_sets(df):
    out = {}
    for r in df.collect():
        out.setdefault(r.query_id, set()).add(r.neighbor_id)
    return out


def test_cosine_kernel_exact(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0], [0.0, 1.0]), (2, [1.0, 1.0], [1.0, 1.0]), (3, [1.0, 0.0], [-1.0, 0.0])],
        "id int, a array<double>, b array<double>",
    )
    rows = {r.id: r.c for r in df.select("id", knn.cosine(F.col("a"), F.col("b")).alias("c")).collect()}
    assert abs(rows[1] - 0.0) < 1e-12
    assert abs(rows[2] - 1.0) < 1e-12
    assert abs(rows[3] + 1.0) < 1e-12


def test_brute_force_topk_shape(spark, emb):
    q = emb.filter(F.col("vec_id") < 4)
    out = knn.brute_force_topk(emb, q, k=3)
    rows = out.collect()
    assert len(rows) == 4 * 3
    for r in rows:
        assert r.neighbor_id != r.query_id
        assert -1.0 <= r.sim <= 1.0
    # ranks are 1..3 per query and sims non-increasing
    by_q = {}
    for r in sorted(rows, key=lambda r: (r.query_id, r.rank)):
        by_q.setdefault(r.query_id, []).append(r.sim)
    for sims in by_q.values():
        assert sims == sorted(sims, reverse=True)


def test_lsh_recall_vs_brute_force(spark, emb):
    q = emb.filter(F.col("vec_id") < 8)
    exact = _topk_sets(knn.brute_force_topk(emb, q, k=5))
    approx = _topk_sets(knn.lsh_topk(emb, q, k=5, n_planes=4, dim=64))
    recalls = [
        len(exact[qid] & approx.get(qid, set())) / 5 for qid in exact
    ]
    mean_recall = sum(recalls) / len(recalls)
    # 4 planes → 16 buckets over 100 vectors; nearby vectors likely share
    # sign bits. Loose bound: well above chance (~6 per bucket / 99).
    assert mean_recall >= 0.3, f"LSH recall too low: {recalls}"


def test_ivf_recall_vs_brute_force(spark, emb):
    q = emb.filter(F.col("vec_id") < 8)
    exact = _topk_sets(knn.brute_force_topk(emb, q, k=5))
    approx = _topk_sets(knn.ivf_topk(emb, q, k=5, n_cells=8, n_probe=4))
    recalls = [len(exact[qid] & approx.get(qid, set())) / 5 for qid in exact]
    mean_recall = sum(recalls) / len(recalls)
    assert mean_recall >= 0.3, f"IVF recall too low: {recalls}"
    # n_probe above the cell count probes every cell: exact, no crash
    assert _topk_sets(knn.ivf_topk(emb, q, k=5, n_cells=4, n_probe=6)) == exact


def test_vectorized_equals_exact_topk(spark, emb):
    """The numpy-matmul scan must produce the same neighbor sets (and
    ranks) as the exact fold."""
    q = emb.filter(F.col("vec_id") < 8)
    exact = knn.brute_force_topk(emb, q, k=5).collect()
    q_pdf = q.select(
        F.col("vec_id").alias("query_id"),
        knn._to_double(F.col("embedding")).alias("qv"),
    ).toPandas()
    fast = knn.brute_force_topk_vectorized(emb, q_pdf, k=5).collect()
    key = lambda r: (r.query_id, r.rank)
    e = {key(r): (r.neighbor_id, round(r.sim, 5)) for r in exact}
    f = {key(r): (r.neighbor_id, round(r.sim, 5)) for r in fast}
    assert e == f


def test_embedding_neardup_lsh_recall(spark, emb):
    """LSH-bucketed near-dup candidates vs exact all-pairs at τ=0.4."""
    from meerkat_spark.suite.similarity import (
        embedding_neardup_lsh,
        embedding_neardup_pairs,
    )

    sf = "/root/testdata/sf0.001"
    exact = {(r.id1, r.id2) for r in embedding_neardup_pairs(spark, sf).collect()}
    approx = {(r.id1, r.id2) for r in embedding_neardup_lsh(spark, sf).collect()}
    assert approx <= exact  # candidates are verified exactly → no false positives
    if exact:
        # 4 bands × 2 planes: P(candidate | cos=0.4) = 1-(1-0.63²)⁴ ≈ 0.87
        recall = len(approx & exact) / len(exact)
        assert recall >= 0.6, f"recall {recall}: {exact - approx}"


def test_lsh_code_deterministic(spark, emb):
    a = emb.select(knn.lsh_code(knn._to_double(F.col("embedding")), 6, 64).alias("c")).collect()
    b = emb.select(knn.lsh_code(knn._to_double(F.col("embedding")), 6, 64).alias("c")).collect()
    assert [r.c for r in a] == [r.c for r in b]


def test_neardup_derive_params_bounds():
    """Corpus-derived LSH parameters: expected bucket ≤ target, band
    count grows to hold recall, capped at MAX_BANDS."""
    from meerkat_spark.similarity import neardup

    for n in [100, 10_000, 1_000_000, 10_000_000_000]:
        bands, r = neardup.derive_params(n, threshold=0.9, target_bucket=10_000)
        assert n / 2**r <= 10_000 or r >= 2
        assert 1 <= bands <= neardup.MAX_BANDS
    # bigger corpus ⇒ more sign bits per band (smaller buckets)
    _, r_small = neardup.derive_params(10_000, 0.9)
    _, r_big = neardup.derive_params(10_000_000_000, 0.9)
    assert r_big > r_small


def test_band_codes_beyond_63_bits_not_aliased(spark, emb):
    """bands·rows_per_band > 63 must yield independent per-band codes.
    The old single-packed-long implementation masked shift amounts to 6
    bits (Java long shift), so band 16 at r=4 was bit-identical to band
    0 for every vector — exactly the corpus sizes derive_params targets."""
    from meerkat_spark.similarity import neardup

    bands, r = 20, 4  # 80 sign bits total — crosses the 64-bit boundary
    codes = (
        emb.select(
            neardup.band_codes(
                knn._to_double(F.col("embedding")), bands, r, 64
            ).alias("codes")
        )
        .collect()
    )
    n = len(codes)
    same_16 = sum(1 for row in codes if row.codes[16] == row.codes[0])
    same_17 = sum(1 for row in codes if row.codes[17] == row.codes[1])
    # independent 4-bit codes collide ~1/16 of the time; aliasing = 100%
    assert same_16 < n * 0.6, f"band 16 aliases band 0: {same_16}/{n}"
    assert same_17 < n * 0.6, f"band 17 aliases band 1: {same_17}/{n}"
    for row in codes:
        assert all(0 <= c < (1 << r) for c in row.codes)


def test_band_codes_arrow_matches_expression(spark, emb):
    """The Arrow matmul signature kernel must emit the same (band, code)
    assignments as the JVM expression path (same planes, same bit order)."""
    from meerkat_spark.similarity import neardup

    bands, r = 6, 5
    base = emb.select(
        F.col("vec_id").alias("id"), knn._to_double(F.col("embedding")).alias("v")
    )
    expr = {
        (row.id, row.band): row.code
        for row in base.withColumn(
            "codes", neardup.band_codes(F.col("v"), bands, r, 64)
        )
        .select("id", F.posexplode("codes").alias("band", "code"))
        .collect()
    }
    arrow = {
        (row.id, row.band): row.code
        for row in base.mapInPandas(
            neardup._band_codes_fn(bands, r, 64),
            "id long, v array<double>, band int, code long",
        ).collect()
    }
    assert expr == arrow


def test_query_collection_guard(spark, emb):
    """queries_to_pdf refuses to collect more than max_rows query rows
    (misconfigured caller would otherwise collect the corpus)."""
    with pytest.raises(ValueError, match="max_rows"):
        knn.queries_to_pdf(emb, max_rows=10)
    pdf = knn.queries_to_pdf(emb.filter(F.col("vec_id") < 8), max_rows=10)
    assert len(pdf) == 8
    with pytest.raises(ValueError, match="max_queries"):
        knn.brute_force_topk_vectorized(emb, pdf, k=3, max_queries=4)


def test_duplicate_query_ids_rejected(spark, emb, tmp_path):
    """Two queries sharing an id would merge into one top-k holding each
    neighbor twice; queries_to_pdf, which every driver-side search reads
    its queries through, raises instead and names the id."""
    from meerkat_spark.similarity.ivf_index import build_ivf_index, ivf_search

    idx = str(tmp_path / "ivf")
    build_ivf_index(emb, idx, n_cells=4)
    twin = emb.filter(F.col("vec_id") == 5).withColumn(
        "vec_id", F.lit(10_000_000).cast("long")
    )
    queries = twin.unionByName(twin)
    with pytest.raises(ValueError, match="duplicate query id 10000000"):
        ivf_search(spark, idx, queries, k=2, n_probe=1)
    with pytest.raises(ValueError, match="duplicate query id 10000000"):
        knn.brute_force_topk_vectorized(emb, knn.queries_to_pdf(queries), k=2)


@pytest.mark.parametrize("sf", ["sf0.01", "sf0.1"])
def test_ann_fixture_rank_gap(sf):
    """The suite's ANN oracles compare top-5 sets computed by different
    kernels (BLAS matmul vs sequential fold), which is safe only while
    every probe query's rank-5/rank-6 cosine gap, self excluded, stays
    far above float noise. The minima are 1.954e-4 at sf0.01 (query 4)
    and 2.188e-4 at sf0.1 (query 5); pin them at >= 1e-4."""
    import os

    import numpy as np
    import pyarrow.parquet as papq

    t = papq.read_table(f"{os.path.dirname(SF)}/{sf}/embeddings.parquet")
    ids = t.column("vec_id").to_numpy()
    Xn = knn._unit(
        np.stack(t.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float64)
    )
    gaps = []
    for q in range(8):
        sims = np.sort(Xn[ids != q] @ Xn[ids == q][0])[::-1]
        gaps.append(sims[4] - sims[5])
    assert min(gaps) >= 1e-4, gaps


def test_lsh_code_rejects_over_63_planes():
    import pytest as _pytest

    with _pytest.raises(ValueError, match="63"):
        knn.lsh_code(F.col("v"), 64, 64)


def test_neardup_tiled_kernel_matches_untiled():
    """Tiling must not change the emitted pair set (edge: pairs that
    straddle tile boundaries, diagonal tiles' upper triangle)."""
    import numpy as np
    import pandas as pd

    from meerkat_spark.similarity.neardup import _bucket_pairs_fn

    rng = np.random.default_rng(7)
    n, d = 57, 16
    base = rng.normal(size=(n, d))
    base[40] = base[3] + 0.01 * rng.normal(size=d)  # planted near-dup
    pdf = pd.DataFrame({"id": np.arange(n) * 3 + 1, "v": list(base)})
    big = _bucket_pairs_fn(0.3, tile=1024)(pdf)
    small = _bucket_pairs_fn(0.3, tile=8)(pdf)  # forces 8×8 tiling
    key = lambda f: sorted(zip(f.id1, f.id2, np.round(f.sim, 6)))
    assert key(big) == key(small)
    assert len(big) > 0


def test_neardup_bucket_sizes_bounded(spark, emb):
    """With derived params the realized (band, code) bucket sizes stay
    within a small factor of the expected n/2^r."""
    from pyspark.sql import functions as F

    from meerkat_spark.similarity import knn, neardup

    n = emb.count()
    bands, r = neardup.derive_params(n, threshold=0.4, target_bucket=64)
    base = emb.select(
        F.col("vec_id").alias("id"), knn._to_double(F.col("embedding")).alias("v")
    )
    banded = base.withColumn(
        "codes", neardup.band_codes(F.col("v"), bands, r, 64)
    ).select("id", F.posexplode("codes").alias("band", "code"))
    sizes = banded.groupBy("band", "code").count().agg(F.max("count")).collect()[0][0]
    # correlated sign bits make buckets skewed vs the uniform ideal;
    # the bound here is structural: no bucket holds a constant fraction
    # of the whole corpus
    assert sizes <= n * 0.5, f"max bucket {sizes} of {n}"


def test_neardup_exact_dup_routing(spark, emb):
    """Byte-identical vectors are routed around LSH as star pairs:
    a class of c copies contributes exactly c-1 (rep, member, 1.0)
    rows, the full class reconstructs transitively, and a dup-free
    corpus is unchanged by the routing."""
    from meerkat_spark.similarity import neardup

    base = emb.filter(F.col("vec_id") < 50)
    copies = base.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 1000).alias("vec_id"), "embedding", "label"
    )
    corpus = base.unionByName(copies)
    pairs = neardup.neardup_pairs_lsh(corpus, threshold=0.4).collect()
    star = {(r.id1, r.id2) for r in pairs if r.sim == 1.0}
    # each copied vector pairs with its rep (the original id) at sim 1.0
    for vid in range(10):
        assert (vid, vid + 1000) in star
    # a member's outside-pairs are represented through its rep: no
    # (member, x) row should exist for x not its rep
    member_rows = [
        (r.id1, r.id2) for r in pairs if (r.id1 >= 1000) or (r.id2 >= 1000)
    ]
    assert all(i1 < 1000 and i2 >= 1000 for i1, i2 in member_rows)

    # dup-free corpus: routing on == routing off, row for row
    on = {
        (r.id1, r.id2, r.sim)
        for r in neardup.neardup_pairs_lsh(base, threshold=0.4).collect()
    }
    off = {
        (r.id1, r.id2, r.sim)
        for r in neardup.neardup_pairs_lsh(
            base, threshold=0.4, route_exact=False
        ).collect()
    }
    assert on == off


def test_quantize_int8_roundtrip_error_bound(spark):
    from pyspark.sql import functions as F
    from meerkat_spark.similarity.quantize import (
        dequantize,
        quantize_table,
        reconstruction_error,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qt = quantize_table(emb, "embedding", keep_vec=True)
    checked = qt.select(
        "vec_id",
        reconstruction_error("embedding", "q", F.col("q_scale")).alias("err"),
        (F.col("q_scale") / 2 * 1.0000001).alias("bound"),
        F.array_max(F.transform("q", F.abs)).alias("qmax"),
    )
    bad = checked.filter(
        (F.col("err") > F.col("bound")) | (F.col("qmax") > 127)
    ).count()
    assert bad == 0
    # dequantize shape: same length, doubles
    row = qt.select(
        F.size("q").alias("n"),
        F.size(dequantize("q", F.col("q_scale"))).alias("m"),
    ).first()
    assert row.n == row.m > 0
    # all-zero vectors are dropped (no representable scale)
    z = spark.createDataFrame([(1, [0.0, 0.0]), (2, [1.0, -2.0])],
                              "vec_id long, embedding array<double>")
    kept = quantize_table(z, "embedding").select("vec_id").collect()
    assert [r.vec_id for r in kept] == [2]


def test_knn_recall_envelopes_green(spark):
    """r15 (VERDICT r14 ask #5): the two ANN recall-envelope queries —
    exact twin + approximate path in one query, graded as a boolean
    mean-recall@5 >= 0.9 — hold at the pytest scale factor. Also pins
    the multi-probe LSH generalization (probe_bits=3 probes the full
    <=3-bit-flip neighborhood)."""
    from meerkat_spark.suite import load_all, QUERIES

    load_all()
    import os

    sf = os.environ.get("MEERKAT_TEST_SF_DIR", "/root/testdata/sf0.001")
    for name in ("knn_lsh_recall_envelope", "knn_ivf_recall_envelope"):
        row = QUERIES[name](spark, sf).collect()[0]
        assert (row.k, row.n_queries, row.recall_ok) == (5, 8, True), name


def test_lsh_multiprobe_bits_superset(spark, emb):
    """probe_bits=2 candidates are a superset of probe_bits=1 per
    query: widening the probe neighborhood can only add candidates, so
    recall is monotone in probe_bits."""
    from meerkat_spark.similarity import knn

    queries = emb.filter(F.col("vec_id") < 4)
    # k far above any candidate count so the top-k cut never binds
    big = 1_000_000
    one = knn.lsh_topk(emb, queries, k=big, n_planes=4, dim=64, probe_bits=1)
    two = knn.lsh_topk(emb, queries, k=big, n_planes=4, dim=64, probe_bits=2)
    s1 = {(r.query_id, r.neighbor_id) for r in one.collect()}
    s2 = {(r.query_id, r.neighbor_id) for r in two.collect()}
    # with k large enough to keep every candidate, one ⊆ two
    assert s1 <= s2 and len(s2) >= len(s1)


def test_lsh_code_kernel_matches_fold(spark, emb):
    """The r16 Arrow lsh_code kernel must be BITWISE identical to the
    old JVM zip_with/aggregate expression fold (sequential dim-order
    accumulation with exact ±1.0 products), including null/short-vector
    rows coding to 0."""

    def fold_code(vec, n_planes, dim, plane_offset=0):
        planes = knn._hyperplanes(n_planes, dim, offset=plane_offset)
        code = F.lit(0).cast("long")
        for p in range(n_planes):
            plane_lit = F.array(*[F.lit(v) for v in planes[p]])
            proj = F.aggregate(
                F.zip_with(vec, plane_lit, lambda x, y: x.cast("double") * y),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            bit = (
                F.when(proj > 0, F.lit(1).cast("long"))
                .otherwise(F.lit(0).cast("long"))
            )
            code = code.bitwiseXOR(F.shiftleft(bit, p))
        return code

    v = knn._to_double(F.col("embedding"))
    got = [
        r.c for r in emb.select(knn.lsh_code(v, 7, 64, plane_offset=3).alias("c")).collect()
    ]
    want = [
        r.c for r in emb.select(fold_code(v, 7, 64, plane_offset=3).alias("c")).collect()
    ]
    assert got == want

    # degenerate rows: null vector and wrong-length vector code to 0
    deg = spark.createDataFrame(
        [(1, None), (2, [1.0, -2.0]), (3, [0.5] * 64)],
        "id long, v array<double>",
    )
    rows = {r.id: r.c for r in deg.select("id", knn.lsh_code(F.col("v"), 5, 64).alias("c")).collect()}
    assert rows[1] == 0 and rows[2] == 0
    wide = {r.id: r.c for r in deg.select("id", fold_code(F.col("v"), 5, 64).alias("c")).collect()}
    assert rows == wide


def test_band_codes_matches_per_band_lsh_code(spark, emb):
    """band_codes (one Arrow kernel for all bands) must equal the
    composed per-band lsh_code form bitwise — same plane offsets, same
    sequential fold."""
    from meerkat_spark.similarity import neardup

    bands, r = 5, 7
    v = knn._to_double(F.col("embedding"))
    combined = emb.select(
        F.col("vec_id"), neardup.band_codes(v, bands, r, 64).alias("codes")
    )
    composed = emb.select(
        F.col("vec_id"),
        F.array(
            *[
                knn.lsh_code(v, r, 64, plane_offset=b * r)
                for b in range(bands)
            ]
        ).alias("codes"),
    )
    got = {r_.vec_id: list(r_.codes) for r_ in combined.collect()}
    want = {r_.vec_id: list(r_.codes) for r_ in composed.collect()}
    assert got == want
