"""Similarity-search queries over `embeddings` (driver north star).
Brute-force cosine top-k is the oracle-checked exact baseline (DuckDB
list_cosine_similarity in double precision matches the engine's
zip_with/aggregate double fold); LSH and IVF variants are rows-only
with recall tests in pytest, plus construction oracles: knn_recall_gate
(recall@5 floor for both approximate indexes) and ivf_persisted_recall
(exact copies return their source at top-1 through the persisted
index)."""

from __future__ import annotations

from pyspark.sql import functions as F

from meerkat_spark.engine import MeerkatEngine
from meerkat_spark.similarity import knn
from meerkat_spark.suite import register

N_QUERIES = 8  # vec_id < 8 are the probe vectors
TOP_K = 5


def _emb(spark, sf_dir):
    return MeerkatEngine(spark, sf_dir).table("embeddings").to_df()


@register(
    "knn_cosine_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < {N_QUERIES}),
         c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
               FROM embeddings),
         sims AS (
           SELECT query_id, neighbor_id,
                  list_cosine_similarity(qv, cv) AS sim_raw
           FROM c CROSS JOIN q WHERE neighbor_id <> query_id
         ), ranked AS (
           SELECT query_id, neighbor_id, sim_raw,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY sim_raw DESC, neighbor_id) AS rank
           FROM sims
         )
    SELECT query_id, neighbor_id, ROUND(sim_raw, 6) AS sim, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= {TOP_K}
    """,
)
def knn_cosine_topk(spark, sf_dir):
    """Exact brute-force cosine top-5 for 8 probe vectors — the ANN
    baseline. Engine path: broadcast queries × corpus scan, JVM
    zip_with/aggregate dot products, per-query TakeOrdered."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    return knn.brute_force_topk(emb, queries, k=TOP_K)


@register(
    "knn_pairwise_label",
    oracle="""
    SELECT a.label AS label1, b.label AS label2,
           ROUND(AVG(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                            CAST(b.embedding AS DOUBLE[]))), 6) AS avg_sim,
           COUNT(*) AS n_pairs
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE a.vec_id < 60 AND b.vec_id < 60
    GROUP BY a.label, b.label
    """,
)
def knn_pairwise_label(spark, sf_dir):
    """Mean pairwise cosine by label pair (embedding-space structure
    check; bounded to 60 vectors → <1.8k pairs)."""
    emb = _emb(spark, sf_dir).filter(F.col("vec_id") < 60)
    a = emb.select(
        F.col("vec_id").alias("ida"),
        F.col("label").alias("label1"),
        knn._to_double(F.col("embedding")).alias("va"),
    )
    b = emb.select(
        F.col("vec_id").alias("idb"),
        F.col("label").alias("label2"),
        knn._to_double(F.col("embedding")).alias("vb"),
    )
    pairs = a.join(b, F.col("ida") < F.col("idb"))
    return (
        pairs.select(
            "label1", "label2", knn.cosine(F.col("va"), F.col("vb")).alias("sim")
        )
        .groupBy("label1", "label2")
        .agg(
            F.round(F.avg("sim"), 6).alias("avg_sim"),
            F.count(F.lit(1)).alias("n_pairs"),
        )
    )


@register(
    "embedding_neardup_pairs",
    oracle="""
    SELECT a.vec_id AS id1, b.vec_id AS id2,
           ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])), 6) AS sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                 CAST(b.embedding AS DOUBLE[])) >= 0.4
    """,
)
def embedding_neardup_pairs(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (exact all-pairs form, the
    oracle baseline; threshold 0.4 fits the synthetic fixture whose max
    pairwise cosine is ~0.51). The corpus-scale path is the LSH-bucketed
    variant below."""
    emb = _emb(spark, sf_dir)
    a = emb.select(F.col("vec_id").alias("id1"), knn._to_double(F.col("embedding")).alias("va"))
    b = emb.select(F.col("vec_id").alias("id2"), knn._to_double(F.col("embedding")).alias("vb"))
    pairs = a.join(b, F.col("id1") < F.col("id2"))
    sim = knn.cosine(F.col("va"), F.col("vb"))
    return (
        pairs.select("id1", "id2", sim.alias("sim_raw"))
        .filter(F.col("sim_raw") >= 0.4)
        .select("id1", "id2", F.round("sim_raw", 6).alias("sim"))
    )


@register("embedding_neardup_lsh", oracle=None)
def embedding_neardup_lsh(spark, sf_dir):
    """Scale path for embedding near-dup: OR-amplified sign-LSH banding
    with corpus-derived (bands, rows_per_band) — expected bucket size is
    bounded, and the in-bucket exact-cosine verify is a tiled triangular
    matmul (see meerkat_spark/similarity/neardup.py). Rows-only; no
    false positives by construction, recall asserted in
    tests/test_similarity.py. A pair self-join instead shuffles
    O(candidate pairs) rows carrying two vectors each — measured
    233-514s vs ~10s at sf0.1."""
    from meerkat_spark.similarity import neardup

    emb = _emb(spark, sf_dir)
    return neardup.neardup_pairs_lsh(emb, threshold=0.4).orderBy("id1", "id2")


@register(
    "knn_cosine_topk_fast",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < {N_QUERIES}),
         c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
               FROM embeddings),
         sims AS (
           SELECT query_id, neighbor_id,
                  list_cosine_similarity(qv, cv) AS sim_raw
           FROM c CROSS JOIN q WHERE neighbor_id <> query_id
         ), ranked AS (
           SELECT query_id, neighbor_id, sim_raw,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY sim_raw DESC, neighbor_id) AS rank
           FROM sims
         )
    SELECT query_id, neighbor_id, ROUND(sim_raw, 6) AS sim, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= {TOP_K}
    """,
)
def knn_cosine_topk_fast(spark, sf_dir):
    """Vectorized brute-force top-k (numpy matmul per Arrow batch) —
    the 100TB scan path. Round-7 ORACLE-BACKED with the same DuckDB
    twin as knn_cosine_topk: BLAS pairwise summation differs from the
    sequential fold only at ~1e-15 relative, invisible under the
    6-dp projection, and the fixture's rank-5/rank-6 similarity gaps
    (self excluded) are >= 1.95e-4 at sf0.01 and >= 2.19e-4 at sf0.1 —
    far above that noise — so the top-k SET and ranks are stable
    across both engines (bit-level equivalence to the
    fold variant also asserted in tests/test_similarity.py)."""
    emb = _emb(spark, sf_dir)
    q_pdf = knn.queries_to_pdf(emb.filter(F.col("vec_id") < N_QUERIES))
    out = knn.brute_force_topk_vectorized(emb, q_pdf, k=TOP_K)
    return out.select(
        "query_id",
        "neighbor_id",
        F.round("sim", 6).alias("sim"),
        F.col("rank").cast("int").alias("rank"),
    ).orderBy("query_id", "rank")


@register("knn_lsh_topk", oracle=None)
def knn_lsh_topk(spark, sf_dir):
    """LSH-bucketed approximate top-k (rows-only; recall vs brute force
    asserted in tests/test_similarity.py)."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    return knn.lsh_topk(emb, queries, k=TOP_K, n_planes=None, dim=64).orderBy(
        "query_id", "rank"
    )


@register("knn_ivf_topk", oracle=None)
def knn_ivf_topk(spark, sf_dir):
    """IVF-style cell-probed approximate top-k (rows-only)."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    return knn.ivf_topk(emb, queries, k=TOP_K, n_cells=16, n_probe=4).orderBy(
        "query_id", "rank"
    )


@register(
    "knn_lsh_recall_envelope",
    oracle="SELECT 5 AS k, CAST(8 AS BIGINT) AS n_queries, TRUE AS recall_ok",
)
def knn_lsh_recall_envelope(spark, sf_dir):
    """ANN recall as the graded contract (r15, VERDICT r14 ask #5 —
    the mg_approx_envelope pattern over the LSH path): the exact
    brute-force top-5 and the multi-probe LSH top-5 are computed in the
    SAME query; the grade is the boolean mean-recall@5 >= 0.9 over the
    8 probe vectors. The hash-dependent neighbor lists stay out of the
    value hash — only the guarantee is graded. Probe configuration:
    4 planes with the full 3-bit-flip multi-probe neighborhood (15/16
    buckets — this synthetic fixture is near-isotropic, max pairwise
    cosine ~0.51, so high recall genuinely requires wide probing;
    measured mean recall 0.975-1.0 at sf0.001/0.01)."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    # exact twin via the vectorized Arrow-matmul kernel (r16): the
    # interpreted zip_with/aggregate fold is the ORACLE-parity kernel
    # for sim VALUES, but this envelope grades only the membership of
    # the top-5 SET (the fixture's rank-5/rank-6 gaps are >= 1.95e-4,
    # far above BLAS-vs-fold float noise — the
    # knn_cosine_topk_fast equivalence argument), so the ~100x-cheaper
    # kernel computes the identical set.
    exact = knn.brute_force_topk_vectorized(
        emb, knn.queries_to_pdf(queries), k=TOP_K
    ).select("query_id", "neighbor_id")
    approx = knn.lsh_topk(
        emb, queries, k=TOP_K, n_planes=4, dim=64, probe_bits=3
    ).select("query_id", "neighbor_id", F.lit(1).alias("hit"))
    j = exact.join(approx, ["query_id", "neighbor_id"], "left")
    return j.agg(
        F.lit(TOP_K).alias("k"),
        F.count_distinct("query_id").alias("n_queries"),
        (
            F.sum(F.coalesce("hit", F.lit(0))) / F.count(F.lit(1)) >= 0.9
        ).alias("recall_ok"),
    )


@register(
    "knn_ivf_recall_envelope",
    oracle="SELECT 5 AS k, CAST(8 AS BIGINT) AS n_queries, TRUE AS recall_ok",
)
def knn_ivf_recall_envelope(spark, sf_dir):
    """ANN recall envelope over the IVF path (r15, ask #5): exact twin
    and cell-probed approximate top-5 in one query, graded as the
    boolean mean-recall@5 >= 0.9. Probing 12 of 16 cells — the
    near-isotropic fixture needs wide probes for a real guarantee
    (measured mean recall 0.95-0.975 at sf0.001/0.01). Neighbor lists
    stay out of the hash."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    # vectorized exact twin — see knn_lsh_recall_envelope (set-stable
    # vs the fold kernel on this fixture's >= 1.95e-4 rank gaps)
    exact = knn.brute_force_topk_vectorized(
        emb, knn.queries_to_pdf(queries), k=TOP_K
    ).select("query_id", "neighbor_id")
    approx = knn.ivf_topk(
        emb, queries, k=TOP_K, n_cells=16, n_probe=12
    ).select("query_id", "neighbor_id", F.lit(1).alias("hit"))
    j = exact.join(approx, ["query_id", "neighbor_id"], "left")
    return j.agg(
        F.lit(TOP_K).alias("k"),
        F.count_distinct("query_id").alias("n_queries"),
        (
            F.sum(F.coalesce("hit", F.lit(0))) / F.count(F.lit(1)) >= 0.9
        ).alias("recall_ok"),
    )


N_PLANTED_CLUSTERS = 16
PLANTED_EPS = 0.05


def _planted_corpus(spark, sf_dir):
    """Planted-cluster fixture derived DETERMINISTICALLY from the
    embeddings table (r16, VERDICT r15 'what's wrong' #1): vectors
    0..15 (unit-normalized) are cluster centroids; every other vector
    becomes a member of cluster (vec_id % 16) at
    `centroid + 0.05 * unit(own_vector)` — within-cluster cosine
    ~0.9975 vs cross-cluster ~<=0.55, so each query's exact top-5 is
    same-cluster and a SELECTIVE index configuration (few probed
    cells/buckets) genuinely suffices for high recall. This is the
    fixture where certifying pruning is meaningful: on the
    near-isotropic raw table, high recall requires near-exhaustive
    probing (the r15 envelopes), which cannot distinguish a working
    index from a degenerate full scan. All arithmetic is JVM-side
    (zip_with/aggregate) — no randomness, no Python."""
    base = _emb(spark, sf_dir).select(
        "vec_id", knn._to_double(F.col("embedding")).alias("v")
    )
    # the norm is computed ONCE per row as its own column and the
    # transform divides by that column (r16): inlining the norm fold
    # into the per-element lambda re-evaluates the whole
    # zip_with/aggregate fold for EVERY element — O(dim^2) interpreted
    # ops per row, and this frame used to be re-derived by every
    # consumer of the planted corpus. Same arithmetic, same values.
    nrm = F.sqrt(
        F.aggregate(
            F.zip_with("v", "v", lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, y: acc + y,
        )
    )
    unit = base.withColumn("__n", nrm).select(
        "vec_id",
        F.transform("v", lambda x: x / F.col("__n")).alias("u"),
    )
    cents = unit.filter(F.col("vec_id") < N_PLANTED_CLUSTERS).select(
        F.col("vec_id").alias("cluster_id"), F.col("u").alias("cent")
    )
    members = unit.filter(F.col("vec_id") >= N_PLANTED_CLUSTERS).select(
        "vec_id",
        (F.col("vec_id") % N_PLANTED_CLUSTERS).alias("cluster_id"),
        F.col("u").alias("mv"),
    )
    planted = members.join(F.broadcast(cents), "cluster_id").select(
        "vec_id",
        F.zip_with(
            "cent", "mv", lambda c, m: c + F.lit(PLANTED_EPS) * m
        ).alias("embedding"),
    )
    # materialize ONCE (r16): the two pruned envelopes each consume the
    # planted corpus from many places (exact twin corpus + queries,
    # candidate generation corpus + queries, the scanned-fraction
    # count, the corpus count) — 14 parquet re-scans each re-deriving
    # the synthesis in the before-plan. The corpus is fixture-sized
    # (n_corpus rows of dim doubles); at production scale this is the
    # standard persist-the-derived-fixture step, recomputed from the
    # parquet inputs on every run.
    return planted.localCheckpoint(eager=True)


def _pruned_envelope(corpus, queries, cands, recall_floor=0.9, scan_bound=0.25):
    """Grade BOTH booleans of an ANN contract in one row: recall@5 >=
    `recall_floor` against the exact twin AND scanned-pair fraction
    (distinct candidate pairs / (n_queries x corpus)) <= `scan_bound`.
    The second boolean is computed from the pairs the index ACTUALLY
    scored, so a configuration that degenerates to a full scan fails
    pruned_ok no matter what its parameters claim."""
    # exact twin via the vectorized Arrow-matmul kernel (r16) — the
    # same set-stability argument as knn_lsh_recall_envelope: only
    # top-5 SET membership is graded, and the planted fixture's
    # rank-5/rank-6 sim gaps dwarf BLAS-vs-fold float noise by many
    # orders of magnitude. The candidate set is materialized ONCE
    # (bounded: <= scan_bound * n_queries * corpus rows of 3 scalars)
    # because both consumers below — the approximate top-k and the
    # scanned-pair count — would otherwise each re-run the whole
    # candidate-generation join.
    exact = knn.brute_force_topk_vectorized(
        corpus, knn.queries_to_pdf(queries), k=TOP_K
    ).select("query_id", "neighbor_id")
    cands = cands.localCheckpoint(eager=True)
    approx = knn._topk_from_candidates(cands, TOP_K).select(
        "query_id", "neighbor_id", F.lit(1).alias("hit")
    )
    j = exact.join(approx, ["query_id", "neighbor_id"], "left")
    recall = j.agg(
        F.lit(TOP_K).alias("k"),
        F.count_distinct("query_id").alias("n_queries"),
        (
            F.sum(F.coalesce("hit", F.lit(0))) / F.count(F.lit(1))
            >= recall_floor
        ).alias("recall_ok"),
    )
    scanned = cands.agg(F.count(F.lit(1)).alias("n_scanned"))
    total = corpus.agg(F.count(F.lit(1)).alias("n_corpus"))
    return (
        recall.crossJoin(F.broadcast(scanned))
        .crossJoin(F.broadcast(total))
        .select(
            "k",
            "n_queries",
            "recall_ok",
            (
                F.col("n_scanned")
                / (F.col("n_queries") * F.col("n_corpus"))
                <= scan_bound
            ).alias("pruned_ok"),
        )
    )


@register(
    "knn_lsh_pruned_envelope",
    oracle="SELECT 5 AS k, CAST(8 AS BIGINT) AS n_queries,"
    " TRUE AS recall_ok, TRUE AS pruned_ok",
)
def knn_lsh_pruned_envelope(spark, sf_dir):
    """Selectivity+recall envelope over the LSH path (r16, VERDICT r15
    'what's wrong' #1): on the planted-cluster fixture a SELECTIVE
    configuration — 6 planes (64 buckets), 1-bit multi-probe = 7/64
    codes per query — must reach mean recall@5 >= 0.9 AND touch <= 25%
    of (query, corpus) pairs. Unlike the r15 recall envelopes (which
    stay green under near-exhaustive probing), this grades that the
    index actually PRUNES: the scanned fraction is counted from the
    candidate pairs the bucket join scored (measured 0.14-0.18 at
    sf0.001-0.1, recall 1.0), so a degenerate full scan fails.
    Hash-dependent neighbor lists and bucket contents stay out of the
    value hash."""
    corpus = _planted_corpus(spark, sf_dir)
    queries = corpus.filter(
        F.col("vec_id") < N_PLANTED_CLUSTERS + N_QUERIES
    )
    cands = knn.lsh_candidates(
        corpus, queries, n_planes=6, dim=64, probe_bits=1
    )
    return _pruned_envelope(corpus, queries, cands)


@register(
    "knn_ivf_pruned_envelope",
    oracle="SELECT 5 AS k, CAST(8 AS BIGINT) AS n_queries,"
    " TRUE AS recall_ok, TRUE AS pruned_ok",
)
def knn_ivf_pruned_envelope(spark, sf_dir):
    """Selectivity+recall envelope over the IVF path (r16, sibling of
    knn_lsh_pruned_envelope): 16 k-means cells, 2 probed (12.5% of
    cells) on the planted-cluster fixture must reach recall@5 >= 0.9
    AND scan <= 25% of (query, corpus) pairs — counted from the pairs
    the probed-cell join actually scored, so cell-imbalance (merged
    clusters) or a degenerate index shows up in the graded fraction
    (measured 0.12-0.16 at sf0.001-0.1, recall 0.975)."""
    corpus = _planted_corpus(spark, sf_dir)
    queries = corpus.filter(
        F.col("vec_id") < N_PLANTED_CLUSTERS + N_QUERIES
    )
    cands = knn.ivf_candidates(corpus, queries, n_cells=16, n_probe=2)
    return _pruned_envelope(corpus, queries, cands)


@register(
    "argmin_distance",
    oracle="""
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
    scored AS (
      SELECT label, vec_id,
             list_distance(CAST(embedding AS DOUBLE[]), qv) AS dist
      FROM embeddings CROSS JOIN q WHERE vec_id <> 0
    ), ranked AS (
      SELECT label, vec_id, dist,
             row_number() OVER (PARTITION BY label ORDER BY dist ASC, vec_id ASC) AS rk
      FROM scored)
    SELECT label,
           MAX(CASE WHEN rk = 1 THEN vec_id END) AS nearest_id,
           ROUND(MIN(dist), 6) AS min_dist
    FROM ranked GROUP BY label
    """,
)
def argmin_distance(spark, sf_dir):
    """arg_min over euclidean distance per label (KQL arg_min × vector
    math, exercising the distance kernel)."""
    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") == 0).select(
        knn._to_double(F.col("embedding")).alias("qv")
    )
    diff = F.zip_with(
        knn._to_double(F.col("embedding")), F.col("qv"), lambda x, y: (x - y) * (x - y)
    )
    dist = F.sqrt(F.aggregate(diff, F.lit(0.0), lambda acc, v: acc + v))
    scored = emb.crossJoin(F.broadcast(q)).filter(F.col("vec_id") != 0).select(
        "label", "vec_id", dist.alias("dist")
    )
    return scored.groupBy("label").agg(
        F.min_by(F.col("vec_id"), F.struct(F.col("dist"), F.col("vec_id"))).alias("nearest_id"),
        F.round(F.min("dist"), 6).alias("min_dist"),
    )


@register(
    "embedding_quantize_int8",
    oracle="""
    WITH q AS (
      SELECT vec_id,
             list_max(list_transform(embedding,
                      x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale,
             embedding
      FROM embeddings
    ), z AS (
      SELECT vec_id, scale,
             list_transform(embedding,
               x -> CAST(greatest(-127, least(127,
                      floor(CAST(x AS DOUBLE) / scale + 0.5))) AS BIGINT))
               AS qv
      FROM q WHERE scale > 0
    )
    SELECT vec_id,
           round(scale, 9) AS scale9,
           CAST(list_sum(qv) AS BIGINT) AS qsum,
           CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS qnorm2
    FROM z
    """,
)
def embedding_quantize_int8(spark, sf_dir):
    """Int8 symmetric quantization of the embeddings corpus
    (similarity/quantize.py) graded bit-exactly: the code vector's sum
    and squared norm are INTEGER aggregates, so any drift in the
    scale, the half-up rounding, or the clipping flips the hash.
    One narrow JVM-HOF stage — no UDF, no shuffle."""
    from meerkat_spark.similarity.quantize import quantize_table

    emb = _emb(spark, sf_dir)
    qt = quantize_table(emb, "embedding")
    return qt.select(
        "vec_id",
        F.round("q_scale", 9).alias("scale9"),
        F.aggregate("q", F.lit(0).cast("long"), lambda a, x: a + x).alias("qsum"),
        F.aggregate("q", F.lit(0).cast("long"), lambda a, x: a + x * x).alias(
            "qnorm2"
        ),
    )


@register(
    "knn_recall_gate",
    oracle=f"""
    SELECT CAST({N_QUERIES} AS INT) AS n_queries,
           TRUE AS lsh_ok, TRUE AS ivf_ok
    """,
)
def knn_recall_gate(spark, sf_dir):
    """Round-7 ORACLE-BACKED recall gate for the two approximate ANN
    paths (previously rows-only): both indexes are deterministically
    seeded (LSH hyperplanes from a fixed (plane, dim) hash; IVF
    k-means on a deterministic bounded sample), so mean recall@5 vs
    the exact brute-force top-k is a constant of the fixture. The
    graded row asserts the contract — mean recall >= 0.3, the
    tests/test_similarity.py threshold — as construction booleans: a
    recall regression in either index flips a boolean and the driver
    records a hash mismatch. Fully distributed (semi-join hit counts,
    single-row aggregate; no driver collect)."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    exact = knn.brute_force_topk(emb, queries, k=TOP_K).select(
        "query_id", "neighbor_id"
    )

    def hits(approx, name):
        return (
            exact.join(
                approx.select("query_id", "neighbor_id"),
                ["query_id", "neighbor_id"],
                "left_semi",
            )
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).alias(name))
        )

    lsh_h = hits(knn.lsh_topk(emb, queries, k=TOP_K, n_planes=None, dim=64), "lh")
    ivf_h = hits(knn.ivf_topk(emb, queries, k=TOP_K, n_cells=16, n_probe=4), "ih")
    per_q = (
        exact.select("query_id")
        .distinct()
        .join(lsh_h, "query_id", "left")
        .join(ivf_h, "query_id", "left")
    )
    return per_q.agg(
        F.count(F.lit(1)).cast("int").alias("n_queries"),
        (F.avg(F.coalesce(F.col("lh"), F.lit(0)) / TOP_K) >= 0.3).alias("lsh_ok"),
        (F.avg(F.coalesce(F.col("ih"), F.lit(0)) / TOP_K) >= 0.3).alias("ivf_ok"),
    )


@register(
    "ivf_persisted_recall",
    oracle="""
    SELECT CAST(vec_id + 1000000 AS BIGINT) AS query_id,
           CAST(vec_id AS BIGINT) AS neighbor_id,
           CAST(1.0 AS DOUBLE) AS sim, CAST(1 AS INT) AS rank
    FROM embeddings WHERE vec_id % 10 = 0 ORDER BY query_id
    """,
)
def ivf_persisted_recall(spark, sf_dir):
    """ORACLE-BACKED persisted-IVF lifecycle (r8 — the build-once/
    search-many path of similarity/ivf_index.py, previously pytest-only
    at the driver): plant an exact COPY (+1M) of every 10th embedding,
    build the index at the r8 sqrt(corpus) default cell count, then
    top-1 search with n_probe=1 using the copies as queries. An
    identical vector lands in the SAME cell as its source (same argmax
    against the same centroids), so even a single probed cell must
    return the source as the exact top-1 with cosine 1.0 — a recall
    contract that is construction-exact while still exercising
    centroid training, the partitioned assignment write, partition-
    pruned probing, and the rerank window."""
    import tempfile

    from meerkat_spark.similarity.ivf_index import build_ivf_index, ivf_search

    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    copies = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1_000_000).cast("long").alias("vec_id"), "embedding"
    )
    corpus = emb.unionByName(copies)
    path = tempfile.mkdtemp(prefix="mk_ivf_suite_")
    build_ivf_index(corpus, path)  # n_cells=None -> sqrt(corpus) default
    res = ivf_search(spark, path, copies, k=1, n_probe=1)
    return res.orderBy("query_id")


@register(
    "ivf_two_level_recall",
    oracle="""
    SELECT CAST(vec_id + 1000000 AS BIGINT) AS query_id,
           CAST(vec_id AS BIGINT) AS neighbor_id,
           CAST(1.0 AS DOUBLE) AS sim, CAST(1 AS INT) AS rank
    FROM embeddings WHERE vec_id % 10 = 0 ORDER BY query_id
    """,
)
def ivf_two_level_recall(spark, sf_dir):
    """ORACLE-BACKED two-level (IMI-style) IVF lifecycle (r9 — the
    build-cost headroom path VERDICT r8 flagged): same planted-copy
    construction as ivf_persisted_recall, but the corpus assignment
    routes through ~sqrt(n_cells) superclusters (O(n*n^0.25) work
    instead of the flat O(n*sqrt n) matmul). Search mirrors the
    two-level routing, so an identical query/corpus pair ALWAYS meets
    in the same cell and the exact top-1 cosine-1.0 contract holds at
    n_probe=1 even though the assignment itself is IVF-approximate."""
    import tempfile

    from meerkat_spark.similarity.ivf_index import build_ivf_index, ivf_search

    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    copies = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1_000_000).cast("long").alias("vec_id"), "embedding"
    )
    corpus = emb.unionByName(copies)
    path = tempfile.mkdtemp(prefix="mk_ivf2l_suite_")
    build_ivf_index(corpus, path, two_level=True)
    res = ivf_search(spark, path, copies, k=1, n_probe=1)
    return res.orderBy("query_id")


@register(
    "ivf_quantized_recall",
    oracle="""
    SELECT CAST(vec_id + 1000000 AS BIGINT) AS query_id,
           CAST(vec_id AS BIGINT) AS neighbor_id,
           CAST(1.0 AS DOUBLE) AS sim, CAST(1 AS INT) AS rank
    FROM embeddings WHERE vec_id % 10 = 0 ORDER BY query_id
    """,
)
def ivf_quantized_recall(spark, sf_dir):
    """ORACLE-BACKED int8-quantized IVF lifecycle (r10 — VERDICT r9 ask
    #7: wire quantization into the index instead of leaving it a
    standalone op): same planted-copy construction as
    ivf_persisted_recall, but the assigned table stores int8 codes +
    scale beside the floats and search scores candidates against ONLY
    the 1-byte code column (cosine is scale-invariant), reranking the
    refined set in float against the probed cells' float rows.
    Exact duplicates quantize to identical codes (same max|v|/127 scale,
    same half-up rounding), hit the quantized-cosine ceiling of 1.0, and
    therefore always survive the coarse cut — so the float rerank must
    return the source as top-1 with cosine 1.0 at n_probe=1."""
    import tempfile

    from meerkat_spark.similarity.ivf_index import build_ivf_index, ivf_search

    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    copies = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1_000_000).cast("long").alias("vec_id"), "embedding"
    )
    corpus = emb.unionByName(copies)
    path = tempfile.mkdtemp(prefix="mk_ivfq_suite_")
    build_ivf_index(corpus, path, quantize=True)
    res = ivf_search(spark, path, copies, k=1, n_probe=1)
    return res.orderBy("query_id")


@register(
    "embedding_neardup_incremental",
    oracle="""
    SELECT CAST(vec_id AS BIGINT) AS id1,
           CAST(vec_id + 1000000 AS BIGINT) AS id2,
           CAST(1.0 AS DOUBLE) AS sim, FALSE AS id1_is_new
    FROM embeddings WHERE vec_id % 10 = 0 ORDER BY id2
    """,
)
def embedding_neardup_incremental(spark, sf_dir):
    """ORACLE-BACKED incremental embedding near-dup index (r10 —
    similarity/neardup_index.py, the vector twin of the text MinHash
    index): build the sign-LSH band-posting index over the corpus,
    then probe a NEW batch of exact copies (+1M of every 10th vector)
    without re-hashing the corpus. Identical vectors share every band
    code, so each copy must surface exactly its source as a verified
    new-vs-indexed pair at cosine 1.0; at threshold 0.95 no
    non-identical pair on this corpus verifies (construction-exact,
    same contract family as semdedup_planted)."""
    import tempfile

    from meerkat_spark.similarity.neardup_index import (
        build_neardup_index,
        incremental_neardup_pairs,
    )

    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    path = tempfile.mkdtemp(prefix="mk_ndx_suite_")
    build_neardup_index(emb, path, threshold=0.95)
    copies = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1_000_000).cast("long").alias("vec_id"), "embedding"
    )
    return incremental_neardup_pairs(copies, path, threshold=0.95).orderBy("id2")


@register(
    "embedding_neardup_lifecycle",
    oracle="""
    SELECT 1 AS batch, CAST(vec_id + 1000000 AS BIGINT) AS dropped_id
    FROM embeddings WHERE vec_id % 10 = 0
    UNION ALL
    SELECT 2 AS batch, CAST(vec_id + 2000000 AS BIGINT) AS dropped_id
    FROM embeddings WHERE vec_id % 10 = 5
    UNION ALL
    SELECT 2 AS batch, CAST(vec_id + 3000000 AS BIGINT) AS dropped_id
    FROM embeddings WHERE vec_id % 4 = 2
    ORDER BY batch, dropped_id
    """,
)
def embedding_neardup_lifecycle(spark, sf_dir):
    """ORACLE-BACKED two-batch keeper lifecycle over the incremental
    embedding near-dup index (r11 — VERDICT r10 ask #6:
    ingest/neardup_maintenance.py packages the batch -> dedup ->
    extend loop the r10 suite query left inline).

    Construction: seed the index with the EVEN-id half of the corpus.
    Batch 1 = all odd-id vectors (fresh — at threshold 0.95 no
    non-identical pair on this corpus verifies) + exact copies (+1M)
    of every 10th vector (even, so they collide with the SEED).
    Batch 2 = copies (+2M) of vec_id%10==5 (odd — these collide only
    with BATCH-1 KEEPERS, proving the extend step appended them) +
    copies (+3M) of vec_id%4==2 (even — collide with the seed).
    Result: every dropped id per batch — batch 1 drops exactly the +1M
    copies (keeping every odd vector), batch 2 drops everything."""
    import tempfile

    from meerkat_spark.ingest.neardup_maintenance import ingest_neardup_batch
    from meerkat_spark.similarity.neardup_index import build_neardup_index

    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    path = tempfile.mkdtemp(prefix="mk_ndl_suite_")
    build_neardup_index(emb.filter(F.col("vec_id") % 2 == 0), path, threshold=0.95)

    def copies(mod, rem, offset):
        return emb.filter(F.col("vec_id") % mod == rem).select(
            (F.col("vec_id") + offset).cast("long").alias("vec_id"), "embedding"
        )

    batch1 = emb.filter(F.col("vec_id") % 2 == 1).unionByName(
        copies(10, 0, 1_000_000)
    )
    _k1, pairs1 = ingest_neardup_batch(batch1, path, threshold=0.95)
    batch2 = copies(10, 5, 2_000_000).unionByName(copies(4, 2, 3_000_000))
    _k2, pairs2 = ingest_neardup_batch(batch2, path, threshold=0.95)
    dropped = (
        pairs1.select(F.lit(1).alias("batch"), F.col("id2").alias("dropped_id"))
        .unionByName(
            pairs2.select(F.lit(2).alias("batch"), F.col("id2").alias("dropped_id"))
        )
        .distinct()
    )
    return dropped.orderBy("batch", "dropped_id")


@register(
    "ivfpq_recall",
    oracle="""
    SELECT CAST(vec_id + 1000000 AS BIGINT) AS query_id,
           CAST(vec_id AS BIGINT) AS neighbor_id,
           CAST(1.0 AS DOUBLE) AS sim, CAST(1 AS INT) AS rank
    FROM embeddings WHERE vec_id % 10 = 0 ORDER BY query_id
    """,
)
def ivfpq_recall(spark, sf_dir):
    """ORACLE-BACKED IVFPQ lifecycle (r10 — the FAISS billion-scale
    composition: IVF cell routing + per-subspace PQ codes + float
    rerank): same planted-copy construction as ivf_persisted_recall,
    built with pq_m=8 so the assigned table stores 8 sub-byte codes of
    the NORMALIZED vector beside the floats. Search scores candidates
    by per-query ADC lookup-table gather over only the code column
    (dim*8 -> m bytes of scoring IO), then float-reranks the refined
    set. An exact copy encodes to identical codes, ties the ADC
    ceiling, survives the coarse cut, and must rerank to top-1 at
    cosine 1.0 with n_probe=1."""
    import tempfile

    from meerkat_spark.similarity.ivf_index import build_ivf_index, ivf_search

    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    copies = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1_000_000).cast("long").alias("vec_id"), "embedding"
    )
    corpus = emb.unionByName(copies)
    path = tempfile.mkdtemp(prefix="mk_ivfpq_suite_")
    build_ivf_index(corpus, path, pq_m=8)
    res = ivf_search(spark, path, copies, k=1, n_probe=1)
    return res.orderBy("query_id")


@register(
    "pq_codes_planted",
    oracle="""
    SELECT CAST(vec_id AS BIGINT) AS vec_id,
           CAST(vec_id + 1000000 AS BIGINT) AS copy_id,
           TRUE AS codes_match
    FROM embeddings WHERE vec_id % 10 = 0 ORDER BY vec_id
    """,
)
def pq_codes_planted(spark, sf_dir):
    """ORACLE-BACKED product quantization (r10 — similarity/pq.py,
    Jegou et al. 2011): plant an exact copy (+1M) of every 10th
    embedding, train per-subspace codebooks on the combined corpus
    (bounded hash-ordered sample, driver k-means — deterministic init),
    encode everything in one row-local Arrow pass, and assert each
    copy's m codes are byte-identical to its source's. Identical
    vectors MUST quantize identically (same codebook, same argmin,
    first-index ties) — construction-exact while exercising training,
    the encode kernel, and the code join."""
    from meerkat_spark.similarity.pq import encode_pq, train_pq

    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    copies = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1_000_000).cast("long").alias("vec_id"), "embedding"
    )
    corpus = emb.unionByName(copies)
    books = train_pq(corpus, m=8, k=256)
    codes = encode_pq(corpus, books)
    src = codes.filter(F.col("vec_id") < 1_000_000).select(
        F.col("vec_id"), F.col("codes").alias("src_codes")
    )
    cp = codes.filter(F.col("vec_id") >= 1_000_000).select(
        (F.col("vec_id") - 1_000_000).alias("vec_id"),
        F.col("vec_id").alias("copy_id"),
        F.col("codes").alias("copy_codes"),
    )
    return (
        src.join(F.broadcast(cp), "vec_id")
        .select(
            "vec_id",
            "copy_id",
            (F.col("src_codes") == F.col("copy_codes")).alias("codes_match"),
        )
        .orderBy("vec_id")
    )


@register(
    "semdedup_planted",
    oracle="""
    SELECT CAST(vec_id AS BIGINT) AS vec_id
    FROM embeddings ORDER BY vec_id
    """,
)
def semdedup_planted(spark, sf_dir):
    """ORACLE-BACKED SemDeDup (similarity/semdedup.py — the published
    cluster-then-compare semantic dedup, arXiv:2303.09540): plant an
    exact COPY (+1M) of every 10th embedding; identical vectors always
    share a cluster (same centroid argmax) and have cosine 1.0 >= 0.9,
    so every copy must be dropped (min-id keeper keeps the base), while
    the fixture's natural max pairwise cosine is ~0.51 << 0.9, so every
    base row must survive. Exercises the real pipeline: exact-dup star
    routing -> bounded-cluster assignment -> per-cluster numpy pairwise
    -> connected components -> anti-join keeper."""
    from meerkat_spark.similarity.semdedup import semdedup

    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    copies = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1_000_000).cast("long").alias("vec_id"), "embedding"
    )
    corpus = emb.select(F.col("vec_id").cast("long").alias("vec_id"), "embedding").unionByName(copies)
    out = semdedup(corpus, threshold=0.9, target_cluster=64)
    return out.select("vec_id").orderBy("vec_id")


@register(
    "ivf_extend_recall",
    oracle="""
    SELECT CAST(vec_id + 1000000 AS BIGINT) AS query_id,
           CAST(vec_id AS BIGINT) AS neighbor_id,
           CAST(1.0 AS DOUBLE) AS sim, CAST(1 AS INT) AS rank
    FROM embeddings WHERE vec_id % 10 = 0 ORDER BY query_id
    """,
)
def ivf_extend_recall(spark, sf_dir):
    """ORACLE-BACKED incremental IVF extension (r11 —
    extend_ivf_index: append a batch to a persisted index with the
    PERSISTED routing, nothing retrained): build the index on the
    even-id half of the corpus, then EXTEND it with the odd half plus
    exact copies (+1M) of every 10th vector (even — their sources
    live in the original build). An appended copy routes to its
    source's cell because centroids are reloaded, so search over the
    extended index must return the source as top-1 at cosine 1.0 with
    n_probe=1 — the ivf_persisted_recall contract carried through the
    append path."""
    import tempfile

    from meerkat_spark.similarity.ivf_index import (
        build_ivf_index,
        extend_ivf_index,
        ivf_search,
    )

    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    path = tempfile.mkdtemp(prefix="mk_ivfx_suite_")
    build_ivf_index(emb.filter(F.col("vec_id") % 2 == 0), path)
    copies = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1_000_000).cast("long").alias("vec_id"), "embedding"
    )
    extend_ivf_index(
        emb.filter(F.col("vec_id") % 2 == 1).unionByName(copies), path
    )
    res = ivf_search(spark, path, copies, k=1, n_probe=1)
    return res.orderBy("query_id")
