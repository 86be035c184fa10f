"""Workload `corpus_pipeline`: the LLM-data operators, bypassing the KQL
front-end and the ingest path. Each round runs `fuzzy_dedup` over a planted
corpus, builds the float, `quantize=True` (SQ8) and `pq_m` (PQ) variants of
an IVF index over planted-cluster vectors, and runs one small-batch
`ivf_search` call on each of the three indexes, with exact copies of
corpus vectors as queries.

Checks: the dedup survivor set must equal the planted truth, and every
search must return each query's source vector at rank 1 (recall@1 = 1.0 on
exact copies) for every variant.
"""

from __future__ import annotations

import os

import numpy as np

import gen
from common import FAILED, Workload, mean, p50, pct
from meerkat_spark.similarity import ivf_index
from meerkat_spark.text import dedup
from spans import count, within

VARIANTS = {"float": {}, "sq8": {"quantize": True}, "pq": {"pq_m": 8}}
QUERY_ID_OFFSET = 10_000_000


class CorpusPipeline(Workload):
    name = "corpus_pipeline"
    REQUEST = "search"
    WRAPPED = (
        ("meerkat_spark.text.dedup", "fuzzy_dedup", "text.fuzzy_dedup"),
        ("meerkat_spark.text.dedup", "minhash_lsh_pairs", "text.lsh_pairs"),
        ("meerkat_spark.text.dedup", "verify_pairs_jaccard", "text.verify"),
        ("meerkat_spark.operators.components", "connected_components", "operators.cc"),
        ("meerkat_spark.similarity.ivf_index", "build_ivf_index", "similarity.build"),
        ("meerkat_spark.similarity.ivf_index", "ivf_search", "similarity.search"),
    )

    def __init__(self, seed: int, work: str):
        super().__init__()
        self.work = work
        self.main = os.path.join(work, "corpus")
        self.n_docs, self.keep, self.vecs = gen.write_corpus(
            np.random.default_rng([seed, 0]), self.main, gen.GROUPS, gen.VECTORS)
        self.warm = os.path.join(work, "warm-corpus")
        _, self.warm_keep, self.warm_vecs = gen.write_corpus(
            np.random.default_rng([seed, 2]), self.warm, gen.WARM_GROUPS, gen.WARM_VECTORS)
        self.qrng = np.random.default_rng([seed, 1])
        self.index_root = os.path.join(work, "indexes")
        self.recall = {v: [] for v in VARIANTS}
        self.pairs = {"candidates": 0, "verified": 0}

    # ------------------------------------------------------------- set-up
    def setup(self, spark) -> None:
        """Warm-up pass on a small corpus of its own: one dedup, and one
        build and one search per variant. What makes a first call slow
        (Python workers, imports, JIT) does not depend on the input size."""
        self.spark = spark
        self._pass(self.warm, self.warm_keep, self.warm_vecs,
                   os.path.join(self.work, "warm-indexes"))

    # --------------------------------------------------------------- round
    def round(self) -> None:
        self._pass(self.main, self.keep, self.vecs, self.index_root)

    def _pass(self, inputs: str, keep: set, vecs, index_root: str) -> None:
        self._dedup_checked(inputs, keep)
        for v in VARIANTS:
            self._build(inputs, index_root, v)
        for v in VARIANTS:
            self._search(v, os.path.join(index_root, v), vecs)

    def _dedup_checked(self, inputs: str, keep: set) -> None:
        docs = self.spark.read.parquet(os.path.join(inputs, "docs.parquet"))
        out = self.timed("dedup", self._dedup, docs)
        if out is not FAILED:
            got = {r[0] for r in out}
            self.expect("dedup survivors", got == keep,
                        f"{len(got ^ keep)} ids differ from the planted truth")

    def _build(self, inputs: str, index_root: str, v: str) -> None:
        emb = self.spark.read.parquet(os.path.join(inputs, "vectors.parquet"))
        self.timed("build", ivf_index.build_ivf_index,
                   emb, os.path.join(index_root, v), span=f"op.build.{v}", **VARIANTS[v])

    def _dedup(self, docs):
        df = dedup.fuzzy_dedup(docs)
        with self.tracer.span("spark.exec"):
            return df.select("doc_id").collect()

    def _search(self, variant: str, path: str, vecs) -> None:
        n = gen.QUERIES_PER_SEARCH
        src = self.qrng.choice(len(vecs), n, replace=False)
        queries = self.spark.createDataFrame(
            [(QUERY_ID_OFFSET + int(i), vecs[i].tolist()) for i in src],
            "vec_id long, embedding array<double>",
        )
        rows = self.timed("search", self._search_call, path, queries,
                          span=f"op.search.{variant}")
        if rows is FAILED:
            return
        top = {r["query_id"]: r["neighbor_id"] for r in rows if r["rank"] == 1}
        hits = sum(top.get(QUERY_ID_OFFSET + int(i)) == int(i) for i in src)
        if self.recording:
            self.recall[variant].append(hits / n)
        self.expect(f"{variant} recall@1", hits == n, f"{hits}/{n} exact copies found")

    def _search_call(self, path: str, queries):
        df = ivf_index.ivf_search(
            self.spark, path, queries, k=10, n_probe=1
        )
        with self.tracer.span("spark.exec"):
            return df.collect()

    def finish(self) -> None:
        # candidate and verified pair counts of the last dedup (traced run
        # only: the wrappers keep the frames the dedup stages returned)
        res = self.tracer.last_result
        if "text.lsh_pairs" in res and "text.verify" in res:
            from pyspark.sql import functions as F

            self.pairs["candidates"] = res["text.lsh_pairs"].count()
            self.pairs["verified"] = (
                res["text.verify"].filter(F.col("jaccard") >= 0.8).count()
            )

    # ------------------------------------------------------------- metrics
    def end_to_end(self) -> tuple[dict, dict]:
        t = self.times
        s, d = t.get("search", []), t.get("dedup", [])
        docs_per_s = self.n_docs / p50(d) if d else float("nan")
        detail = {
            "dedup_docs_per_s": (docs_per_s, "1/s"),
            "ann_build_s": (p50(t.get("build", [])), "s"),
            "ann_search_p50_s": (p50(s), "s"),
            "ann_search_p75_s": (pct(s, 75), "s"),
            "searches": (len(s), "count"),
            "dedups": (len(d), "count"),
        }
        return {
            "request_p50_s": p50(s),
            "rows_per_s": docs_per_s,
        }, detail

    def layers(self, spans, setup_spans) -> dict:
        n_dedup = max(len(self.times.get("dedup", [])), 1)

        def per_dedup(name, key=None):
            xs = [x for x in spans if x.name == name]
            return (sum(x.self_seconds for x in xs) if key is None else count(xs, key)) / n_dedup

        cand, ver = self.pairs["candidates"], self.pairs["verified"]
        out = {
            "text.lsh_pairs_s": per_dedup("text.lsh_pairs"),
            "text.candidate_pairs": cand,
            "text.verify_s": per_dedup("text.verify"),
            "text.verified_pairs": ver,
            "text.lsh_precision": ver / cand if cand else 0.0,
            "text.dedup_jobs": count(within(spans, "op.dedup"), "jobs") / n_dedup,
            "operators.cc_s": per_dedup("operators.cc"),
            "operators.cc_jobs": per_dedup("operators.cc", "jobs"),
            "operators.cc_edges": ver,
        }
        for v in VARIANTS:
            builds = [x for x in spans if x.name == f"op.build.{v}"]
            searches = [x for x in spans if x.name == f"op.search.{v}"]
            inside = within(spans, f"op.search.{v}")
            n_s = max(len(searches), 1)
            out[f"similarity.{v}.build_s"] = p50([x.seconds for x in builds])
            out[f"similarity.{v}.build_jobs"] = count(
                within(spans, f"op.build.{v}"), "jobs") / max(len(builds), 1)
            out[f"similarity.{v}.files_written"] = sum(
                len(fs) for _, _, fs in os.walk(os.path.join(self.index_root, v)))
            out[f"similarity.{v}.search_plan_s"] = p50(
                [x.seconds for x in inside if x.name == "similarity.search"])
            out[f"similarity.{v}.search_exec_s"] = p50(
                [x.seconds for x in inside if x.name == "spark.exec"])
            out[f"similarity.{v}.search_jobs"] = count(inside, "jobs") / n_s
            out[f"similarity.{v}.search_tasks"] = count(inside, "tasks") / n_s
            out[f"similarity.{v}.recall_at_1"] = mean(self.recall[v])
        return out
