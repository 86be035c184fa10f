"""Workload `kql_interactive`: a seeded stream of KQL queries through one
`MeerkatEngine` over a generated TPC-H-shaped catalog. Each query is
`engine.kql(text)` (parse, then translate to a DataFrame) followed by a
`collect()` of its result; the timed request is both. Every result is
compared with its DuckDB twin by row count and value hash, after the
measured rounds, so DuckDB's memory is not counted as the engine's.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np

import check
import gen
import templates
from common import FAILED, Workload, p50, pct
from spans import count, within

# the table each template scans, for the scan-rate metric
SCANS = {
    "filter_bin_top": ["events"],
    "pricing_summary": ["lineitem"],
    "join_agg": ["orders", "customer"],
    "topn": ["orders"],
    "dcount": ["events"],
    "window_cumsum": ["events"],
    "mv_expand_words": ["documents"],
    "make_series": ["events"],
}


class KqlInteractive(Workload):
    name = "kql_interactive"
    REQUEST = "query"
    WRAPPED = (
        ("meerkat_spark.kql", "execute_kql", "kql.execute"),
        ("meerkat_spark.kql.parser", "parse_kql", "kql.parse"),
        ("meerkat_spark.catalog", "Catalog._load", "catalog.load"),
    )

    def __init__(self, seed: int, work: str):
        super().__init__()
        self.cat_dir = os.path.join(work, "catalog")
        self.rows = gen.write_catalog(np.random.default_rng([seed, 0]), self.cat_dir)
        self.stream = np.random.default_rng([seed, 1])
        self.warm_rng = np.random.default_rng([seed, 2])
        self.results: list[tuple[str, str, str, tuple[int, str]]] = []
        self.scanned = 0  # table rows read by the measured queries

    def setup(self, spark) -> None:
        """Warm-up: every template once."""
        from meerkat_spark.engine import MeerkatEngine

        self.engine = MeerkatEngine(spark, self.cat_dir)
        for name in templates.NAMES:
            self.query(name, *templates.draw(self.warm_rng, name))

    def round(self) -> None:
        for i in self.stream.permutation(len(templates.NAMES)):
            name = templates.NAMES[i]
            self.query(name, *templates.draw(self.stream, name))

    def query(self, name: str, kql: str, sql: str) -> None:
        rows = self.timed("query", self._request, kql, span=f"op.query.{name}")
        if rows is FAILED:
            return
        if self.recording:
            self.scanned += sum(self.rows[t] for t in SCANS[name])
        self.results.append((name, kql, sql, check.spark_digest(rows)))

    def finish(self) -> None:
        duck = duckdb.connect()
        for t in self.rows:
            path = os.path.join(self.cat_dir, f"{t}.parquet")
            duck.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        expected: dict[str, tuple[int, str]] = {}
        for name, kql, sql, got in self.results:
            if sql not in expected:
                expected[sql] = check.duckdb_digest(duck, sql)
            self.expect(name, got == expected[sql], f"{got} != {expected[sql]}: {kql}")
        duck.close()

    def _request(self, kql: str):
        df = self.engine.kql(kql).to_df()
        with self.tracer.span("spark.exec"):
            return df.collect()

    def end_to_end(self) -> tuple[dict, dict]:
        q = self.times.get("query", [])
        detail = {
            "kql_query_p50_s": (p50(q), "s"),
            "kql_query_p75_s": (pct(q, 75), "s"),
            "kql_query_p90_s": (pct(q, 90), "s"),
            "kql_queries": (len(q), "count"),
        }
        return {
            "request_p50_s": p50(q),
            "rows_per_s": self.scanned / sum(q) if q else float("nan"),
        }, detail

    def layers(self, spans, setup_spans) -> dict:
        n = max(len(self.times.get("query", [])), 1)
        parse = [s for s in spans if s.name == "kql.parse"]
        execs = [s for s in spans if s.name == "kql.execute"]
        out = {
            "kql.parse_s": sum(s.self_seconds for s in parse) / n,
            "kql.translate_s": sum(s.self_seconds for s in execs) / n,
            "kql.translate_jobs": (count(parse, "jobs") + count(execs, "jobs")) / n,
            "catalog.load_s": sum(s.seconds for s in setup_spans if s.name == "catalog.load"),
        }
        for name in templates.NAMES:
            ops = [s for s in spans if s.name == f"op.query.{name}"]
            exe = [s for s in within(spans, f"op.query.{name}") if s.name == "spark.exec"]
            out[f"kql.{name}.exec_s"] = p50([s.seconds for s in exe])
            out[f"kql.{name}.jobs"] = count(within(spans, f"op.query.{name}"), "jobs") / max(len(ops), 1)
        return out
