"""The KQL query templates of the `kql_interactive` workload, each with its
DuckDB twin. `draw(rng, name)` fills a template's parameters from the
workload seed; the engine only sees the rendered KQL text.

Every template ends in a deterministic order with a unique tie-break (or
in an aggregate), so the result set is fully determined and can be compared
by row count and an order-insensitive value hash. Parameter ranges are
narrow enough that a query's selectivity, and so its work, varies little
from seed to seed: seeds change which rows a query reads, not how many.
"""

from __future__ import annotations

import numpy as np

from gen import EVENT_TYPES, PRIORITIES

NAMES = [
    "filter_bin_top",
    "pricing_summary",
    "join_agg",
    "topn",
    "dcount",
    "window_cumsum",
    "mv_expand_words",
    "make_series",
]


def _day(base: str, days: int) -> str:
    return str(np.datetime64(base, "D") + int(days))


def draw(rng: np.random.Generator, name: str) -> tuple[str, str]:
    """Render template `name` with seeded parameters: (kql, duckdb_sql)."""
    if name == "filter_bin_top":
        et = EVENT_TYPES[rng.integers(0, len(EVENT_TYPES))]
        v = int(rng.integers(400, 600))
        return (
            f"events | where event_type == '{et}' and value >= {v}"
            " | summarize n = count(), total = sum(value) by h = bin(ts, 1h)"
            " | sort by n desc, h asc | take 10",
            "SELECT time_bucket(INTERVAL '1 hour', ts) AS h, COUNT(*) AS n,"
            f" SUM(value) AS total FROM events WHERE event_type = '{et}'"
            f" AND value >= {v} GROUP BY h ORDER BY n DESC, h ASC LIMIT 10",
        )
    if name == "pricing_summary":
        d = _day("1992-01-01", int(rng.integers(1800, 2000)))
        return (
            f"lineitem | where l_shipdate <= datetime({d})"
            " | summarize sum_qty = sum(l_quantity), sum_price = sum(l_extendedprice),"
            " avg_qty = avg(l_quantity), avg_disc = avg(l_discount), n = count()"
            " by l_returnflag, l_linestatus",
            "SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty,"
            " SUM(l_extendedprice) AS sum_price, AVG(l_quantity) AS avg_qty,"
            " AVG(l_discount) AS avg_disc, COUNT(*) AS n FROM lineitem"
            f" WHERE l_shipdate <= TIMESTAMP '{d}' GROUP BY l_returnflag, l_linestatus",
        )
    if name == "join_agg":
        d1 = _day("1992-01-01", int(rng.integers(0, 1800)))
        d2 = _day(d1, 365)
        x = int(rng.integers(2000, 4000))
        return (
            f"orders | where o_orderdate >= datetime({d1}) and o_orderdate < datetime({d2})"
            f" | join kind=inner (customer | where c_acctbal > {x})"
            " on $left.o_custkey == $right.c_custkey"
            " | summarize revenue = sum(o_totalprice), n = count() by c_mktsegment",
            "SELECT c_mktsegment, SUM(o_totalprice) AS revenue, COUNT(*) AS n"
            " FROM orders JOIN customer ON o_custkey = c_custkey"
            f" WHERE o_orderdate >= TIMESTAMP '{d1}' AND o_orderdate < TIMESTAMP '{d2}'"
            f" AND c_acctbal > {x} GROUP BY c_mktsegment",
        )
    if name == "topn":
        p = PRIORITIES[rng.integers(0, len(PRIORITIES))]
        x = int(rng.integers(200_000, 300_000))
        n = int(rng.integers(20, 30))
        return (
            f"orders | where o_orderpriority == '{p}' and o_totalprice > {x}"
            " | project o_orderkey, o_custkey, o_totalprice"
            f" | sort by o_totalprice desc, o_orderkey asc | take {n}",
            "SELECT o_orderkey, o_custkey, o_totalprice FROM orders"
            f" WHERE o_orderpriority = '{p}' AND o_totalprice > {x}"
            f" ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT {n}",
        )
    if name == "dcount":
        d = _day("2024-01-01", int(rng.integers(10, 18)))
        return (
            f"events | where ts >= datetime({d})"
            " | summarize users = dcount(user_id), n = count() by event_type",
            "SELECT event_type, COUNT(DISTINCT user_id) AS users, COUNT(*) AS n"
            f" FROM events WHERE ts >= TIMESTAMP '{d}' GROUP BY event_type",
        )
    if name == "window_cumsum":
        r = int(rng.integers(0, 100))
        return (
            f"events | where user_id % 100 == {r}"
            " | partition by user_id (sort by ts asc, event_id asc"
            " | extend cs = row_cumsum(value))"
            " | project event_id, user_id, cs",
            "SELECT event_id, user_id, SUM(value) OVER (PARTITION BY user_id"
            " ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
            f" AS cs FROM events WHERE user_id % 100 = {r}",
        )
    if name == "mv_expand_words":
        r = int(rng.integers(0, 8))
        return (
            f"documents | where doc_id % 8 == {r} | project w = split(text, ' ')"
            " | mv-expand w to typeof(string) | summarize n = count() by w"
            " | sort by n desc, w asc | take 20",
            "SELECT w, COUNT(*) AS n FROM (SELECT unnest(string_split(text, ' ')) AS w"
            f" FROM documents WHERE doc_id % 8 = {r}) GROUP BY w"
            " ORDER BY n DESC, w ASC LIMIT 20",
        )
    if name == "make_series":
        v = int(rng.integers(400, 600))
        return (
            f"events | where value >= {v}"
            " | make-series n = count() default = 0 on ts"
            " from datetime(2024-01-01) to datetime(2024-01-30) step 1d by event_type"
            " | project event_type, n",
            "WITH days AS (SELECT unnest(generate_series(TIMESTAMP '2024-01-01',"
            " TIMESTAMP '2024-01-30', INTERVAL '1 day')) AS day),"
            f" ev AS (SELECT * FROM events WHERE value >= {v}),"
            " types AS (SELECT DISTINCT event_type FROM ev),"
            " counts AS (SELECT event_type, date_trunc('day', ts) AS day, COUNT(*) AS n"
            " FROM ev GROUP BY 1, 2),"
            " grid AS (SELECT t.event_type, d.day, COALESCE(c.n, 0) AS n"
            " FROM types t CROSS JOIN days d LEFT JOIN counts c"
            " ON c.event_type = t.event_type AND c.day = d.day)"
            " SELECT event_type, list(n ORDER BY day) AS n FROM grid GROUP BY event_type",
        )
    raise KeyError(name)
