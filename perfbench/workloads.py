"""Workload definitions: which statements run, at which scale, in which
order, and with which parameters.

The seed fixes the statement order of every pass and the ``sql_serve``
parameter draws. The engine sees only the generated statements.
"""

from __future__ import annotations

import datetime as dt
import random
import re
from dataclasses import dataclass, field

SF = 0.01  # both workloads read the sf0.01 tables
N_ORDERS = 15_000  # orders / customers in the sf0.01 tables (perfbench/data)
N_CUSTOMERS = 1_500
PARAM_SETS = 4  # parameter sets per sql_serve template; repeats must agree
TAIL_PCT = 90

# TPC-H Q1/Q3/Q6/Q12 shapes, two key lookups, a QUALIFY and a DISTINCT ON
# query. One text serves both engines: Spark binds the :named parameters,
# DuckDB gets them rendered as literals. Money is summed as DECIMAL and cast
# back to DOUBLE: a rounded sum of doubles still differs between engines
# when the exact sum lies next to a rounding boundary (seen: 439552.445).
TEMPLATES = {
    "q1_pricing": """
SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(12, 2))) AS DOUBLE) AS sum_base_price,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(12, 2))
                * (1 - CAST(l_discount AS DECIMAL(4, 2)))) AS DOUBLE) AS sum_disc_price,
       CAST(sum(CAST(l_discount AS DECIMAL(4, 2))) AS DOUBLE) AS sum_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= CAST(:cutoff AS TIMESTAMP)
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus""",
    "q3_shipping": """
SELECT l_orderkey, o_orderdate,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(12, 2))
                * (1 - CAST(l_discount AS DECIMAL(4, 2)))) AS DOUBLE) AS revenue
FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = :segment AND o_orderdate < CAST(:day AS TIMESTAMP)
  AND l_shipdate > CAST(:day AS TIMESTAMP)
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10""",
    "q6_forecast": """
SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12, 2))
                * CAST(l_discount AS DECIMAL(4, 2))) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= CAST(:d0 AS TIMESTAMP) AND l_shipdate < CAST(:d1 AS TIMESTAMP)
  AND l_discount BETWEEN :disc_lo AND :disc_hi AND l_quantity < :qty""",
    "q12_priority": """
SELECT l_returnflag,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= CAST(:d0 AS TIMESTAMP) AND l_shipdate < CAST(:d1 AS TIMESTAMP)
GROUP BY l_returnflag
ORDER BY l_returnflag""",
    "point_order": """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
FROM orders WHERE o_orderkey = :key""",
    "customer_orders": """
SELECT c_custkey, c_name, count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(12, 2))) AS DOUBLE) AS total
FROM customer JOIN orders ON c_custkey = o_custkey
WHERE c_custkey = :cust
GROUP BY c_custkey, c_name""",
    "qualify_top_order": """
SELECT o_custkey, o_orderkey, o_totalprice
FROM orders
WHERE o_orderdate >= CAST(:d0 AS TIMESTAMP) AND o_orderdate < CAST(:d1 AS TIMESTAMP)
QUALIFY row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) = 1""",
    "distinct_on_line": """
SELECT DISTINCT ON (l_orderkey) l_orderkey, l_linenumber, l_extendedprice
FROM lineitem
WHERE l_orderkey BETWEEN :k0 AND :k1
ORDER BY l_orderkey, l_extendedprice DESC, l_linenumber""",
}

# Registry statements: the operator kernels, the Arrow/pandas boundary,
# operator-internal persist, streaming drains and versioned-table commits.
LLM_STATEFUL = (
    "dedup_minhash",
    "sim_topk",
    "text_quality",
    "udf_pandas_scalar",
    "udaf_apply_in_pandas",
    "streaming_tumbling",
    "versioned_update_restore",
)

# Untimed whole passes between the first pass and the steady phase: enough
# to run every distinct statement once (a statement's first run is slower
# than its repeats), then more until this many seconds have passed, so the
# steady phase starts after most of the JIT warm-up. llm_stateful has one
# statement per shape, all run in the first pass, and no warm-up: its
# passes take ~8 s and the run budget has no room for one more.
WARMUP_S = {"sql_serve": 9.0, "llm_stateful": 0.0}


@dataclass(frozen=True)
class Statement:
    """One distinct statement: a registry builder name, or a template with
    one parameter set."""

    key: str  # unique id of the distinct statement
    name: str  # registry name or template name
    params: dict = field(default_factory=dict, hash=False, compare=False)


def _day(rng: random.Random, lo: dt.date, hi: dt.date) -> str:
    d = lo + dt.timedelta(days=rng.randrange((hi - lo).days))
    return d.isoformat()


def _params(name: str, rng: random.Random) -> dict:
    if name == "q1_pricing":
        return {"cutoff": _day(rng, dt.date(1998, 1, 1), dt.date(2001, 10, 1))}
    if name == "q3_shipping":
        return {
            "segment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]),
            "day": _day(rng, dt.date(1996, 1, 1), dt.date(2000, 12, 31)),
        }
    if name in ("q6_forecast", "q12_priority"):
        y = rng.randrange(1995, 2001)
        p = {"d0": f"{y}-01-01", "d1": f"{y + 1}-01-01"}
        if name == "q6_forecast":
            lo = rng.randrange(1, 8) / 100
            p.update(disc_lo=lo, disc_hi=round(lo + 0.02, 2), qty=rng.choice([24, 25, 30]))
        return p
    if name == "point_order":
        return {"key": rng.randrange(N_ORDERS)}
    if name == "customer_orders":
        return {"cust": rng.randrange(N_CUSTOMERS)}
    if name == "qualify_top_order":
        m = rng.randrange(12 * 6 + 6)
        d0 = dt.date(1995 + m // 12, m % 12 + 1, 1)
        d1 = dt.date(1995 + (m + 1) // 12, (m + 1) % 12 + 1, 1)
        return {"d0": d0.isoformat(), "d1": d1.isoformat()}
    if name == "distinct_on_line":
        k0 = rng.randrange(N_ORDERS - 50)
        return {"k0": k0, "k1": k0 + 49}
    raise KeyError(name)


def render_literals(sql: str, params: dict) -> str:
    """The template with each :name replaced by a DuckDB literal."""

    def lit(m: re.Match) -> str:
        v = params[m.group(1)]
        if isinstance(v, str):
            return "'" + v.replace("'", "''") + "'"
        if isinstance(v, float):
            return f"CAST({v!r} AS DOUBLE)"
        return str(int(v))

    return re.sub(r"(?<!:):([A-Za-z_]\w*)", lit, sql)


class Plan:
    """The seeded statement stream of one workload run."""

    def __init__(self, workload: str, seed: int) -> None:
        if workload not in WORKLOADS:
            raise KeyError(f"unknown workload {workload!r}; choose from {sorted(WORKLOADS)}")
        self.workload = workload
        self.rng = random.Random(seed)
        if workload == "sql_serve":
            self.names = list(TEMPLATES)
            self.pool = {
                n: [Statement(f"{n}#{i}", n, _params(n, self.rng)) for i in range(PARAM_SETS)]
                for n in self.names
            }
        else:
            self.names = list(LLM_STATEFUL)
            self.pool = {n: [Statement(n, n)] for n in self.names}

    def first_pass(self) -> list[Statement]:
        """Each distinct statement shape once, in seeded order."""
        order = list(self.names)
        self.rng.shuffle(order)
        return [self.pool[n][0] for n in order]

    def warmup_passes(self) -> int:
        """Warm-up passes needed to run every distinct statement the first
        pass did not run."""
        return max(len(p) for p in self.pool.values()) - 1

    def warmup_pass(self, i: int) -> list[Statement]:
        """Warm-up pass ``i``: every shape in a fresh seeded order, each
        with its parameter set ``i + 1`` (wrapping round the pool)."""
        order = list(self.names)
        self.rng.shuffle(order)
        return [self.pool[n][(i + 1) % len(self.pool[n])] for n in order]

    def steady_pass(self) -> list[Statement]:
        """One pass over every shape in a fresh seeded order, each with a
        parameter set drawn from its pool."""
        order = list(self.names)
        self.rng.shuffle(order)
        return [self.rng.choice(self.pool[n]) for n in order]


WORKLOADS = ("sql_serve", "llm_stateful")
