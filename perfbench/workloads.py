"""Seeded request schedules for the three serving workloads.

A schedule is a list of requests per client, made only from the workload
seed. The server receives nothing but the SQL text and bound parameters of
each request. Clients walk their list in order, first ``WARMUP`` requests
untimed, and wrap around if a run outlasts it, so every request a run can
send is known, and checked against DuckDB, before timing starts.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

import numpy as np

from datagen import N_CUSTOMER, N_ORDERS, N_USERS, REGIONS


@dataclass(frozen=True)
class Request:
    name: str          # template or lookup shape
    sql: str
    params: tuple = ()  # bound through DoPut when non-empty

    @property
    def prepared(self) -> bool:
        return bool(self.params)


# Closed-loop clients per workload; each holds one persistent connection.
# Two clients keep the server busy (one lookup client leaves it half idle
# between Spark jobs: 0.53 vs 1.0 req/s on the 4-core host) while client
# and server threads together stay near the core count.
CLIENTS = {"dashboard": 2, "lookup": 2, "export": 2}
# Requests per client sent untimed before the window: one pass over the
# client's share of the templates, over the lookup shapes, or one export.
WARMUP = {"dashboard": 6, "lookup": 4, "export": 1}


# ---------------------------------------------------------------------------
# dashboard: DuckDB-dialect templates derived from the catalog's oracle SQL
# ---------------------------------------------------------------------------

_REV = ("CAST(l_extendedprice AS DECIMAL(18,2)) * "
        "(CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))")


def _date(rng: random.Random, first_year: int, last_year: int) -> str:
    return f"{rng.randint(first_year, last_year)}-{rng.randint(1, 12):02d}-01"


def _pricing_summary(rng: random.Random) -> str:
    return (
        "SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, "
        "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price, "
        "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) "
        "AS DOUBLE) AS sum_disc_price, count(*) AS count_order FROM lineitem "
        f"WHERE l_shipdate <= TIMESTAMP '{_date(rng, 1996, 2001)} 00:00:00' "
        "GROUP BY l_returnflag, l_linestatus "
        "ORDER BY l_returnflag ASC NULLS LAST, l_linestatus ASC NULLS LAST")


def _order_priority(rng: random.Random) -> str:
    year, month = rng.randint(1995, 2000), rng.choice((1, 4, 7, 10))
    end = f"{year + 1}-01-01" if month == 10 else f"{year}-{month + 3:02d}-01"
    return (
        "SELECT o_orderpriority, count(*) AS order_count FROM orders "
        f"WHERE o_orderdate >= TIMESTAMP '{year}-{month:02d}-01' "
        f"AND o_orderdate < TIMESTAMP '{end}' "
        "AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey "
        "AND l_shipdate > o_orderdate) "
        "GROUP BY o_orderpriority ORDER BY o_orderpriority ASC NULLS LAST")


def _forecast_revenue(rng: random.Random) -> str:
    year, disc, qty = rng.randint(1995, 2001), rng.randint(2, 8), rng.randint(20, 30)
    return (
        "SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) "
        "AS DOUBLE) AS revenue FROM lineitem "
        f"WHERE l_shipdate >= TIMESTAMP '{year}-01-01' AND l_shipdate < TIMESTAMP '{year + 1}-01-01' "
        f"AND l_discount BETWEEN {(disc - 1) / 100:.2f} AND {(disc + 1) / 100:.2f} "
        f"AND l_quantity < {qty}")


def _priority_lines(rng: random.Random) -> str:
    year = rng.randint(1995, 2001)
    return (
        "SELECT l_returnflag, CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') "
        "THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count, "
        "CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) "
        "AS BIGINT) AS low_line_count FROM orders JOIN lineitem ON o_orderkey = l_orderkey "
        f"WHERE l_shipdate >= TIMESTAMP '{year}-01-01' AND l_shipdate < TIMESTAMP '{year + 1}-01-01' "
        "GROUP BY l_returnflag ORDER BY l_returnflag ASC NULLS LAST")


def _promo_revenue(rng: random.Random) -> str:
    year, month = rng.randint(1995, 2001), rng.randint(1, 12)
    end = f"{year + 1}-01-01" if month == 12 else f"{year}-{month + 1:02d}-01"
    return (
        f"SELECT round(100.00 * CAST(sum(CASE WHEN p_type = 'PROMO' THEN {_REV} END) AS DOUBLE) "
        f"/ CAST(sum({_REV}) AS DOUBLE), 6) AS promo_revenue "
        "FROM lineitem JOIN part ON l_partkey = p_partkey "
        f"WHERE l_shipdate >= TIMESTAMP '{year}-{month:02d}-01' "
        f"AND l_shipdate < TIMESTAMP '{end}'")


def _region_volume(rng: random.Random) -> str:
    region, year = rng.choice(REGIONS), rng.randint(1995, 1999)
    return (
        f"SELECT n_name, CAST(sum({_REV}) AS DOUBLE) AS revenue "
        "FROM region JOIN nation ON n_regionkey = r_regionkey "
        "JOIN supplier ON s_nationkey = n_nationkey JOIN lineitem ON l_suppkey = s_suppkey "
        "JOIN orders ON o_orderkey = l_orderkey "
        f"WHERE r_name = '{region}' AND o_orderdate >= TIMESTAMP '{year}-01-01' "
        f"AND o_orderdate < TIMESTAMP '{year + 2}-01-01' "
        "GROUP BY n_name ORDER BY revenue DESC NULLS LAST, n_name ASC NULLS LAST")


def _region_balances(rng: random.Random) -> str:
    a, b = rng.sample(REGIONS, 2)
    return (
        "SELECT n_name, CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal, "
        "count(*) AS n_cust FROM customer JOIN nation ON c_nationkey = n_nationkey "
        f"JOIN region ON n_regionkey = r_regionkey WHERE r_name IN ('{a}', '{b}') "
        "GROUP BY n_name ORDER BY n_name ASC NULLS LAST")


def _status_cube(rng: random.Random) -> str:
    return (
        "SELECT o_orderstatus, o_orderpriority, count(*) AS n FROM orders "
        f"WHERE o_orderdate >= TIMESTAMP '{_date(rng, 1995, 2000)}' "
        "GROUP BY CUBE (o_orderstatus, o_orderpriority) "
        "ORDER BY o_orderstatus ASC NULLS LAST, o_orderpriority ASC NULLS LAST")


def _flag_rollup(rng: random.Random) -> str:
    return (
        "SELECT l_returnflag, l_linestatus, grouping(l_returnflag) AS g_flag, "
        "grouping(l_linestatus) AS g_status, count(*) AS n FROM lineitem "
        f"WHERE l_shipdate < TIMESTAMP '{_date(rng, 1996, 2001)}' "
        "GROUP BY ROLLUP (l_returnflag, l_linestatus) "
        "ORDER BY g_flag ASC NULLS LAST, g_status ASC NULLS LAST, "
        "l_returnflag ASC NULLS LAST, l_linestatus ASC NULLS LAST")


def _top_orders_qualify(rng: random.Random) -> str:
    lo = rng.randrange(0, N_CUSTOMER - 200)
    return (
        "SELECT o_custkey, o_orderkey, o_totalprice FROM orders "
        f"WHERE o_custkey BETWEEN {lo} AND {lo + 199} "
        "QUALIFY row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC NULLS LAST, "
        "o_orderkey ASC NULLS LAST) <= 2 "
        "ORDER BY o_custkey ASC NULLS LAST, o_totalprice DESC NULLS LAST, o_orderkey ASC NULLS LAST")


def _last_purchase_asof(rng: random.Random) -> str:
    lo = rng.randrange(0, N_USERS - 100)
    return (
        "WITH clicks AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events "
        f"WHERE event_type = 'click' AND user_id BETWEEN {lo} AND {lo + 99}), "
        "purchases AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events "
        "WHERE event_type = 'purchase') "
        "SELECT c.event_id, round(p.value, 2) AS last_purchase_value "
        "FROM clicks c ASOF LEFT JOIN purchases p ON c.user_id = p.user_id AND c.ts >= p.ts "
        "ORDER BY c.event_id ASC NULLS LAST")


def _returned_items(rng: random.Random) -> str:
    year = rng.randint(1995, 2000)
    return (
        f"SELECT c_custkey, c_name, CAST(sum({_REV}) AS DOUBLE) AS revenue, n_name "
        "FROM customer JOIN orders ON c_custkey = o_custkey "
        "JOIN lineitem ON l_orderkey = o_orderkey JOIN nation ON c_nationkey = n_nationkey "
        f"WHERE l_returnflag = 'R' AND o_orderdate >= TIMESTAMP '{year}-01-01' "
        f"AND o_orderdate < TIMESTAMP '{year + 1}-01-01' "
        "GROUP BY c_custkey, c_name, n_name "
        "ORDER BY revenue DESC NULLS LAST, c_custkey ASC NULLS LAST LIMIT 20")


TEMPLATES = {
    "pricing_summary": _pricing_summary,
    "order_priority": _order_priority,
    "forecast_revenue": _forecast_revenue,
    "priority_lines": _priority_lines,
    "promo_revenue": _promo_revenue,
    "region_volume": _region_volume,
    "region_balances": _region_balances,
    "status_cube": _status_cube,
    "flag_rollup": _flag_rollup,
    "top_orders_qualify": _top_orders_qualify,
    "last_purchase_asof": _last_purchase_asof,
    "returned_items": _returned_items,
}

DASHBOARD_ROUNDS = 4


def dashboard(seed: int, clients: int) -> list[list[Request]]:
    """``DASHBOARD_ROUNDS`` rounds; each round sends every template once, in
    a seeded order, with fresh seeded literals. Round-robin over clients,
    so every run samples each template in the same proportion."""
    rng = random.Random(f"dashboard-{seed}")
    flat: list[Request] = []
    names = sorted(TEMPLATES)
    for _ in range(DASHBOARD_ROUNDS):
        rng.shuffle(names)
        flat.extend(Request(n, TEMPLATES[n](rng)) for n in names)
    return [flat[c::clients] for c in range(clients)]


# ---------------------------------------------------------------------------
# lookup: Zipf-skewed keys through prepared statements
# ---------------------------------------------------------------------------

LOOKUP_SHAPES = {
    # name: (SQL with one '?', key space)
    "order_by_key": (
        "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, "
        "o_orderpriority FROM orders WHERE o_orderkey = ?", N_ORDERS),
    "customer_by_key": (
        "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment "
        "FROM customer WHERE c_custkey = ?", N_CUSTOMER),
    "lines_of_order": (
        "SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice, l_shipdate "
        "FROM lineitem WHERE l_orderkey = ?", N_ORDERS),  # 4 rows
    # Short range: the ten consecutive orders of one key block, so the
    # rows per request do not depend on which keys the seed draws.
    "orders_in_block": (
        "SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate FROM orders "
        "WHERE floor(o_orderkey / 10) = ?", N_ORDERS // 10),
}
LOOKUP_POOL = 1024
ZIPF_S = 1.1
# The popularity-rank sequence is the same for every seed; the seed only
# chooses which key holds each rank. Every seed thus has the same pattern of
# repeats, and a cache keyed on lookup keys hits equally often whatever the
# seed, while the keys, and so the requests, differ.
RANK_SEED = 20_240_101


def zipf_ranks(space: int, n: int, stream: int) -> np.ndarray:
    """``n`` popularity ranks in ``[0, space)``, rank r drawn with weight
    ``(r + 1) ** -ZIPF_S``."""
    weights = np.arange(1, space + 1, dtype=np.float64) ** -ZIPF_S
    rng = np.random.default_rng([RANK_SEED, stream])
    return rng.choice(space, size=n, p=weights / weights.sum())


def lookup(seed: int, clients: int) -> list[list[Request]]:
    """``LOOKUP_POOL`` requests; each client cycles through the shapes in
    a fixed order from its own starting shape, so every run samples each
    shape in the same proportion. Ranks map to keys through a seeded
    permutation, so the hot keys are scattered over the table."""
    rng = np.random.default_rng([seed, 1])
    names = sorted(LOOKUP_SHAPES)
    per_client = LOOKUP_POOL // clients
    keys = {}
    for stream, name in enumerate(names):
        space = LOOKUP_SHAPES[name][1]
        keys[name] = iter(rng.permutation(space)[zipf_ranks(space, LOOKUP_POOL, stream)])
    out = []
    for c in range(clients):
        shapes = [names[(c + i) % len(names)] for i in range(per_client)]
        out.append([Request(n, LOOKUP_SHAPES[n][0], (int(next(keys[n])),)) for n in shapes])
    return out


# ---------------------------------------------------------------------------
# export: large lineitem ranges, all columns
# ---------------------------------------------------------------------------

# Every request covers EXPORT_KEYS order keys = 150k lineitem rows (four
# lines per order), the low end of the 150k-300k band: a request costs
# ~6 s with two clients, so a window still holds several. One size keeps a
# run's rows per request independent of how many requests fit in its
# window; the seed places each range.
EXPORT_KEYS = 37_500
EXPORT_POOL = 32


def export(seed: int, clients: int) -> list[list[Request]]:
    rng = random.Random(f"export-{seed}")
    starts = rng.sample(range(N_ORDERS - EXPORT_KEYS), EXPORT_POOL)
    flat = [Request("lineitem_range", "SELECT * FROM lineitem WHERE l_orderkey "
                    f"BETWEEN {lo} AND {lo + EXPORT_KEYS - 1}") for lo in starts]
    return [flat[c::clients] for c in range(clients)]


SCHEDULES = {"dashboard": dashboard, "lookup": lookup, "export": export}


def schedule(workload: str, seed: int) -> list[list[Request]]:
    return SCHEDULES[workload](seed, CLIENTS[workload])
