"""``dashboard``: interactive semantic-layer queries over a TPC-H-ish star
schema at sf 0.01, from ``nproc`` concurrent clients in a closed loop.

Each request is a (shape, parameter) pair from the fixed set ``KEYS``,
asked uniformly: the stream is whole rounds, each a seeded permutation of
``KEYS``, so every key recurs once per round and the run records the share
of requests that repeat an earlier one. The data is small, so Model
compile, Catalyst planning and per-job scheduling dominate request time. Every answer is checked against DuckDB running the
twin SQL (``SHAPES[shape].sql``) over the same parquet files.
"""

from __future__ import annotations

import numpy as np

import datagen
from workload import ModelWorkload, rounds
from hashquery_spark import Model, attr, column, func, msr, rel

TABLES = ("region", "nation", "customer", "orders", "lineitem")
REVENUE = "CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)"


def _d(days: int) -> str:
    return f"TIMESTAMP '{datagen.day(days):%Y-%m-%d}'"


def _revenue():
    return (
        func.sum((attr.l_extendedprice * (1 - attr.l_discount)).cast("decimal(18,4)"))
        .cast("double")
        .named("revenue")
    )


def _customer(conn):
    return Model(conn, "customer").with_primary_key(column("c_custkey"))


# --- shapes: build(conn, p) -> Model, sql(p) -> DuckDB twin, ordered? ----


def filter_pick_sort_limit(conn, q):
    return (
        Model(conn, "lineitem")
        .filter(attr.l_quantity > q)
        .pick(
            attr.l_orderkey,
            attr.l_linenumber,
            attr.l_extendedprice,
            (attr.l_extendedprice * (1 - attr.l_discount)).named("revenue"),
        )
        .sort(column("l_extendedprice"), dir="desc")
        .sort(column("l_orderkey"))
        .sort(column("l_linenumber"))
        .limit(50, offset=5)
    )


def filter_pick_sort_limit_sql(q):
    return f"""
        SELECT l_orderkey, l_linenumber, l_extendedprice,
               l_extendedprice * (1 - l_discount) AS revenue
        FROM lineitem WHERE l_quantity > {q}
        ORDER BY l_extendedprice DESC NULLS LAST,
                 l_orderkey ASC NULLS FIRST, l_linenumber ASC NULLS FIRST
        LIMIT 50 OFFSET 5"""


def named_measures(conn, days):
    """Measures and a group defined once on the model, used by name."""
    return (
        Model(conn, "lineitem")
        .with_attributes(ship_year=attr.l_shipdate.by_year())
        .with_measures(
            sum_qty=func.sum(attr.l_quantity.cast("decimal(18,2)")).cast("double"),
            sum_base_price=func.sum(attr.l_extendedprice.cast("decimal(18,2)")).cast("double"),
            avg_disc=func.sum(attr.l_discount.cast("decimal(18,6)")).cast("double")
            / func.count(attr.l_discount),
            count_order=func.count(),
        )
        .filter(attr.l_shipdate <= datagen.day(days))
        .aggregate(
            groups=[attr.l_returnflag, attr.ship_year],
            measures=[msr.sum_qty, msr.sum_base_price, msr.avg_disc, msr.count_order],
        )
    )


def named_measures_sql(days):
    return f"""
        SELECT l_returnflag,
          CAST(date_trunc('year', l_shipdate) AS TIMESTAMP) AS ship_year,
          CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
          CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
          CAST(sum(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / count(l_discount) AS avg_disc,
          count(*) AS count_order
        FROM lineitem WHERE l_shipdate <= {_d(days)}
        GROUP BY 1, 2"""


def join_one_segment(conn, price):
    return (
        Model(conn, "orders")
        .with_join_one(_customer(conn), foreign_key=attr.o_custkey, named="customer")
        .filter(attr.o_totalprice > price)
        .aggregate(
            groups=[rel.customer.c_mktsegment],
            measures=[
                func.count().named("n_orders"),
                func.sum(attr.o_totalprice.cast("decimal(18,2)")).cast("double").named("total"),
            ],
        )
    )


def join_one_segment_sql(price):
    return f"""
        SELECT c.c_mktsegment, count(*) AS n_orders,
               CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE o.o_totalprice > {price}
        GROUP BY c.c_mktsegment"""


def join_one_region(conn, region):
    """Two-level relation: orders -> (customer -> nation), grouped by nation."""
    nation = Model(conn, "nation").with_primary_key(column("n_nationkey"))
    customer = (
        _customer(conn)
        .with_join_one(nation, foreign_key=attr.c_nationkey, named="nat", drop_unmatched=True)
        .pick(attr.c_custkey, rel.nat.n_name.named("n_name"),
              rel.nat.n_regionkey.named("n_regionkey"))
        .with_primary_key(column("c_custkey"))
    )
    return (
        Model(conn, "orders")
        .with_join_one(customer, foreign_key=attr.o_custkey, named="cust", drop_unmatched=True)
        .filter(rel.cust.n_regionkey == region)
        .aggregate(
            groups=[rel.cust.n_name.named("n_name")],
            measures=[
                func.count().named("n_orders"),
                func.max(attr.o_totalprice).named("max_price"),
            ],
        )
    )


def join_one_region_sql(region):
    return f"""
        SELECT n.n_name, count(*) AS n_orders, max(o.o_totalprice) AS max_price
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
                      JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE n.n_regionkey = {region}
        GROUP BY n.n_name"""


def granularity(conn, grain):
    return Model(conn, "orders").aggregate(
        groups=[attr.o_orderdate.by_granularity(grain).named("period")],
        measures=[func.count().named("n")],
    )


def granularity_sql(grain):
    return f"""
        SELECT CAST(date_trunc('{grain}', o_orderdate) AS TIMESTAMP) AS period, count(*) AS n
        FROM orders GROUP BY 1"""


def top_k(conn, k):
    return (
        Model(conn, "orders")
        .top_k(k, attr.o_totalprice, per=[attr.o_orderstatus], rank_name="rank",
               tiebreak=[attr.o_orderkey])
        .pick(attr.o_orderstatus, attr.o_orderkey, attr.o_totalprice, column("rank"))
    )


def top_k_sql(k):
    return f"""
        SELECT o_orderstatus, o_orderkey, o_totalprice, rank FROM (
          SELECT o_orderstatus, o_orderkey, o_totalprice,
                 CAST(row_number() OVER (PARTITION BY o_orderstatus
                      ORDER BY o_totalprice DESC NULLS LAST, o_orderkey ASC) AS INT) AS rank
          FROM orders
        ) WHERE rank <= {k}"""


def in_subquery(conn, price):
    big = Model(conn, "orders").filter(attr.o_totalprice > price).pick(attr.o_orderkey)
    return (
        Model(conn, "lineitem")
        .filter(attr.l_orderkey.in_(big))
        .aggregate(groups=[attr.l_returnflag], measures=[func.count().named("n")])
    )


def in_subquery_sql(price):
    return f"""
        SELECT l_returnflag, count(*) AS n FROM lineitem
        WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > {price})
        GROUP BY l_returnflag"""


def tpch_q3(conn, p):
    segment, days = p
    orders = (
        Model(conn, "orders")
        .with_primary_key(column("o_orderkey"))
        .with_join_one(_customer(conn), foreign_key=attr.o_custkey, named="cust",
                       drop_unmatched=True)
        .filter(rel.cust.c_mktsegment == segment)
        .filter(attr.o_orderdate < datagen.day(days))
    )
    return (
        Model(conn, "lineitem")
        .filter(attr.l_shipdate > datagen.day(days))
        .with_join_one(orders, foreign_key=attr.l_orderkey, named="ord", drop_unmatched=True)
        .aggregate(
            groups=[attr.l_orderkey, rel.ord.o_orderdate.named("o_orderdate")],
            measures=[_revenue()],
        )
        .sort(column("revenue"), dir="desc")
        .sort(column("l_orderkey"))
        .limit(10)
    )


def tpch_q3_sql(p):
    segment, days = p
    return f"""
        SELECT l_orderkey, o_orderdate, {REVENUE} AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                      JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = '{segment}' AND o_orderdate < {_d(days)}
          AND l_shipdate > {_d(days)}
        GROUP BY l_orderkey, o_orderdate
        ORDER BY revenue DESC, l_orderkey LIMIT 10"""


def tpch_q10(conn, days):
    nation = Model(conn, "nation").with_primary_key(column("n_nationkey"))
    customer_nat = (
        _customer(conn)
        .with_join_one(nation, foreign_key=attr.c_nationkey, named="nat",
                       drop_unmatched=True, broadcast=True)
        .pick(attr.c_custkey, attr.c_name, attr.c_acctbal, rel.nat.n_name.named("n_name"))
        .with_primary_key(column("c_custkey"))
    )
    orders_cust = (
        Model(conn, "orders")
        .with_primary_key(column("o_orderkey"))
        .filter(attr.o_orderdate >= datagen.day(days))
        .filter(attr.o_orderdate < datagen.day(days + 91))
        .with_join_one(customer_nat, foreign_key=attr.o_custkey, named="cust",
                       drop_unmatched=True)
        .pick(
            attr.o_orderkey,
            rel.cust.c_custkey.named("c_custkey"),
            rel.cust.c_name.named("c_name"),
            rel.cust.c_acctbal.named("c_acctbal"),
            rel.cust.n_name.named("n_name"),
        )
        .with_primary_key(column("o_orderkey"))
    )
    return (
        Model(conn, "lineitem")
        .filter(attr.l_returnflag == "R")
        .with_join_one(orders_cust, foreign_key=attr.l_orderkey, named="ord",
                       drop_unmatched=True)
        .aggregate(
            groups=[
                rel.ord.c_custkey.named("c_custkey"),
                rel.ord.c_name.named("c_name"),
                rel.ord.c_acctbal.named("c_acctbal"),
                rel.ord.n_name.named("n_name"),
            ],
            measures=[_revenue()],
        )
        .sort(column("revenue"), dir="desc")
        .sort(column("c_custkey"))
        .limit(20)
    )


def tpch_q10_sql(days):
    return f"""
        SELECT c_custkey, c_name, c_acctbal, n_name, {REVENUE} AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                      JOIN customer ON o_custkey = c_custkey
                      JOIN nation ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R' AND o_orderdate >= {_d(days)}
          AND o_orderdate < {_d(days + 91)}
        GROUP BY c_custkey, c_name, c_acctbal, n_name
        ORDER BY revenue DESC, c_custkey LIMIT 20"""


class Shape:
    def __init__(self, build, params, ordered=False):
        self.build = build
        self.sql = globals()[build.__name__ + "_sql"]
        self.params = params
        self.ordered = ordered


SHAPES = {
    s.build.__name__: s
    for s in [
        Shape(filter_pick_sort_limit, [10, 40], ordered=True),
        Shape(named_measures, [1000, 2000]),
        Shape(join_one_segment, [1000, 250_000]),
        Shape(join_one_region, [0, 2]),
        Shape(granularity, ["month", "year"]),
        Shape(top_k, [3, 10]),
        Shape(in_subquery, [200_000, 400_000]),
        Shape(tpch_q3, [("BUILDING", 700), ("MACHINERY", 1500)], ordered=True),
        Shape(tpch_q10, [120, 900], ordered=True),
    ]
}
# every shape's first parameter, then its second
KEYS = [(name, s.params[i]) for i in range(2) for name, s in SHAPES.items()]


class Dashboard(ModelWorkload):
    name = "dashboard"
    tables = TABLES
    round_size = len(KEYS)

    def __init__(self, clients: int):
        self.clients = clients

    def warmup_keys(self) -> list:
        return KEYS[: len(SHAPES)]

    def oracle_keys(self) -> list:
        return KEYS

    def schedule(self, rng: np.random.Generator, n: int) -> list:
        return rounds(rng, KEYS, n)

    def model(self, conn, key):
        name, p = key
        return SHAPES[name].build(conn, p)

    def oracle_sql(self, key) -> str:
        name, p = key
        return SHAPES[name].sql(p)

    def ordered(self, key) -> bool:
        return SHAPES[key[0]].ordered
