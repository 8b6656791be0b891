"""``funnel``: the journey-hash funnel family over a generated activity
stream, from one client in a closed loop.

One round asks each shape once (in a seeded order). The stream has
heavy-tailed events per user, so the scan -> one shuffle -> per-user
sorted collect of the match_steps engine dominates and Model compile is a
small share. Answers are checked against the repository's DuckDB twins
(``oracle_queries.ORACLE_SQL``) run over the same parquet file.
"""

from __future__ import annotations

from datetime import timedelta

import numpy as np

from workload import ModelWorkload, rounds
from hashquery_spark import Model, attr, column, func, rel

STEPS = ["signup", "click", "purchase"]


def _events(conn):
    return Model(conn, "events").with_activity_schema(
        group=attr.user_id, timestamp=attr.ts, event_key=attr.event_type
    )


def funnel(conn):
    return _events(conn).funnel(STEPS, top_of_funnel="users")


def funnel_conversion(conn):
    return _events(conn).funnel_conversion_rate(STEPS)


def match_steps_detail(conn):
    """One row per user: the timestamp each step matched at."""
    return _events(conn).match_steps(STEPS).pick(
        attr.user_id,
        rel.signup.ts.named("signup_ts"),
        rel.click.ts.named("click_ts"),
        rel.purchase.ts.named("purchase_ts"),
        attr.last_matched_step_name,
        attr.last_matched_step_index,
    )


def funnel_time_limit(conn):
    return _events(conn).funnel(STEPS, time_limit=timedelta(days=7))


def funnel_partitioned(conn):
    vbucket = func.cases((column("value") > 50, "high"), other="low").named("vbucket")
    return _events(conn).funnel(STEPS, partition_start_events=[vbucket])


def retention_curve(conn):
    return _events(conn).filter(attr.event_type == "purchase").retention(grain="week")


SHAPES = {f.__name__: f for f in [
    funnel, funnel_conversion, match_steps_detail, funnel_time_limit,
    funnel_partitioned, retention_curve,
]}


class Funnel(ModelWorkload):
    name = "funnel"
    tables = ("events",)
    clients = 1
    round_size = len(SHAPES)

    def warmup_keys(self) -> list:
        return list(SHAPES)

    def oracle_keys(self) -> list:
        return list(SHAPES)

    def schedule(self, rng: np.random.Generator, n: int) -> list:
        return rounds(rng, list(SHAPES), n)

    def model(self, conn, key):
        return SHAPES[key](conn)

    def oracle_sql(self, key) -> str:
        from oracle_queries import ORACLE_SQL

        return ORACLE_SQL[key]

    def ordered(self, key) -> bool:
        return False
