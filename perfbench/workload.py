"""What the workloads share: construction by name, the request key
stream, answer comparison and Model-based request execution."""

from __future__ import annotations

import numpy as np

from hashquery_spark.parity import canon_value, compare_frames, pdf_cells


def make_workload(name: str, clients: int):
    if name == "dashboard":
        from dashboard import Dashboard

        return Dashboard(clients)
    if name == "funnel":
        from funnel import Funnel

        return Funnel()
    if name == "curation":
        from curation import Curation

        return Curation()
    raise SystemExit(f"unknown workload {name!r}")


def rounds(rng: np.random.Generator, keys: list, n: int) -> list:
    """At least ``n`` keys in whole rounds, each a seeded permutation of
    ``keys``: every key is asked equally often and the seed sets only the
    order."""
    out: list = []
    while len(out) < n:
        out += [keys[i] for i in rng.permutation(len(keys))]
    return out


def mismatch(got, want, ordered: bool = False) -> str | None:
    """None when ``got`` passes the repository's answer gate
    (``parity.compare_frames``) against ``want`` with the same column
    order, and, for ``ordered`` answers, has its rows in the same order;
    else a one-line reason."""
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    res = compare_frames(got, want)
    if not res["ok"]:
        return (f"{res['spark_rows']} rows vs {res['oracle_rows']}, dtype kinds "
                f"{res['dtype_kinds']}, first mismatches {res['first_mismatches']}")
    if ordered:
        g, w = ([tuple(map(canon_value, r)) for r in pdf_cells(df)] for df in (got, want))
        for i, (rg, rw) in enumerate(zip(g, w)):
            if rg != rw:
                return f"row {i} out of order: {rg} != {rw}"
    return None


class ModelWorkload:
    """A request builds a Model (``model(conn, key)``), compiles it with
    ``Model.run()`` (which calls ``to_df``) and fetches ``RunResults.df``.
    The oracle is DuckDB running ``oracle_sql(key)`` over the same files."""

    def oracle(self, con, key):
        return con.sql(self.oracle_sql(key)).df()

    def execute(self, ctx, key, rid):
        tr = ctx.tracer
        with tr.span("model.compile", request=rid):
            res = self.model(ctx.conn, key).run()
        ctx.plan(res.spark_df, rid)
        with tr.span("run.fetch", request=rid) as s:
            pdf = res.df
            s["rows"] = len(pdf)
        return {"result": pdf, "df": res.spark_df}

    def check(self, key, answer, want) -> str | None:
        return mismatch(answer["result"], want, ordered=self.ordered(key))
