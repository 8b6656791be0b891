"""``curation``: one batch curation pass per request over a generated
corpus with planted exact and near duplicates, from one client in a
closed loop.

A pass is ``ops.curate`` -> parquet, then ``ops.minhash_lsh_candidates``
-> ``ops.dedup_clusters`` -> parquet, then a filtered read-back of both
outputs through a Model. It is the only workload that writes, and its
time goes to text expressions and the iterative cluster loop, not to
Model compile. Outputs are checked against the repository's DuckDB twins
(``curation_pipeline``, ``dedup_minhash``; clusters are the connected
components of the twin's pairs) and the generator's planted duplicates.
"""

from __future__ import annotations

import os
import shutil

import duckdb
import numpy as np
import pandas as pd

from workload import mismatch
from hashquery_spark import Model, attr, column, func, rel
from hashquery_spark.ops import curate, dedup_clusters, minhash_lsh_candidates

CURATE = dict(min_quality=0.5, langs=("en",), max_dup_line_ratio=0.5,
              test_fraction=0.1, seed=5)
MINHASH = dict(num_perm=16, bands=4)


def components(pairs: pd.DataFrame) -> pd.DataFrame:
    """(doc_id, cluster_id = smallest id in the doc's connected component)
    over an undirected pair list, by union-find."""
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(pairs["id_a"], pairs["id_b"]):
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return pd.DataFrame(
        [(x, find(x)) for x in sorted(parent)], columns=["doc_id", "cluster_id"]
    ).astype("int64")


def _files(path: str) -> dict:
    parts = [e for e in os.scandir(path) if e.name.endswith(".parquet")]
    return {"files": len(parts), "bytes": sum(e.stat().st_size for e in parts)}


def readback(conn, curated: str, clusters: str):
    """Train-split documents that survive near-dedup (no cluster, or the
    cluster's representative): count and quality total."""
    cl = Model(conn, clusters).with_primary_key(column("doc_id"))
    return (
        Model(conn, curated)
        .with_join_one(cl, foreign_key=attr.doc_id, named="cl")
        .filter(attr.split == "train")
        .filter((rel.cl.cluster_id == None) | (rel.cl.cluster_id == attr.doc_id))  # noqa: E711
        .aggregate(measures=[
            func.count().named("n_docs"),
            func.sum(attr.quality.cast("decimal(18,4)")).cast("double").named("quality_sum"),
        ])
    )


class Curation:
    name = "curation"
    tables = ("documents",)
    clients = 1
    round_size = 1

    # the planted duplicates, as ``datagen.generate`` reported them
    truth: dict

    def warmup_keys(self) -> list:
        return ["pass"]

    def oracle_keys(self) -> list:
        return ["pass"]

    def schedule(self, rng: np.random.Generator, n: int) -> list:
        return ["pass"] * n

    def oracle(self, con: duckdb.DuckDBPyConnection, key) -> dict:
        from oracle_queries import ORACLE_SQL

        cur = con.sql(ORACLE_SQL["curation_pipeline"]).df()
        pairs = con.sql(ORACLE_SQL["dedup_minhash"]).df()
        clusters = components(pairs)
        keep = cur[cur["split"] == "train"].merge(clusters, on="doc_id", how="left")
        keep = keep[keep["cluster_id"].isna() | (keep["cluster_id"] == keep["doc_id"])]
        kept = con.sql("""
            SELECT count(*) AS n_docs,
                   CAST(sum(CAST(quality AS DECIMAL(18,4))) AS DOUBLE) AS quality_sum
            FROM keep""").df()
        return {"curated": cur, "pairs": pairs, "clusters": clusters, "readback": kept}

    def execute(self, ctx, key, rid):
        tr, conn = ctx.tracer, ctx.conn
        out = os.path.join(ctx.out_dir, rid)
        docs = conn.table("documents")
        with tr.span("ops.curate", request=rid):
            cur = curate(docs, "text", "doc_id", **CURATE)
        with tr.span("sink.write", request=rid) as s:
            cur.write.mode("overwrite").parquet(f"{out}/curated")
        if tr.enabled:
            s.update(_files(f"{out}/curated"))
        with tr.span("ops.minhash", request=rid):
            pairs = minhash_lsh_candidates(docs, "text", "doc_id", **MINHASH)
        jobs0 = ctx.group_jobs(rid)
        with tr.span("ops.dedup_clusters", request=rid) as s:
            clusters = dedup_clusters(pairs)
        if tr.enabled:
            s["jobs"] = ctx.group_jobs(rid) - jobs0
        with tr.span("sink.write", request=rid) as s:
            clusters.write.mode("overwrite").parquet(f"{out}/clusters")
        if tr.enabled:
            s.update(_files(f"{out}/clusters"))
        with tr.span("connection.register", request=rid):
            conn.register_parquet(f"curated_{rid}", f"{out}/curated")
            conn.register_parquet(f"clusters_{rid}", f"{out}/clusters")
        with tr.span("model.compile", request=rid):
            res = readback(conn, f"curated_{rid}", f"clusters_{rid}").run()
        ctx.plan(res.spark_df, rid)
        with tr.span("run.fetch", request=rid) as s:
            pdf = res.df
            s["rows"] = len(pdf)
        return {"dir": out, "result": pdf, "df": res.spark_df, "pairs": pairs}

    def check(self, key, answer, want) -> str | None:
        out = answer["dir"]
        got_cur = pd.read_parquet(f"{out}/curated")[list(want["curated"].columns)]
        got_cl = pd.read_parquet(f"{out}/clusters")[["doc_id", "cluster_id"]]
        shutil.rmtree(out, ignore_errors=True)
        for what, got, exp in [
            ("curated", got_cur, want["curated"]),
            ("clusters", got_cl, want["clusters"]),
            ("readback", answer["result"], want["readback"]),
        ]:
            why = mismatch(got, exp)
            if why:
                return f"{what}: {why}"
        return self.check_truth(got_cur, got_cl)

    def check_truth(self, curated: pd.DataFrame, clusters: pd.DataFrame) -> str | None:
        """Planted exact duplicates share one normalized text: all copies
        must land in one cluster, and curation keeps at most one."""
        label = dict(zip(clusters["doc_id"], clusters["cluster_id"]))
        kept = set(curated["doc_id"])
        for group in self.truth["exact_groups"]:
            if len({label.get(d) for d in group}) != 1 or label.get(group[0]) is None:
                return f"exact-duplicate group {group} split across clusters"
            if len(kept.intersection(group)) > 1:
                return f"exact-duplicate group {group} kept twice"
        return None

    def candidate_precision(self, pairs: pd.DataFrame) -> float:
        """Share of candidate pairs that are planted (exact or near) pairs."""
        planted = set()
        for group in self.truth["exact_groups"] + self.truth["near_groups"]:
            planted.update((a, b) for a in group for b in group if a < b)
        found = sum((int(a), int(b)) in planted for a, b in zip(pairs["id_a"], pairs["id_b"]))
        return found / max(len(pairs), 1)
