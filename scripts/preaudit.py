#!/usr/bin/env python
"""Pre-audit EVERY queries() entry as if the driver ran it — at sf0.01
(the driver's correctness SF) AND sf0.1 (the bench SF) — using the exact
driver gate from hashquery_spark.parity, plus the one check the driver
doesn't make: a paired oracle whose result set is EMPTY compares green
while verifying nothing (the embedding_near_dup trap from round 1).

Usage:  python scripts/preaudit.py [sf_dir ...]
Writes PREAUDIT.json at the repo root and exits non-zero on any failed
gate or any empty paired result.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402
from hashquery_spark.connection import default_session  # noqa: E402
from hashquery_spark.parity import audit_query, duck_connection  # noqa: E402

# Everything that can change what a declared query computes.
SEMANTIC_SOURCES = (
    "hashquery_spark",
    "__spark_entry__.py",
    "oracle_queries.py",
    "py_twins.py",
)


def source_tree_hash(root: str) -> str:
    """sha256 over every semantics-bearing source file (path + bytes,
    sorted) — recorded into PREAUDIT.json so the freshness CI can detect
    GREEN-BUT-STALE artifacts (r9 verdict #2: the preaudit was committed
    before the round's op changes and the name/green checks couldn't
    see it)."""
    h = hashlib.sha256()
    paths = []
    for top in SEMANTIC_SOURCES:
        p = os.path.join(root, top)
        if os.path.isdir(p):
            for dirpath, _dirs, files in os.walk(p):
                paths.extend(
                    os.path.join(dirpath, fn)
                    for fn in files
                    if fn.endswith(".py")
                )
        elif os.path.isfile(p):
            paths.append(p)
    for fp in sorted(paths):
        h.update(os.path.relpath(fp, root).replace(os.sep, "/").encode())
        h.update(b"\0")
        with open(fp, "rb") as f:
            h.update(f.read())
        h.update(b"\0")
    return h.hexdigest()


def main(sf_dirs):
    spark = default_session("preaudit")
    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    report, failures = {}, []
    for sf_dir in sf_dirs:
        con = duck_connection(sf_dir)
        sf_report = {}
        for name in sorted(queries):
            try:
                res = audit_query(spark, sf_dir, name, queries, oracles, con)
            except Exception as e:  # noqa: BLE001 — report, don't abort the sweep
                res = {"ok": False, "paired": name in oracles,
                       "error": f"{type(e).__name__}: {e}"}
            sf_report[name] = res
            if not res.get("ok"):
                failures.append(f"{sf_dir} {name}: GATE FAILED {res}")
            elif res.get("paired") and not res.get("nonempty"):
                failures.append(f"{sf_dir} {name}: EMPTY paired result — oracle verifies nothing")
            elif not res.get("paired") and not res.get("twinned"):
                failures.append(
                    f"{sf_dir} {name}: neither oracle-paired nor python-"
                    "twinned — 'rows-only' must never mean unchecked"
                )
        n_paired = sum(1 for r in sf_report.values() if r.get("paired"))
        n_twinned = sum(1 for r in sf_report.values() if r.get("twinned"))
        report[sf_dir] = {
            "n_queries": len(queries),
            "n_paired": n_paired,
            "n_twinned": n_twinned,
            "n_paired_or_twinned": n_paired + n_twinned,
            "n_ok": sum(1 for r in sf_report.values() if r.get("ok")),
            "queries": sf_report,
        }
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    report["__meta__"] = {"source_hash": source_tree_hash(root)}
    out = os.path.join(root, "PREAUDIT.json")
    with open(out, "w") as f:
        json.dump(report, f, indent=1, default=str)
    for sf_dir, r in report.items():
        if sf_dir == "__meta__":
            continue
        print(
            f"{sf_dir}: {r['n_ok']}/{r['n_queries']} ok "
            f"({r['n_paired']} paired + {r['n_twinned']} twinned = "
            f"{r['n_paired_or_twinned']}/{r['n_queries']} checked)"
        )
    if failures:
        print("\nFAILURES:")
        for line in failures:
            print(" ", line)
        return 1
    print(f"\nall green; report written to {out}")
    return 0


if __name__ == "__main__":
    dirs = sys.argv[1:] or ["/root/testdata/sf0.01", "/root/testdata/sf0.1"]
    bad = [d for d in dirs if not os.path.isdir(d)]
    if bad:
        print(__doc__)
        print(f"error: not a data directory: {bad}")
        raise SystemExit(2)
    raise SystemExit(main(dirs))
