"""Source rules for the package, checked on its syntax tree (no Spark)."""

from __future__ import annotations

import ast
import os

PACKAGE = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "hashquery_spark")
BROAD = {"Exception", "BaseException"}


def _is_broad(handler: ast.ExceptHandler) -> bool:
    if handler.type is None:
        return True
    types = handler.type.elts if isinstance(handler.type, ast.Tuple) else [handler.type]
    return any(isinstance(t, ast.Name) and t.id in BROAD for t in types)


def _only_passes_or_returns(handler: ast.ExceptHandler) -> bool:
    return all(isinstance(stmt, (ast.Pass, ast.Return)) for stmt in handler.body)


def test_no_broad_handler_swallows_errors():
    """A bare or ``Exception`` handler whose body only passes or returns
    hides every failure behind it, wrong answers included. Catch what the
    guarded call can raise instead."""
    found = []
    for dirpath, _dirs, files in os.walk(PACKAGE):
        for fn in sorted(files):
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            with open(path) as f:
                tree = ast.parse(f.read(), filename=path)
            found.extend(
                f"{os.path.relpath(path, os.path.dirname(PACKAGE))}:{node.lineno}"
                for node in ast.walk(tree)
                if isinstance(node, ast.ExceptHandler)
                and _is_broad(node)
                and _only_passes_or_returns(node)
            )
    assert not found, "broad handlers that swallow errors: " + ", ".join(found)
