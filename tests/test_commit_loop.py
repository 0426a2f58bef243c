"""The store has ONE commit retry loop: ``ManifestStore._commit``.

Every write of ``sources/commitlog.py`` publishes through it, so the
publish (``try_commit``), the conflict backoff (``_conflict_backoff``)
and the loser's cleanup (``_discard``) are each called from that one
method, once.  A second call site would be a second retry loop — one
more copy of the protocol for a fix, a tracer phase or a crash hook to
miss.  The check parses the module with ``ast`` — no import, no Spark."""

from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
COMMITLOG = os.path.join(ROOT, "stock_ops_spark", "sources", "commitlog.py")
LOOP_ONLY = ("try_commit", "_conflict_backoff", "_discard")


def _call_sites(tree: ast.Module) -> dict[str, list[str]]:
    """{callee: [enclosing "Class.method" or "function", ...]} for every
    call of a ``LOOP_ONLY`` name, as a plain name or an attribute."""
    sites: dict[str, list[str]] = {name: [] for name in LOOP_ONLY}

    def visit(node: ast.AST, scope: str) -> None:
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.ClassDef):
                visit(child, child.name)
                continue
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                inner = f"{scope}.{child.name}" if scope else child.name
                # a closure is attributed to the method that defines it
                visit(child, scope if "." in scope else inner)
                continue
            if isinstance(child, ast.Call):
                f = child.func
                name = f.attr if isinstance(f, ast.Attribute) else getattr(
                    f, "id", None
                )
                if name in sites:
                    sites[name].append(scope or "<module>")
            visit(child, scope)

    visit(tree, "")
    return sites


def test_commit_protocol_calls_only_inside_the_commit_loop():
    with open(COMMITLOG) as f:
        tree = ast.parse(f.read(), filename=COMMITLOG)
    sites = _call_sites(tree)
    assert sites == {name: ["ManifestStore._commit"] for name in LOOP_ONLY}, (
        "commitlog.py forks the commit loop: "
        + ", ".join(f"{k} called in {v}" for k, v in sites.items())
    )
