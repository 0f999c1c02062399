"""A pin that keeps ``iterate.advance`` the package's one round rule.

An iterative operator replaces each materialized round with
``advance(next_round, *spent)``, which releases the spent frames only
after the next round is materialized.  A loop that materializes or
releases frames by hand (``checkpoint_sever``, ``sever_release``,
``localCheckpoint``, ``.cache()``, ``.persist()``) fails here.
"""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parents[1] / "moz_datapipeline_spark"

_HAND_ROLLED = {
    "checkpoint_sever",
    "sever_release",
    "localCheckpoint",
    "cache",
    "persist",
}

# (module, function) allowed to materialize inside a loop, with the reason
_EXEMPT = {
    # each round's single action (the best-pair query) materializes the
    # next round's cache as a side effect; an eager ``advance`` would add
    # one job per round
    ("operators/bpe.py", "bpe_train"),
}


def _called_name(call: ast.Call) -> str | None:
    if isinstance(call.func, ast.Name):
        return call.func.id
    if isinstance(call.func, ast.Attribute):
        return call.func.attr
    return None


def _loop_materializations(tree: ast.AST):
    """Yield (function, line, called name) for each hand-rolled
    materialization inside the body of a for/while loop."""

    def visit(node, func):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        if isinstance(node, (ast.For, ast.AsyncFor, ast.While)):
            for stmt in node.body + node.orelse:
                for sub in ast.walk(stmt):
                    if (
                        isinstance(sub, ast.Call)
                        and _called_name(sub) in _HAND_ROLLED
                    ):
                        yield func, sub.lineno, _called_name(sub)
        for child in ast.iter_child_nodes(node):
            yield from visit(child, func)

    yield from visit(tree, None)


def test_loops_materialize_rounds_only_through_advance():
    offenders, exempt_seen = [], set()
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        if rel == "iterate.py":
            continue
        hits = set(_loop_materializations(ast.parse(path.read_text())))
        for func, line, name in sorted(hits, key=lambda h: h[1]):
            if (rel, func) in _EXEMPT:
                exempt_seen.add((rel, func))
            else:
                offenders.append(f"{rel}:{line} {func}: {name}")
    assert offenders == [], offenders
    # an exemption whose loop no longer materializes is stale
    assert exempt_seen == _EXEMPT
