"""A pin that keeps ``sources.readers.read_parquet`` the one way the
package opens a flat Parquet layout.

``spark.read.parquet(path)`` runs a Spark job to infer the schema;
``read_parquet`` reads it from one footer on the driver instead.  A
``<reader>.read.parquet(...)`` call in the package or the driver file
fails here unless it reads a partitioned layout, which ``read_parquet``
refuses, and is named below with its layout.
"""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parents[1]

# (file, function) allowed to call ``spark.read.parquet``: each reads a
# Hive-partitioned layout, whose partition columns come from the
# directory names
_PARTITIONED = {
    # the posting store, partitioned by term bucket ``tb``
    ("moz_datapipeline_spark/operators/retrieval.py", "search_posting_store"),
    # the IVF index's ``lists``, partitioned by ``list_pid``
    ("moz_datapipeline_spark/operators/similarity.py", "ivf_topk_indexed"),
    # the signature store's ``sigs/sb=K`` and ``bands/bb=K``
    ("moz_datapipeline_spark/operators/incremental.py", "compact_partitioned_dir"),
    ("moz_datapipeline_spark/operators/incremental.py", "prune_signature_store"),
    ("moz_datapipeline_spark/operators/incremental.py", "incremental_dedup"),
}


def _read_parquet_calls(tree: ast.AST):
    """Yield (function, line) for each ``<x>.read.parquet(...)`` call."""

    def visit(node, func):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "parquet"
            and isinstance(node.func.value, ast.Attribute)
            and node.func.value.attr == "read"
        ):
            yield func, node.lineno
        for child in ast.iter_child_nodes(node):
            yield from visit(child, func)

    yield from visit(tree, None)


def test_flat_parquet_reads_go_through_read_parquet():
    files = sorted((ROOT / "moz_datapipeline_spark").rglob("*.py"))
    files.append(ROOT / "__spark_entry__.py")
    offenders, allowed_seen = [], set()
    for path in files:
        rel = path.relative_to(ROOT).as_posix()
        if rel == "moz_datapipeline_spark/sources/readers.py":
            continue
        for func, line in _read_parquet_calls(ast.parse(path.read_text())):
            if (rel, func) in _PARTITIONED:
                allowed_seen.add((rel, func))
            else:
                offenders.append(f"{rel}:{line} {func}")
    assert offenders == [], offenders
    # an allowed site that no longer reads Parquet is stale
    assert allowed_seen == _PARTITIONED
