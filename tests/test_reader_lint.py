"""Static check: registry rows read transactional tables through the log.

A `TransactionalTable` directory can hold parquet files no commit names:
an orphan of a failed stage, or files `optimize()` replaced that
`vacuum()` has not reclaimed yet.  Only `TransactionalTable.read` filters
them out, so a plain `spark.read.parquet` of such a directory can return
duplicate rows.  This test scans `queries.py` with `ast` and fails if a
function hands a path to the transaction log — as `out_dir=` of a
`streaming.stateful` writer, or as the path of a `TransactionalTable` —
and then also reads that same path with `spark.read.parquet`.
"""

from __future__ import annotations

import ast
from pathlib import Path

QUERIES = (
    Path(__file__).resolve().parent.parent
    / "apache_kafka_clickhouse_demo_spark"
    / "queries.py"
)
STATEFUL = "streaming.stateful"


def _stateful_names(tree: ast.Module) -> tuple[set[str], set[str]]:
    """(functions imported from the stateful module, aliases of the
    module itself), from every import anywhere in the file."""
    funcs: set[str] = set()
    modules: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module:
            if node.module.endswith(STATEFUL):
                funcs.update(a.asname or a.name for a in node.names)
            elif node.module.endswith("streaming"):
                modules.update(
                    a.asname or a.name for a in node.names if a.name == "stateful"
                )
        elif isinstance(node, ast.Import):
            modules.update(
                a.asname for a in node.names if a.name.endswith(STATEFUL) and a.asname
            )
    return funcs, modules


def _callee(call: ast.Call) -> tuple[str | None, str | None]:
    """(base name, attribute) of `f(...)` -> (f, None), `m.f(...)` -> (m, f)."""
    fn = call.func
    if isinstance(fn, ast.Name):
        return fn.id, None
    if isinstance(fn, ast.Attribute) and isinstance(fn.value, ast.Name):
        return fn.value.id, fn.attr
    return None, None


def _is_plain_parquet_read(call: ast.Call) -> bool:
    """`<x>.read.parquet(...)` — a DataFrameReader parquet scan."""
    fn = call.func
    return (
        isinstance(fn, ast.Attribute)
        and fn.attr == "parquet"
        and isinstance(fn.value, ast.Attribute)
        and fn.value.attr == "read"
    )


def txlog_paths_read_as_parquet(source: str) -> list[tuple[str, int, str]]:
    """(function, line, path) for every plain parquet read of a path the
    same function gave to the transaction log."""
    tree = ast.parse(source)
    funcs, modules = _stateful_names(tree)
    found = []
    for fn in ast.walk(tree):
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        calls = [n for n in ast.walk(fn) if isinstance(n, ast.Call)]
        owned: set[str] = set()
        for call in calls:
            base, attr = _callee(call)
            if (attr is None and base in funcs) or (
                attr is not None and base in modules
            ):
                owned.update(
                    ast.unparse(k.value) for k in call.keywords if k.arg == "out_dir"
                )
            if attr is None and base == "TransactionalTable":
                if call.args:
                    owned.add(ast.unparse(call.args[0]))
                owned.update(
                    ast.unparse(k.value) for k in call.keywords if k.arg == "path"
                )
        for call in calls:
            if _is_plain_parquet_read(call):
                for arg in call.args:
                    if ast.unparse(arg) in owned:
                        found.append((fn.name, call.lineno, ast.unparse(arg)))
    return found


#: both ways of handing a path to the log, and a log-filtered read that
#: must not be flagged — the checker has to catch the first two
_KNOWN = '''
from apache_kafka_clickhouse_demo_spark.streaming.stateful import url_dedup_stream
from apache_kafka_clickhouse_demo_spark.sources.txlog import TransactionalTable

def q_a(spark, work):
    url_dedup_stream(spark, None, out_dir=f"{work}/kept", store_dir="s", checkpoint="c")
    return spark.read.parquet(f"{work}/kept")

def q_b(spark, work):
    TransactionalTable(f"{work}/idx").append_once(None, txn="t")
    return spark.read.parquet(f"{work}/idx")

def q_ok(spark, work):
    url_dedup_stream(spark, None, out_dir=f"{work}/kept", store_dir="s", checkpoint="c")
    return TransactionalTable(f"{work}/kept").read(spark)
'''


def test_queries_read_txlog_tables_through_the_log():
    assert [(f, p) for f, _ln, p in txlog_paths_read_as_parquet(_KNOWN)] == [
        ("q_a", "f'{work}/kept'"),
        ("q_b", "f'{work}/idx'"),
    ]
    found = txlog_paths_read_as_parquet(QUERIES.read_text())
    assert not found, (
        "plain spark.read.parquet of a TransactionalTable path (read it with "
        "TransactionalTable(path).read(spark)): "
        + ", ".join(f"{f} (queries.py:{ln}, {p})" for f, ln, p in found)
    )
