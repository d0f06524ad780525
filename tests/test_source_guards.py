"""Static guards on the per-call fixed costs (no SparkSession needed).

Two call shapes cost a job or a Python-worker start on every evaluation
and have a cheaper equivalent in the package:

- ``spark.createDataFrame(<python rows>)`` builds a Python RDD, so each
  evaluation starts Python workers. Driver rows go through
  ``session.local_rows``, which lands them in the plan as a
  ``LocalRelation``.
- ``spark.read.parquet(...)`` infers the schema with a footer job on
  every read. Source tables go through ``sources.tpch.load_table``,
  which infers once per session.

The guard walks the AST of the query-serving modules, so a regression
fails here rather than first in the benchmark.
"""

from __future__ import annotations

import ast
import os

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "graphdb_neo4j_spark"
)
GUARDED = ("operators", "nl", "api.py", "graph.py")


def _guarded_files() -> list[str]:
    files = []
    for entry in GUARDED:
        path = os.path.join(PKG, entry)
        if os.path.isdir(path):
            files += [
                os.path.join(path, f) for f in sorted(os.listdir(path)) if f.endswith(".py")
            ]
        else:
            files.append(path)
    return files


def _receiver_attrs(node: ast.expr) -> list[str]:
    """Attribute names along a call chain's receiver:
    ``spark.read.schema(s).parquet`` → ['parquet', 'schema', 'read']."""
    names = []
    while True:
        if isinstance(node, ast.Attribute):
            names.append(node.attr)
            node = node.value
        elif isinstance(node, ast.Call):
            node = node.func
        else:
            return names


def violations(source: str, filename: str = "<src>") -> list[str]:
    out = []
    for node in ast.walk(ast.parse(source, filename)):
        if not isinstance(node, ast.Call) or not isinstance(node.func, ast.Attribute):
            continue
        where = f"{os.path.relpath(filename, PKG)}:{node.lineno}"
        if node.func.attr == "createDataFrame":
            out.append(f"{where}: createDataFrame (use session.local_rows)")
        elif node.func.attr == "parquet" and "read" in _receiver_attrs(node.func)[1:]:
            out.append(f"{where}: read.parquet (use sources.tpch.load_table)")
    return out


def test_checker_flags_both_shapes():
    src = (
        "a = spark.createDataFrame([(1, 0)], 'id long, dist int')\n"
        "b = spark.read.parquet(p)\n"
        "c = spark.read.schema(s).parquet(p)\n"
        "d = spark.read.option('mergeSchema', 'true').parquet(p)\n"
        "e = local_rows(spark, [(1, 0)], 'id long, dist int')\n"
        "f = load_table(spark, sf_dir, 'customer')\n"
        "g = df.write.parquet(p)\n"
        "h = spark.readStream.schema(s).parquet(p)\n"
    )
    found = violations(src, os.path.join(PKG, "x.py"))
    assert [v.split(":")[1] for v in found] == ["1", "2", "3", "4"]


def test_guarded_modules_use_local_rows_and_load_table():
    files = _guarded_files()
    assert len(files) > 10
    found = []
    for path in files:
        with open(path) as f:
            found += violations(f.read(), path)
    assert not found, "\n".join(found)
