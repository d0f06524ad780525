"""Per-call fixed costs: driver rows as LocalRelations, and source-table
schemas inferred once per session.

- ``session.local_rows`` must give a JVM ``LocalRelation`` (no Python RDD,
  so no Python-worker start per evaluation) for every shape the engine
  builds on the driver: a one-row seed, an empty frame, and a batch with
  an ``array<string>`` column.
- ``sources.tpch.load_table`` must run the schema-inference job once per
  session and table, re-infer when the file changes, and re-infer in a
  new session.
"""

from __future__ import annotations

import itertools

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import StructType

from graphdb_neo4j_spark.api import GraphService, StudentCreate
from graphdb_neo4j_spark.operators import ingest
from graphdb_neo4j_spark.session import local_rows
from graphdb_neo4j_spark.sources.tpch import load_table

_group = itertools.count()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _root_node(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().getClass().getSimpleName()


def _no_rdd(df) -> bool:
    plans = _optimized(df) + df._jdf.queryExecution().executedPlan().toString()
    return "LogicalRDD" not in plans and "ExistingRDD" not in plans


def _jobs(spark, fn):
    """(result, number of Spark jobs ``fn`` started)."""
    sc = spark.sparkContext
    group = f"fixed-costs-{next(_group)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize(
    "rows, schema",
    [
        ([(1, 0)], "id long, dist int"),
        ([], "g_attr string, g_val string"),
        (
            [(7, "ann", ["42", "100"]), (8, None, []), (9, "cy", None)],
            "id long, name string, interests array<string>",
        ),
    ],
    ids=["one_row_seed", "empty", "array_batch"],
)
def test_local_rows_is_a_local_relation(spark, rows, schema):
    df = local_rows(spark, rows, schema)
    assert _root_node(df) == "LocalRelation"
    assert df.schema == StructType.fromDDL(schema)
    assert [tuple(r) for r in df.collect()] == rows


def test_local_rows_without_arrow_conf(spark):
    # A caller-supplied session may have the Arrow conversion conf off;
    # the Arrow-table path does not depend on it.
    s = spark.newSession()
    s.conf.set("spark.sql.execution.arrow.pyspark.enabled", "false")
    df = local_rows(s, [(1, 0)], "id long, dist int")
    assert _root_node(df) == "LocalRelation"
    assert df.collect()[0]["dist"] == 0


@pytest.mark.parametrize(
    "schema", ["t timestamp", "id long, ts array<timestamp>", "s struct<t: timestamp>"]
)
def test_local_rows_refuses_timestamps(spark, schema):
    # Arrow would read a naive datetime as UTC; the list path reads it in
    # the session time zone. Refuse rather than shift the values.
    with pytest.raises(TypeError, match="TimestampType"):
        local_rows(spark, [], schema)


def test_overlay_nodes_have_no_rdd(spark, sf_dir):
    svc = GraphService(spark, sf_dir)
    new_id = svc.save_student(
        StudentCreate("Zed Overlay", "addr_5", "canada", "america", "building", ("42",))
    )
    nodes = svc._nodes()
    assert _no_rdd(nodes), _optimized(nodes)
    assert nodes.filter(f"id = {new_id}").count() == 1
    edges = svc.new_edges_for_overlay()
    assert _no_rdd(edges), _optimized(edges)


def test_ingest_ceiling_batch_is_a_local_relation(spark, sf_dir):
    # The largest batch ingest_students still returns to the driver.
    n = 100_000
    rows = [(f"bulk {i:06d}", "addr_0", "", "", "", []) for i in range(n)]
    new_raw = local_rows(spark, rows, ingest.DEMO_SCHEMA)
    nodes_after, _ = ingest.ingest_students(spark, sf_dir, new_raw)
    assert _no_rdd(nodes_after)
    base = load_table(spark, sf_dir, "customer").count()
    assert nodes_after.count() == base + n


def test_second_read_starts_no_job(spark, tmp_path):
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["a", "b"]}),
                   tmp_path / "region.parquet")
    first, jobs_first = _jobs(spark, lambda: load_table(spark, str(tmp_path), "region"))
    second, jobs_second = _jobs(spark, lambda: load_table(spark, str(tmp_path), "region"))
    assert jobs_first >= 1  # the inference job the memo removes
    assert jobs_second == 0
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())


def test_rewritten_table_is_inferred_again(spark, tmp_path):
    path = tmp_path / "region.parquet"
    pq.write_table(pa.table({"r_regionkey": [0, 1]}), path)
    assert load_table(spark, str(tmp_path), "region").columns == ["r_regionkey"]
    pq.write_table(pa.table({"r_regionkey": [5], "r_comment": ["new"]}), path)
    df = load_table(spark, str(tmp_path), "region")
    assert df.columns == ["r_regionkey", "r_comment"]
    assert [tuple(r) for r in df.collect()] == [(5, "new")]


def test_new_session_infers_again(spark, tmp_path):
    pq.write_table(pa.table({"r_regionkey": [0]}), tmp_path / "region.parquet")
    load_table(spark, str(tmp_path), "region")
    other = spark.newSession()
    _, jobs_other = _jobs(other, lambda: load_table(other, str(tmp_path), "region"))
    _, jobs_again = _jobs(other, lambda: load_table(other, str(tmp_path), "region"))
    assert jobs_other >= 1
    assert jobs_again == 0
