"""Write-path invariants (S3/S4): batch id allocation, route-level
normalization, incremental edge derivation, MERGE idempotency."""

from pyspark.sql import functions as F

from graphdb_neo4j_spark.operators import ingest
from graphdb_neo4j_spark.operators.edges import merge_edges
from graphdb_neo4j_spark.sources.tpch import customer_nodes


def test_ids_are_dense_above_max(spark, sf_dir):
    nodes = customer_nodes(spark, sf_dir)
    max_id = nodes.agg(F.max("id")).collect()[0][0]
    new_raw = spark.createDataFrame(ingest.DEMO_STUDENTS, ingest.DEMO_SCHEMA)
    batch = ingest.allocate_ids(nodes, ingest.normalize_batch(new_raw))
    ids = sorted(r["id"] for r in batch.collect())
    assert ids == [max_id + 1, max_id + 2, max_id + 3]


def test_batch_normalization(spark):
    new_raw = spark.createDataFrame(ingest.DEMO_STUDENTS, ingest.DEMO_SCHEMA)
    rows = {r["name"]: r for r in ingest.normalize_batch(new_raw).collect()}
    assert "alice example" in rows  # trimmed + lowercased
    assert rows["alice example"]["college"] == "canada"
    assert rows["bob example"]["board"] == "asia"


def test_new_new_edges_derived(spark, sf_dir):
    """alice and carol share college/board/stream and interest '42';
    alice and bob share addr_5 — all five edge types must appear among
    the NEW ids."""
    new_raw = spark.createDataFrame(ingest.DEMO_STUDENTS, ingest.DEMO_SCHEMA)
    nodes_after, new_edges = ingest.ingest_students(spark, sf_dir, new_raw)
    max_existing = customer_nodes(spark, sf_dir).agg(F.max("id")).collect()[0][0]
    between_new = new_edges.filter(
        (F.col("src") > max_existing) & (F.col("dst") > max_existing)
    )
    types = {r["type"] for r in between_new.collect()}
    assert types == {
        "SAME_COLLEGE", "SAME_BOARD", "SAME_STREAM", "NEARBY", "SHARES_INTEREST"
    }
    # the SHARES_INTEREST edge carries the common list (A5 property)
    common = (
        between_new.filter(F.col("type") == "SHARES_INTEREST").collect()[0]["common"]
    )
    assert common == ["42"]


def test_ingest_then_merge_is_idempotent(spark, sf_dir):
    new_raw = spark.createDataFrame(ingest.DEMO_STUDENTS, ingest.DEMO_SCHEMA)
    _, new_edges = ingest.ingest_students(spark, sf_dir, new_raw)
    merged = merge_edges(new_edges, new_edges)
    assert merged.count() == new_edges.count()


def test_create_node_appends_one_row(spark, sf_dir):
    nodes = customer_nodes(spark, sf_dir)
    row = spark.createDataFrame(
        [(999999, "zed user", "addr_0", "canada", "america", "building")],
        "id long, name string, address string, college string, board string, stream string",
    )
    assert ingest.create_node(nodes, row).count() == nodes.count() + 1


def test_part_key_pushdown_keeps_edges(spark, sf_dir, monkeypatch):
    """The batch's part keys reach the lineitem scan as an In() literal.
    The derived edges equal those from the unpruned scan."""
    unpruned_pairs = ingest.customer_interest_pairs_raw

    def run(pushed):
        if not pushed:
            monkeypatch.setattr(
                ingest,
                "customer_interest_pairs_raw",
                lambda spark, sf_dir, part_keys=None: unpruned_pairs(spark, sf_dir),
            )
        new_raw = spark.createDataFrame(ingest.DEMO_STUDENTS, ingest.DEMO_SCHEMA)
        _, edges = ingest.ingest_students(spark, sf_dir, new_raw)
        plan = edges._jdf.queryExecution().executedPlan().toString()
        rows = sorted(
            (r["src"], r["dst"], r["type"], tuple(r["common"] or ())) for r in edges.collect()
        )
        return "In(l_partkey" in plan, rows

    pushed, with_pushdown = run(True)
    pruned_away, without = run(False)
    assert pushed and not pruned_away
    assert with_pushdown == without and len(without) > 0
