"""PropertyGraph: the nodes+edges relational encoding of a property graph.

Reference data model (SURVEY.md §1): ``Student`` nodes with properties
``id, name, address, college, board, stream, interests:array<string>`` and
five derived edge types (SAME_COLLEGE, SAME_BOARD, SAME_STREAM, NEARBY,
SHARES_INTEREST with a ``common:array<string>`` edge property) — see the
authoritative CREATE at
/root/reference/fastapi/services/student_service.py:40-60 and the edge
derivations at /root/reference/fastapi/services/create_relationships.py:16-93.

Spark encoding (GraphX convention): two DataFrames.

- ``nodes``:  id LONG, name STRING, address STRING, college STRING,
              board STRING, stream STRING, interests ARRAY<STRING>
- ``edges``:  src LONG, dst LONG, type STRING, common ARRAY<STRING>
              (canonical orientation src < dst, matching
              create_relationships.py:19)

Edges are stored once in canonical orientation but **queried undirected**
(the reference's LLM relationship template matches ``(a)-[r]-(b)`` with no
arrow, /root/reference/src/llm_cypher.py:88) — use
:meth:`PropertyGraph.edges_undirected` for any lookup.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphdb_neo4j_spark.session import local_rows

NODE_COLUMNS = ["id", "name", "address", "college", "board", "stream", "interests"]
EDGE_COLUMNS = ["src", "dst", "type", "common"]

# The five derived edge types and the node attribute each one joins on.
# SHARES_INTEREST is the array-overlap join (handled separately).
ATTRIBUTE_EDGE_TYPES = {
    "SAME_COLLEGE": "college",
    "SAME_BOARD": "board",
    "SAME_STREAM": "stream",
    "NEARBY": "address",
}
INTEREST_EDGE_TYPE = "SHARES_INTEREST"


def normalize_string(col: F.Column | str) -> F.Column:
    """``lower(trim(coalesce(x, '')))`` — the reference's universal string
    normalization (student_service.py:151-155, create_relationships.py:21)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(F.trim(F.coalesce(c, F.lit(""))))


def normalize_string_array(col: F.Column | str) -> F.Column:
    """Per-element lower/trim, null → empty array
    (student_service.py:215: ``[x IN l | toLower(x)]``)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(
        F.coalesce(c, F.array().cast("array<string>")),
        lambda x: F.lower(F.trim(x)),
    )


@dataclass(frozen=True)
class PropertyGraph:
    """Immutable view over a nodes table and an edges table."""

    nodes: DataFrame
    edges: DataFrame

    def edges_undirected(self) -> DataFrame:
        """Orientation-insensitive edge view (SURVEY.md §1.4, §7.4-H5).

        Edges are created directed / canonical but matched undirected
        (llm_cypher.py:88). Union of both orientations; the canonical store
        keeps one row per pair so this exactly doubles the edge count.
        """
        flipped = self.edges.select(
            F.col("dst").alias("src"),
            F.col("src").alias("dst"),
            "type",
            "common",
        )
        return self.edges.select(*EDGE_COLUMNS).unionByName(flipped)

    def normalized_nodes(self) -> DataFrame:
        """Apply the ingest lowercase/trim invariant to every string column
        (S6, student_service.py:201-220; routes/student_routes.py:28-32).

        Join keys are pre-normalized so every downstream self-join is a plain
        equi-join — the materialized-normalization optimization the reference
        applies at ingest (SURVEY.md §4.1)."""
        n = self.nodes
        return n.select(
            F.col("id").cast("long").alias("id"),
            normalize_string("name").alias("name"),
            normalize_string("address").alias("address"),
            normalize_string("college").alias("college"),
            normalize_string("board").alias("board"),
            normalize_string("stream").alias("stream"),
            normalize_string_array("interests").alias("interests"),
        )

    def with_edges(self, edges: DataFrame) -> "PropertyGraph":
        return PropertyGraph(nodes=self.nodes, edges=edges)


def empty_edges(spark) -> DataFrame:
    """A zero-row, correctly-typed edges DataFrame."""
    return local_rows(spark, [], "src long, dst long, type string, common array<string>")
