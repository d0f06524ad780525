"""``graph_analytics``: one batch job over the people graph.

A pass is the six calls below, each consumed through ``bench._consume``.
Four of them are driver-side loops (PPR, components, LPA, BFS) whose
wall time is mostly plan construction and job launch; the other two are
single-plan, shuffle-bound calls. The seed sets the generated graph, the
PPR seed node and the BFS source.
"""

from __future__ import annotations

import random
import time

from pyspark.sql import functions as F

from bench import _consume
from graphdb_neo4j_spark.operators import edges, graphalgo, paths

import oracle

# Fewer rounds than the operators' defaults (5 and 4), so a cold pass fits
# the time one run may take; each round still runs the same loop body.
PPR_ITERATIONS = 3
LPA_ITERATIONS = 2
# (metric prefix, kind): "loop" calls report construct/execute,
# "data" calls report shuffle/spill.
CALLS = (
    ("operators.edges.derive_all_edges", "data"),
    ("operators.graphalgo.q_degree_stats", "data"),
    ("operators.graphalgo.q_pagerank_ppr", "loop"),
    ("operators.graphalgo.q_graph_components", "loop"),
    ("operators.graphalgo.q_label_propagation", "loop"),
    ("operators.paths.q_bfs_unbounded", "loop"),
)


def layer_metrics() -> dict[str, str]:
    """Per-layer metric name → unit for this workload."""
    out = {}
    for name, kind in CALLS:
        out[f"{name}.wall_s"] = "s"
        out[f"{name}.jobs"] = "count"
        out[f"{name}.driver_gap_s"] = "s"
        if kind == "loop":
            out[f"{name}.construct_s"] = "s"
            out[f"{name}.execute_s"] = "s"
        else:
            out[f"{name}.shuffle_mb"] = "MB"
            out[f"{name}.spill_mb"] = "MB"
    return out


class GraphAnalytics:
    def __init__(self, spark, data_dir: str, n_nodes: int, seed: int):
        rng = random.Random(seed)
        self.spark = spark
        self.data_dir = data_dir
        self.ppr_seed = rng.randrange(n_nodes)
        self.bfs_source = rng.randrange(n_nodes)
        self.n_nodes = n_nodes

    def _builders(self):
        s, d = self.spark, self.data_dir
        return (
            lambda: edges.derive_all_edges(s, d),
            lambda: graphalgo.q_degree_stats(s, d),
            lambda: graphalgo.q_pagerank_ppr(
                s, d, seed_id=self.ppr_seed, iterations=PPR_ITERATIONS
            ),
            lambda: graphalgo.q_graph_components(s, d),
            lambda: graphalgo.q_label_propagation(s, d, iterations=LPA_ITERATIONS),
            lambda: paths.q_bfs_unbounded(s, d, source_id=self.bfs_source),
        )

    def run_pass(self, tracer) -> tuple[dict, dict]:
        """Run the six calls once. Returns (per-call stats, outputs); an
        output is None when its call raised."""
        stats, outputs = {}, {}
        for (name, _), build in zip(CALLS, self._builders()):
            try:
                with tracer.call(name) as st:
                    t0 = time.perf_counter()
                    df = build()
                    t1 = time.perf_counter()
                    _consume(df)
                    st.extra["construct_s"] = t1 - t0
                    st.extra["execute_s"] = time.perf_counter() - t1
                outputs[name] = df
            except Exception as e:  # an operation failure, not a harness one
                print(f"[perfbench] {name} failed: {e!r}", flush=True)
                outputs[name] = None
            stats[name] = st
        return stats, outputs

    def check(self, outputs: dict, con) -> dict[str, bool]:
        """Each output against the DuckDB oracle for the same parameters,
        plus the invariants the oracles do not state."""
        ok = {}
        for name, df in outputs.items():
            ok[name] = df is not None and self._check_one(name, df, con)
        return ok

    def _check_one(self, name: str, df, con) -> bool:
        if name == "operators.edges.derive_all_edges":
            df = df.groupBy("type").agg(F.count("*").alias("n_edges"))
        rows = df.collect()
        cols = df.columns
        if name == "operators.edges.derive_all_edges":
            return oracle.same_as_oracle(con, edges.EDGE_COUNTS_SQL, cols, rows)
        if name == "operators.graphalgo.q_degree_stats":
            return oracle.same_as_oracle(con, graphalgo.DEGREE_STATS_SQL, cols, rows)
        ids = [r["id"] for r in rows]
        one_row_per_node = len(ids) == len(set(ids)) == self.n_nodes
        if name == "operators.graphalgo.q_pagerank_ppr":
            mass = sum(r["rank"] for r in rows)
            sql = graphalgo.pagerank_ppr_sql(
                seed_id=self.ppr_seed, iterations=PPR_ITERATIONS
            )
            return (
                one_row_per_node
                and abs(mass - 1.0) < 1e-6
                and oracle.same_as_oracle(con, sql, cols, rows)
            )
        if name == "operators.graphalgo.q_graph_components":
            sql = graphalgo.graph_components_sql()
            return one_row_per_node and oracle.same_as_oracle(con, sql, cols, rows)
        if name == "operators.graphalgo.q_label_propagation":
            sql = graphalgo.label_propagation_sql(iterations=LPA_ITERATIONS)
            return one_row_per_node and oracle.same_as_oracle(con, sql, cols, rows)
        if name == "operators.paths.q_bfs_unbounded":
            dist = {r["id"]: r["dist"] for r in rows}
            sql = paths.bfs_unbounded_sql(source_id=self.bfs_source)
            return dist.get(self.bfs_source) == 0 and oracle.same_as_oracle(
                con, sql, cols, rows
            )
        raise KeyError(name)
