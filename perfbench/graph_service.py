"""``graph_service``: one client in a closed loop against the service surface.

Requests go in-process through the WSGI app (``rest.RestApp``) or, where
the REST surface has no route (search, chat), through ``api.GraphService``.
A pass is a fixed sequence of request types, so every seed does the same
kinds of work; the seed sets the Zipf-skewed anchor ids, the search
strings, the chat names and the onboarded students. Each onboard is
followed by a read of the student it wrote, and its derived edges
(``new_edges_for_overlay``, the reference's five MERGEs) are consumed.
"""

from __future__ import annotations

import io
import json
import random
import time
from dataclasses import dataclass
from urllib.parse import urlencode

from pyspark.sql import functions as F

from bench import _consume
from graphdb_neo4j_spark.api import GraphService
from graphdb_neo4j_spark.graph import ATTRIBUTE_EDGE_TYPES, INTEREST_EDGE_TYPE
from graphdb_neo4j_spark.operators import lookup
from graphdb_neo4j_spark.operators.fuzzy import fuzzy_search, fuzzy_search_lev_sql
from graphdb_neo4j_spark.operators.ingest import derive_edges_for_batch
from graphdb_neo4j_spark.operators.recommend import recommend, recommend_oracle_sql
from graphdb_neo4j_spark.rest import RestApp
from graphdb_neo4j_spark.sources.tpch import (
    CUST_PARTS_CTE,
    NODES_CTE,
    customer_interest_pairs,
    customer_nodes,
)

# One pass, in order; each onboard is followed by a read of the student
# it wrote. That is 8 requests: the 35/25/15/10/10/5 service mix rounded
# to a pass that holds every request type. The order is fixed because in
# a cold JVM the first request to reach a code path pays for compiling
# it, so a shuffled order moves time between request types. The chat is
# always the two-name template for the same reason; the one-name
# template's operator (single_student_detail) is timed in the traced run.
PASS = ("lookup", "recommend", "search", "onboard", "recommend", "chat", "db_check")
REQUEST_METRIC = {
    "lookup": "rest.students",
    "recommend": "rest.recommend",
    "onboard": "rest.onboard",
    "db_check": "rest.db_check",
    "search": "api.search_students",
    "chat": "api.chat",
}
# Operators called directly in the traced run, to split a request's cost
# into plan construction and execution.
OPERATOR_CALLS = (
    "operators.recommend.recommend",
    "operators.fuzzy.fuzzy_search",
    "operators.lookup.single_student_detail",
    "operators.ingest.derive_edges_for_batch",
)
NL_CALLS = ("nl.pipeline.NLEngine.register_views", "nl.names.NameDictionary.from_nodes")
ZIPF_S = 1.1


def layer_metrics() -> dict[str, str]:
    """Per-layer metric name → unit for this workload."""
    out = {}
    for prefix in REQUEST_METRIC.values():
        out[f"{prefix}.p50_ms"] = "ms"
        out[f"{prefix}.jobs"] = "count"
        out[f"{prefix}.driver_gap_ms"] = "ms"
    for prefix in OPERATOR_CALLS:
        out[f"{prefix}.construct_ms"] = "ms"
        out[f"{prefix}.execute_ms"] = "ms"
        out[f"{prefix}.jobs"] = "count"
    for prefix in NL_CALLS:
        out[f"{prefix}.wall_ms"] = "ms"
        out[f"{prefix}.jobs"] = "count"
    return out


@dataclass
class Request:
    kind: str
    arg: object = None
    status: int = 0
    body: object = None
    error: str | None = None


def _wsgi(app, method: str, path: str, body: bytes = b"") -> tuple[int, dict]:
    environ = {
        "REQUEST_METHOD": method,
        "PATH_INFO": path,
        "CONTENT_LENGTH": str(len(body)),
        "wsgi.input": io.BytesIO(body),
    }
    status = []
    payload = b"".join(app(environ, lambda s, headers: status.append(s)))
    return int(status[0].split()[0]), json.loads(payload)


def _typo(name: str, rng: random.Random) -> str:
    """The name with one digit replaced: a near miss fuzzy search must fix."""
    i = rng.randrange(len(name) - 4, len(name))
    return name[:i] + str((int(name[i]) + 1) % 10) + name[i + 1:]


class GraphServiceLoad:
    def __init__(self, spark, data_dir: str, n_nodes: int, seed: int):
        self.spark = spark
        self.data_dir = data_dir
        self.rng = random.Random(seed)
        self.service = GraphService(spark, data_dir)
        self.app = RestApp(self.service)
        self._ranked = self.rng.sample(range(n_nodes), n_nodes)
        self._weights = [1.0 / (r + 1) ** ZIPF_S for r in range(n_nodes)]
        self.written: dict[int, dict] = {}  # onboarded id → submitted fields
        self._onboarded = 0

    def _anchor(self) -> int:
        return self.rng.choices(self._ranked, weights=self._weights)[0]

    @staticmethod
    def _name(node_id: int) -> str:
        return f"customer#{node_id:09d}"

    def schedule(self) -> list[Request]:
        reqs = []
        for kind in PASS:
            if kind in ("lookup", "recommend"):
                reqs.append(Request(kind, self._anchor()))
            elif kind == "search":
                reqs.append(Request(kind, _typo(self._name(self._anchor()), self.rng)))
            elif kind == "chat":
                a = self._anchor()
                b = next(x for x in iter(self._anchor, None) if x != a)
                reqs.append(Request(kind, [self._name(a), self._name(b)]))
            elif kind == "onboard":
                # the lookup's id is filled in once the onboard returns
                reqs += [Request(kind, self._new_student()), Request("lookup")]
            else:
                reqs.append(Request(kind))
        return reqs

    def _new_student(self) -> dict:
        like = self._anchor()
        self._onboarded += 1
        return {
            "name": f"Onboarded Student {self._onboarded}",
            "address": f"ADDR_{self.rng.randrange(-2, 20)}",
            "college": f"NATION_{self.rng.randrange(25)}",
            "board": self.rng.choice(["ASIA", "EUROPE", "AFRICA"]),
            "stream": self.rng.choice(["BUILDING", "MACHINERY"]),
            "interests": [str((like * 7 + j) % 200) for j in range(3)],
        }

    def serve(self, req: Request, prev: Request | None) -> None:
        """Send one request and keep its response for the checks."""
        app, svc = self.app, self.service
        if req.kind == "lookup":
            if req.arg is None:  # the read after an onboard
                req.arg = prev.body["student_id"]
            req.status, req.body = _wsgi(app, "GET", f"/api/v1/students/{req.arg}")
        elif req.kind == "recommend":
            req.status, req.body = _wsgi(app, "GET", f"/api/v1/recommend/people/{req.arg}")
        elif req.kind == "onboard":
            form = urlencode(req.arg, doseq=True).encode()
            req.status, req.body = _wsgi(app, "POST", "/api/v1/onboard", form)
            if req.status == 200:
                self.written[req.body["student_id"]] = req.arg
                _consume(svc.new_edges_for_overlay())
        elif req.kind == "db_check":
            req.status, req.body = _wsgi(app, "GET", "/api/v1/db-check")
        elif req.kind == "search":
            req.body = [m.__dict__ for m in svc.search_students(req.arg)]
            req.status = 200
        elif req.kind == "chat":
            a, b = req.arg
            req.body = svc.chat(f"what is the connection between {a} and {b}")
            req.status = 200

    def run_pass(self, tracer) -> tuple[dict, list[Request]]:
        """Serve one pass. Returns (stats per request kind, requests)."""
        reqs = self.schedule()
        stats: dict[str, list] = {}
        prev = None
        for req in reqs:
            try:
                with tracer.call(REQUEST_METRIC[req.kind]) as st:
                    self.serve(req, prev)
            except Exception as e:  # an operation failure, not a harness one
                req.error = repr(e)
                print(f"[perfbench] {req.kind} {req.arg!r} failed: {e!r}", flush=True)
            stats.setdefault(req.kind, []).append(st)
            prev = req
        return stats, reqs

    # -- traced-run extras ---------------------------------------------------

    def operator_calls(self, tracer) -> dict[str, object]:
        """Call the operators under the requests directly, once each, with
        construction and execution timed apart."""
        s, d = self.spark, self.data_dir
        anchor = self._anchor()
        name = self._name(anchor)

        def overlay_batch():
            rows = [
                (i, f["name"].lower(), f["address"].lower(), f["college"].lower(),
                 f["board"].lower(), f["stream"].lower(), f["interests"])
                for i, f in self.written.items()
            ]
            batch = s.createDataFrame(
                rows,
                "id long, name string, address string, college string,"
                " board string, stream string, interests array<string>",
            )
            return derive_edges_for_batch(
                customer_nodes(s, d), customer_interest_pairs(s, d), batch
            )

        builders = {
            "operators.recommend.recommend": lambda: recommend(s, d, anchor_id=anchor, limit=10),
            "operators.fuzzy.fuzzy_search": lambda: fuzzy_search(
                s, d, query=_typo(name, self.rng), threshold=60.0, k=10),
            "operators.lookup.single_student_detail": lambda: lookup.single_student_detail(
                s, d, name),
            "operators.ingest.derive_edges_for_batch": overlay_batch,
        }
        out = {}
        for prefix in OPERATOR_CALLS:
            with tracer.call(prefix) as st:
                t0 = time.perf_counter()
                df = builders[prefix]()
                t1 = time.perf_counter()
                _consume(df)
                st.extra["construct_ms"] = (t1 - t0) * 1e3
                st.extra["execute_ms"] = (time.perf_counter() - t1) * 1e3
            out[prefix] = st
        from graphdb_neo4j_spark.nl.pipeline import NLEngine

        eng = NLEngine(s, d)
        with tracer.call(NL_CALLS[0]) as st:
            eng.register_views()
        out[NL_CALLS[0]] = st
        with tracer.call(NL_CALLS[1]) as st:
            eng.names  # noqa: B018 — first access builds the dictionary
        out[NL_CALLS[1]] = st
        return out

    # -- checks --------------------------------------------------------------

    def check(self, reqs: list[Request], con) -> list[bool]:
        """One verdict per request, in order, plus one for the overlay
        edges every onboard so far derived."""
        verdicts = []
        for req in reqs:
            try:
                verdicts.append(req.error is None and self._check_one(req, con))
            except Exception as e:  # a malformed response is a wrong result
                print(f"[perfbench] check of {req.kind} raised {e!r}", flush=True)
                verdicts.append(False)
        if self.written:
            verdicts.append(self._check_overlay_edges(con))
        return verdicts

    def _node(self, con, node_id: int) -> dict | None:
        cur = con.execute(lookup.point_lookup_sql(node_id))
        row = cur.fetchone()
        if row is None:
            return None
        d = dict(zip([c[0] for c in cur.description], row))
        d["interests"] = [t for t in d["interests"].split(",") if t]
        return d

    def _check_one(self, req: Request, con) -> bool:
        if req.kind == "lookup":
            if req.arg in self.written:
                f = self.written[req.arg]
                want = {k: (v.strip().lower() if isinstance(v, str) else v) for k, v in f.items()}
                want["interests"] = sorted(t.strip().lower() for t in f["interests"])
                want["id"] = req.arg
            else:
                want = self._node(con, req.arg)
            return req.status == 200 and req.body == want
        if req.kind == "recommend":
            cur = con.execute(recommend_oracle_sql(req.arg, 10))
            want = [
                (r[0], r[1], r[7], bool(r[2]), bool(r[3]), bool(r[4]), bool(r[5]), r[6])
                for r in cur.fetchall()
            ]
            got = [
                (s["id"], s["name"], s["score"], s["same_college"], s["same_board"],
                 s["same_stream"], s["nearby"], s["n_common_interests"])
                for s in req.body["students"]
            ]
            return req.status == 200 and got == want
        if req.kind == "search":
            cur = con.execute(fuzzy_search_lev_sql(req.arg, 60.0, 10))
            want = [(i, n, round(sc, 4)) for i, n, sc in cur.fetchall()]
            got = [(m["id"], m["name"], round(m["score"], 4)) for m in req.body]
            return got == want
        if req.kind == "onboard":
            return req.status == 200 and req.body["student_id"] in self.written
        if req.kind == "db_check":
            return req.status == 200 and req.body == {"db_connected": True}
        if req.kind == "chat":
            a, b = (self._node(con, int(n.split("#")[1])) for n in req.arg)
            same = {k: a[k] == b[k] for k in ("college", "board", "stream")}
            return (
                a["name"] in req.body
                and b["name"] in req.body
                and all(f"same_{k}: {v}" in req.body for k, v in same.items())
            )
        raise KeyError(req.kind)

    def _check_overlay_edges(self, con) -> bool:
        """The overlay's derived edges, per type, against the same edges
        computed in DuckDB from the values that were written."""
        import pandas as pd

        rows = [
            (i, f["name"].lower(), f["address"].lower(), f["college"].lower(),
             f["board"].lower(), f["stream"].lower())
            for i, f in self.written.items()
        ]
        con.register("overlay", pd.DataFrame(
            rows, columns=["id", "name", "address", "college", "board", "stream"]))
        con.register("overlay_cp", pd.DataFrame(
            sorted({(i, t.lower()) for i, f in self.written.items() for t in f["interests"]}),
            columns=["id", "interest"]))
        attr = "\nUNION\n".join(
            f"""SELECT least(p.id, n.id) AS src, greatest(p.id, n.id) AS dst,
                      '{etype}' AS type
               FROM probe p JOIN overlay n ON p.{col} = n.{col} AND p.id <> n.id
               WHERE n.{col} IS NOT NULL AND n.{col} <> ''"""
            for etype, col in ATTRIBUTE_EDGE_TYPES.items()
        )
        sql = f"""
WITH {NODES_CTE.strip()},
{CUST_PARTS_CTE.strip()},
probe AS (SELECT id, address, college, board, stream FROM nodes
          UNION ALL SELECT id, address, college, board, stream FROM overlay),
all_cp AS (SELECT id, interest FROM cust_parts UNION SELECT id, interest FROM overlay_cp),
attr AS ({attr}),
interest AS (
    SELECT least(p.id, n.id) AS src, greatest(p.id, n.id) AS dst,
           '{INTEREST_EDGE_TYPE}' AS type
    FROM all_cp p JOIN overlay_cp n ON p.interest = n.interest AND p.id <> n.id
    GROUP BY 1, 2
)
SELECT type, COUNT(*) AS n, SUM(src) AS s, SUM(dst) AS d
FROM (SELECT * FROM attr UNION ALL SELECT * FROM interest) GROUP BY type
"""
        want = sorted((t, n, int(s), int(d)) for t, n, s, d in con.execute(sql).fetchall())
        got = sorted(
            (r["type"], r["n"], int(r["s"]), int(r["d"]))
            for r in self.service.new_edges_for_overlay()
            .groupBy("type")
            .agg(F.count("*").alias("n"), F.sum("src").alias("s"), F.sum("dst").alias("d"))
            .collect()
        )
        return got == want
