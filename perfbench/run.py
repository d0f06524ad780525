"""Benchmark entry point: one workload, one fresh Spark session, one JSON line.

    python3 perfbench/run.py --workload graph_analytics --seed 1 --seconds 10 --trace 0

Run from the repository root. The run

1. sets up: starts the engine's session (``session.get_spark``) on
   ``local[<cores>]``, writes the seeded input tables ``SETUP_REPEATS``
   times and scans them once through ``sources.tpch.full_nodes``.
   ``setup_s`` is the time from process start to the first timed
   operation, with the median staging in place of the repeated ones;
2. runs passes of the workload until ``--seconds`` have gone by (at least
   one pass), timing each pass;
3. checks every output it timed against the engine's DuckDB oracle SQL or
   the values written, outside the timed region;
4. records host-noise diagnostics (the ``bench.py`` canary, load average,
   CPU steal time, start time) on a line of their own;
5. prints, as its last line, ``{"correct", "attempted", "failed",
   "metrics"}``: the end-to-end metrics with ``--trace 0``, the per-layer
   metrics with ``--trace 1``.

Everything the run writes (Spark local dirs, checkpoints, DuckDB spill,
temp files, staged tables) lives under ``.perfbench_work/<pid>`` in the
current directory and is removed before the process exits.
"""

from __future__ import annotations

import time

PROCESS_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Input size per workload, as a TPC-H scale factor (150 customers = graph
# nodes at 0.001). Chosen so a cold pass plus session start fits the time
# one run may take; see perfbench/README.md.
SCALE = {"graph_analytics": 0.002, "graph_service": 0.002}
SETUP_REPEATS = 3
DRIVER_MEMORY = "2g"
END_TO_END = {"setup_s": "s", "job_s": "s"}
COMMON_LAYER = {
    "session.get_spark.wall_s": "s",
    "sources.tpch.full_nodes.wall_s": "s",
    "run.job_s": "s",
    "run.exec_cpu_s": "s",
    "run.failed_tasks": "count",
    "run.peak_rss_mb": "MB",
    "run.jvm_live_heap_mb": "MB",
}
# The expression bench.py's canary times; keep the two identical so their
# readings compare.
CANARY_SQL = ("sum(id * 2 + 1) as s", "avg(id % 97) as a")
CANARY_ROWS = 200_000_000


def per_layer_units() -> dict[str, str]:
    import graph_analytics
    import graph_service

    return {**COMMON_LAYER, **graph_analytics.layer_metrics(), **graph_service.layer_metrics()}


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over cores."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _python_rss_mb() -> float:
    """High-water RSS of this (driver) process."""
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def _jvm_peak_rss_mb(jvm_pid: int) -> float:
    with open(f"/proc/{jvm_pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {jvm_pid}")


def _jvm_live_heap_mb(spark) -> float:
    """JVM heap still reachable after a full collection: what the run
    left cached or retained, independent of when the collector ran."""
    jvm = spark._jvm
    for _ in range(2):  # the second pass collects what the first finalized
        jvm.java.lang.System.gc()
    rt = jvm.java.lang.Runtime.getRuntime()
    return (rt.totalMemory() - rt.freeMemory()) / 2**20


class Run:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.spark = None
        self.diag: dict = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "start_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "loadavg_start": os.getloadavg(),
        }
        self._steal0 = _steal_s()
        self.layer: dict[str, float] = {}

    # -- set-up ----------------------------------------------------------------

    def start_session(self) -> None:
        from graphdb_neo4j_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name=f"perfbench_{self.args.workload}",
            extra_conf={
                "spark.local.dir": os.path.join(self.work, "local"),
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                # no hsperfdata file in /tmp: the run writes only under work
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={self.work}/tmp -XX:-UsePerfData"
                ),
            },
        )
        self.layer["session.get_spark.wall_s"] = time.perf_counter() - t0
        self.diag["session_s"] = self.layer["session.get_spark.wall_s"]
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid

    def stage(self, i: int) -> tuple[str, int, float]:
        """Write the seeded tables; returns (dir, node count, seconds)."""
        import datagen

        t0 = time.perf_counter()
        data_dir = os.path.join(self.work, f"data{i}")
        n_nodes = datagen.write_graph_tables(
            data_dir, self.args.seed, SCALE[self.args.workload]
        )
        return data_dir, n_nodes, time.perf_counter() - t0

    def setup(self) -> tuple[str, int]:
        """Session start and the first scan happen once per process;
        staging is repeated and its median counted."""
        from bench import _consume
        from graphdb_neo4j_spark.sources.tpch import full_nodes

        self.start_session()
        stagings = [self.stage(i) for i in range(SETUP_REPEATS)]
        data_dir, n_nodes, _ = stagings[-1]
        stage_s = [s for _, _, s in stagings]
        t0 = time.perf_counter()
        _consume(full_nodes(self.spark, data_dir))
        self.layer["sources.tpch.full_nodes.wall_s"] = time.perf_counter() - t0
        until_first_op = time.perf_counter() - PROCESS_T0
        self.setup_s = until_first_op - sum(stage_s) + _median(stage_s)
        self.diag["setup"] = {
            "stage_s": stage_s,
            "until_first_op_s": until_first_op,
            "nodes": n_nodes,
            "scale": SCALE[self.args.workload],
        }
        return data_dir, n_nodes

    # -- measurement -------------------------------------------------------------

    def measure(self, load, tracer) -> tuple[list[float], list]:
        walls, results = [], []
        t0 = time.perf_counter()
        while True:
            p0 = time.perf_counter()
            results.append(load.run_pass(tracer))
            walls.append(time.perf_counter() - p0)
            if time.perf_counter() - t0 >= self.args.seconds:
                # before the checks, whose DuckDB queries run in this process
                self.python_rss_mb = _python_rss_mb()
                return walls, results

    def canary(self) -> float:
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            self.spark.range(CANARY_ROWS).selectExpr(*CANARY_SQL).collect()
            best = min(best, time.perf_counter() - t0)
        return best

    def stop(self) -> None:
        """Stop the session and wait for the driver JVM to exit."""
        if self.spark is None:
            return
        gateway = self.spark.sparkContext._gateway
        self.spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def run_graph_analytics(r: Run, data_dir: str, n_nodes: int, tracer, con):
    from graph_analytics import CALLS, GraphAnalytics

    load = GraphAnalytics(r.spark, data_dir, n_nodes, r.args.seed)
    walls, results = r.measure(load, tracer)
    attempted = failed = 0
    for stats, outputs in results:
        verdicts = load.check(outputs, con)
        attempted += len(verdicts)
        failed += sum(not ok for ok in verdicts.values())
        r.diag.setdefault("failed_ops", []).extend(k for k, ok in verdicts.items() if not ok)
    r.diag["call_s"] = {name: [stats[name].wall_s for stats, _ in results] for name, _ in CALLS}
    for name, kind in CALLS:
        sts = [stats[name] for stats, _ in results]
        r.layer[f"{name}.wall_s"] = _median([s.wall_s for s in sts])
        r.layer[f"{name}.jobs"] = _median([s.jobs for s in sts])
        r.layer[f"{name}.driver_gap_s"] = _median([s.driver_gap_s for s in sts])
        if kind == "loop":
            for k in ("construct_s", "execute_s"):
                r.layer[f"{name}.{k}"] = _median([s.extra.get(k, 0.0) for s in sts])
        else:
            r.layer[f"{name}.shuffle_mb"] = _median([s.shuffle_mb for s in sts])
            r.layer[f"{name}.spill_mb"] = _median([s.spill_mb for s in sts])
    all_stats = [s for stats, _ in results for s in stats.values()]
    return walls, attempted, failed, all_stats


def run_graph_service(r: Run, data_dir: str, n_nodes: int, tracer, con):
    from graph_service import REQUEST_METRIC, GraphServiceLoad

    load = GraphServiceLoad(r.spark, data_dir, n_nodes, r.args.seed)
    walls, results = r.measure(load, tracer)
    reqs = [q for _, pass_reqs in results for q in pass_reqs]
    verdicts = load.check(reqs, con)
    attempted, failed = len(verdicts), sum(not ok for ok in verdicts)
    r.diag["failed_ops"] = [
        f"{q.kind}:{q.arg!r}" for q, ok in zip(reqs, verdicts) if not ok
    ] + (["overlay_edges"] if len(verdicts) > len(reqs) and not verdicts[-1] else [])
    by_kind: dict[str, list] = {}
    for stats, _ in results:
        for kind, sts in stats.items():
            by_kind.setdefault(kind, []).extend(sts)
    latencies = sorted(s.wall_s * 1e3 for sts in by_kind.values() for s in sts)
    tail = next((p for p in (99, 95, 90, 75) if len(latencies) * (100 - p) / 100 >= 10), None)
    r.diag["requests"] = {
        "loop": "closed, 1 client, no think time",
        "count": len(latencies),
        "p50_ms": _median(latencies),
        # the highest percentile with at least 10 samples beyond it
        "tail_percentile": tail,
        "tail_ms": statistics.quantiles(latencies, n=100)[tail - 1] if tail else None,
        "per_kind_p50_ms": {k: _median([s.wall_s * 1e3 for s in v]) for k, v in by_kind.items()},
    }
    for kind, prefix in REQUEST_METRIC.items():
        sts = by_kind.get(kind, [])
        r.layer[f"{prefix}.p50_ms"] = _median([s.wall_s * 1e3 for s in sts])
        r.layer[f"{prefix}.jobs"] = _median([s.jobs for s in sts])
        r.layer[f"{prefix}.driver_gap_ms"] = _median([s.driver_gap_s * 1e3 for s in sts])
    all_stats = [s for sts in by_kind.values() for s in sts]
    if r.args.trace:
        for prefix, st in load.operator_calls(tracer).items():
            r.layer[f"{prefix}.jobs"] = st.jobs
            if "construct_ms" in st.extra:
                r.layer[f"{prefix}.construct_ms"] = st.extra["construct_ms"]
                r.layer[f"{prefix}.execute_ms"] = st.extra["execute_ms"]
            else:
                r.layer[f"{prefix}.wall_ms"] = st.wall_s * 1e3
    r.diag["overlay_rows"] = len(load.written)
    return walls, attempted, failed, all_stats


WORKLOADS = {
    "graph_analytics": run_graph_analytics,
    "graph_service": run_graph_service,
}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))

    work = os.path.join(os.getcwd(), ".perfbench_work", str(os.getpid()))
    for sub in ("tmp", "local", "duckdb"):
        os.makedirs(os.path.join(work, sub))
    cores = len(os.sched_getaffinity(0))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_CHECKPOINT_DIR": os.path.join(work, "checkpoints"),
        "TMPDIR": os.path.join(work, "tmp"),
        # spark-submit's launcher JVM: no hsperfdata file in /tmp either
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    })
    tempfile.tempdir = os.path.join(work, "tmp")
    sys.path[:0] = [HERE, ROOT]

    r = Run(args, work)
    try:
        import oracle
        from spans import NullTracer, Tracer

        data_dir, n_nodes = r.setup()
        tracer = Tracer(r.spark) if args.trace else NullTracer()
        con = oracle.connect(data_dir, os.path.join(work, "duckdb"))
        t_measure = time.perf_counter()
        walls, attempted, failed, stats = WORKLOADS[args.workload](
            r, data_dir, n_nodes, tracer, con
        )
        r.diag["measure_and_check_s"] = time.perf_counter() - t_measure
        con.close()
        r.diag["pass_s"] = walls
        r.diag["cores"] = cores
        r.diag["canary_s"] = r.canary()
        r.diag["loadavg_end"] = os.getloadavg()
        r.diag["cpu_steal_s"] = _steal_s() - r._steal0
        r.layer["run.peak_rss_mb"] = r.python_rss_mb + _jvm_peak_rss_mb(r.jvm_pid)
        r.layer["run.jvm_live_heap_mb"] = _jvm_live_heap_mb(r.spark)
        r.diag["memory_mb"] = {
            "python_rss": r.python_rss_mb,
            "peak_rss": r.layer["run.peak_rss_mb"],
            "jvm_live_heap": r.layer["run.jvm_live_heap_mb"],
        }
    finally:
        try:
            t_stop = time.perf_counter()
            r.stop()
            r.diag["stop_s"] = time.perf_counter() - t_stop
        finally:
            shutil.rmtree(work, ignore_errors=True)
            parent = os.path.dirname(work)
            if os.path.isdir(parent) and not os.listdir(parent):
                os.rmdir(parent)

    if args.trace:
        r.layer["run.job_s"] = _median(walls)
        r.layer["run.exec_cpu_s"] = sum(s.exec_cpu_s for s in stats) / len(walls)
        r.layer["run.failed_tasks"] = sum(s.failed_tasks for s in stats)
        units = per_layer_units()
        metrics = {k: {"value": r.layer.get(k, 0), "unit": u} for k, u in units.items()}
    else:
        values = {"setup_s": r.setup_s, "job_s": _median(walls)}
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"diagnostics": r.diag}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
