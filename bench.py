"""Benchmark harness — runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) and prints ONE JSON line:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {"q1": sec, ...}, "sf": <sf>}

Two-channel output (r9): the stdout line is LEAN (headline, per-query
timings, taint channels, attempt summary) because the driver records
only the last ~2000 chars of stdout — the r2/r8 artifacts exceeded that
and shipped unparseable. The FULL recording (canary slots, loadavg,
per-query min/med dispersion, iterative construct/execute splits,
per-attempt walls) is written to BENCH_DETAIL.json next to this file.

Each query is executed to completion with a CHECKSUM consumer (r11):
``agg(sum(crc32(concat_ws(US, every column cast to string))))`` forces every
output column through the plan without driver-side result transfer
dominating the timing. The historical ``count()`` consumer let Catalyst
PRUNE subtrees that don't affect cardinality — the r10 ``dedup_exact``
episode: bench rows for the old window form priced scan+count only, and
the honest join-included cost only appeared after a rewrite changed the
plan (PLANS.md round-10/-11). ``SPARK_GRAFT_BENCH_CONSUMER=count``
restores the legacy consumer for A/B; the round-11 count-vs-checksum
sweep over all benched queries is recorded in PLANS.md.

Load-contamination guard (round-6): BENCH_r05 was recorded on a host
running concurrent heavy processes and read 1.77x BENCH_r04 with zero code
changes to the regressed queries. Two self-identification channels now ship
with every run so a contaminated recording is visible IN the artifact:

- a pinned CANARY (fixed JVM-only aggregate over range(), code-stable
  across rounds) runs first and again after every 8 queries; the JSON
  reports each canary timing and ``canary_drift`` = max/min. Compare
  canary slots to see WHICH stretch slowed down. (r7: the canary is
  JIT-warmed to steady state before the first slot and each slot is
  best-of-5 — without that, the expression's own ~20-execution warm-up
  ramp baked a ~2x false drift into every artifact.)

  Calibration (r7, measured): the steady-state canary is a ~0.11 s
  32-way job whose wall time is the slowest core, so even min-of-5
  slots on an OTHERWISE IDLE host read drift 1.3-1.55 across repeated
  recordings (30 idle singles spanned 0.135-0.632 s) — this VM has
  neighbor/scheduler jitter the canary cannot average away at 0.1 s
  granularity. Thresholds: drift ≤ ~1.5 = consistent with the measured
  idle noise floor; > ~1.6 = load-tainted, discard and re-record
  (verified discriminative: a recording with drift 2.03 read total
  114 s vs 79-93 s for clean runs of identical code). The r6 "~1.2"
  bar predated the warm-up fix and sat below the instrument's own
  noise floor.
- ``os.getloadavg()`` (1-min) is sampled at each query's start; the JSON
  reports min/mean/max. On this 32-core box a loadavg far above the
  bench's own footprint (~32) flags external load.

Record-until-clean (round-8): two consecutive driver artifacts failed the
canary's own taint bar (r6 drift 2.44, r7 drift 3.21 vs bar 1.6) because
the harness shipped whatever single recording it got. The builder cannot
control driver-time host load, so the harness now retries: run a full
recording, check ``canary_drift``; while tainted (> 1.6), discard and
re-run, up to 3 attempts total. The shipped JSON is the FIRST clean
attempt (or, if all are tainted, the attempt with the LOWEST drift plus
an explicit ``all_attempts_tainted: true`` marker), and every attempt's
drift/total is recorded under ``attempts`` so the selection is auditable.

Host-scale bar (round-14, additive): within-run drift cannot see a
UNIFORMLY slow host (every canary slot slow, ratio flat) — the r13 driver
recording ran at canary_min 0.121 vs its committed reference's 0.105 and
its per-query channel flagged 27 "regressions", ~25 on byte-identical
code. A drift-clean attempt whose ``canary_min`` exceeds 1.25× the newest
committed reference's ``canary_min`` now re-records under the same budget
rules; if every drift-clean attempt is host-slow, the fastest-host one
ships with ``all_attempts_host_tainted: true``. No shipped key changed.
"""

from __future__ import annotations

import gc
import glob
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


# Taint bar for canary_drift (calibrated r7: idle-host floor 1.3-1.55,
# verified discriminative at 1.6 — see the module docstring).
TAINT_BAR = 1.6
MAX_ATTEMPTS = 3
# Retry only while there is wall-clock room for another full attempt: a
# missing artifact (driver kills a long run) is worse than a tainted one.
# The budget is total bench wall; a retry launches only if the elapsed
# time plus the measured cost of the last attempt fits inside it.
TIME_BUDGET_S = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET_S", "1500"))
# "checksum" (default, r11): force every output column through the plan;
# "count": the legacy consumer (Catalyst may prune subtrees — A/B only).
CONSUMER = os.environ.get("SPARK_GRAFT_BENCH_CONSUMER", "checksum")


def latest_reference(directory: str) -> str | None:
    """Path of the committed ``BENCH_r<N>_reference.json`` with the highest
    round number N, or None. Chosen numerically: a lexicographic sort
    puts ``r9`` after ``r10`` (and ``r99`` after ``r100``)."""
    rounds = {}
    for path in glob.glob(os.path.join(directory, "BENCH_r*_reference.json")):
        m = re.fullmatch(r"BENCH_r(\d+)_reference\.json", os.path.basename(path))
        if m:
            rounds[int(m.group(1))] = path
    return rounds[max(rounds)] if rounds else None


def reference_regime_flags(ref: dict, consumer: str = None) -> dict:
    """Classify a committed reference recording's consumer regime against
    this run's (r12, VERDICT r11 #1). Returns the taint-flag dict to merge
    into the artifact:

    - stamp MISSING → ``{"reference_consumer_unknown": True}`` — a pre-r12
      lean recording; its regime is unknowable, so warn-don't-flag (the old
      ``.get("consumer", "count")`` default misread every checksum-era
      recording as count-regime and fired the mismatch flag on EVERY run).
    - stamp PRESENT and ≠ this run's → ``{"consumer_mismatch_vs_reference":
      True}`` — a genuine cross-regime compare (count() lets Catalyst prune
      subtrees checksum pays for; ratios are not comparable).
    - stamp PRESENT and equal → ``{}``.
    """
    if consumer is None:
        consumer = CONSUMER
    ref_consumer = ref.get("consumer")
    if ref_consumer is None:
        return {"reference_consumer_unknown": True}
    if ref_consumer != consumer:
        return {"consumer_mismatch_vs_reference": True}
    return {}


def classify_min_regressions(chosen: dict) -> None:
    """Route the ``min_regressions`` flag channel by reference regime
    (mutates ``chosen``). Cross-regime ratios compare different work
    (count() prunes subtrees checksum pays for), so:

    - stamped mismatch → ``min_regressions_suppressed_cross_regime``
      (ADVICE r11): hard flags would be unactionable.
    - UNSTAMPED reference → ``min_regressions_advisory_unknown_regime``
      (ADVICE r12): *possibly* cross-regime — same unactionable-ratio
      problem, so advisory, not a hard flag.
    - stamped and equal → ``min_regressions`` stays the flag channel.
    """
    if "min_regressions" not in chosen:
        return
    if chosen.get("consumer_mismatch_vs_reference"):
        chosen["min_regressions_suppressed_cross_regime"] = chosen.pop(
            "min_regressions"
        )
    elif chosen.get("reference_consumer_unknown"):
        chosen["min_regressions_advisory_unknown_regime"] = chosen.pop(
            "min_regressions"
        )


def _consume(df) -> None:
    """Run the query to completion under the selected consumer. The
    checksum form prices the WHOLE declared plan: count() lets Catalyst
    drop column-only work (windows, projections, even whole join branches
    when cardinality is provable), so a benched plan could silently cost
    less than any real consumer would pay (r10 dedup_exact episode)."""
    if CONSUMER == "count":
        df.count()
        return
    from pyspark.sql import functions as F

    row_str = F.concat_ws(
        "\x1f", *[F.col(c).cast("string") for c in df.columns]
    )
    df.agg(F.sum(F.crc32(row_str))).collect()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]

    from graphdb_neo4j_spark.registry import bench_queries
    from graphdb_neo4j_spark.session import get_spark

    spark = get_spark(app_name="graphdb_neo4j_spark_bench")
    # JVM/codegen warmup so the first measured query isn't charged for
    # executor-thread spin-up and whole-stage-codegen compiler init.
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    # Arrow/Python-worker warmup: the first Arrow-batched Python eval in a
    # session pays worker spin-up + Arrow init (~3-4 s measured); without
    # this the alphabetically-first UDF query absorbs it.
    spark.range(32).repartition(32).mapInPandas(
        lambda batches: batches, "id long"
    ).collect()
    # Parquet-scan warmup: the first file scan pays FileSourceStrategy,
    # footer-reader and scan-codegen lazy init (~0.3-0.5 s measured) —
    # without this the alphabetically-first query (ann_search) absorbs it
    # and reads 2-3x its steady state in the artifact.
    spark.read.parquet(f"{sf_dir}/region.parquet").count()

    def _canary_once() -> float:
        # Fixed CPU-bound JVM-only work: one wide codegen'd aggregate over
        # a range scan, no shuffle, no Python. NEVER change this expression
        # — cross-round comparability is the point.
        t0 = time.perf_counter()
        spark.range(200_000_000).selectExpr(
            "sum(id * 2 + 1) as s", "avg(id % 97) as a"
        ).collect()
        return time.perf_counter() - t0

    def canary() -> float:
        # best-of-5 so a slot reflects sustained host load, not a
        # scheduler/GC hiccup: the steady-state canary is a ~0.11 s
        # 32-way job, so its wall time = the slowest core — ONE busy
        # core inflates a single run by ~30%, and only the min of
        # several runs converges on host capacity (measured idle-host
        # singles range 0.14-0.63 s). ~0.6 s per slot, 8 slots.
        return round(min(_canary_once() for _ in range(5)), 3)

    # The canary expression has its OWN JIT warm-up curve: measured on an
    # idle host it ramps 0.63 → 0.14 s over ~20 executions (tiered
    # compilation keeps improving the generated loop), which used to bake
    # a ~2× "drift" into every artifact regardless of host state
    # (BENCH_r06's 2.44 drift was partly this instrument artifact, not
    # only load). Warm a fixed 20 executions (~3 s; the ramp is not
    # monotone, so an early-break heuristic under-warms), then keep
    # warming while still improving (cap 10 more) so every recorded slot
    # measures the same steady-state code.
    warm_min = min(_canary_once() for _ in range(20))
    for _ in range(10):
        x = _canary_once()
        if x >= warm_min:
            break
        warm_min = x

    # Iterative queries construct their plan with a driver-side loop that
    # runs jobs (BFS frontiers, pagerank/LPA iterations, star-collapse,
    # BPE merge training) — most of their wall time is CONSTRUCTION
    # (analysis + per-iteration job overhead), not the final count().
    # Report the split so a round-over-round regression in DATA cost
    # isn't masked by fixed ANALYSIS cost (r6 verdict #8).
    iterative = {
        "bfs_unbounded",
        "bpe_train",
        "graph_components",
        "label_propagation",
        "pagerank_factored",
        "pagerank_ppr",
    }
    # Queries with a measured multi-rep warm-in beyond the iterative
    # JIT effect: stream_asof's first execution in a session is ~2.9×
    # its steady state (5.9 s → 2.0 s over 4 reps, r13 adjudication —
    # streaming micro-batch machinery + memory-sink init), so the same
    # unpriced warm-up applies.
    warm_up = iterative | {"stream_asof"}

    def record() -> dict:
        """One full recording pass over every bench query; returns the
        artifact dict (the retry loop below decides whether to ship it).

        best-of-2 per query: a single pass is hostage to transient host
        load (observed 1.6× total swing between back-to-back runs with
        identical code); the min of two passes is the standard
        steady-state timing and still charges every per-query
        plan+execute cost."""
        timings: dict[str, float] = {}
        splits: dict[str, dict[str, float]] = {}
        errors: dict[str, str] = {}
        canaries: list[float] = [canary()]
        loadavgs: list[float] = []
        dispersion: dict[str, dict[str, float]] = {}
        for qi, (name, fn) in enumerate(sorted(bench_queries().items())):
            loadavgs.append(round(os.getloadavg()[0], 2))
            reps: list[float] = []
            best = None
            best_split: tuple[float, float] | None = None
            # Unpriced warm-up rep for the construct-dominated iterative
            # queries (r13, VERDICT r12 #1): their driver-side
            # plan-construction loop JITs over the FIRST execution in a
            # session (~2.2× steady state, measured in the r12
            # adjudication of pagerank_factored), so a single-attempt
            # driver recording priced exactly that first-rep ramp and
            # flagged a phantom regression two rounds running. One
            # discarded execution moves every priced rep to steady
            # state; queries outside the warm_up set skip it (their
            # construct is one plan analysis, not a JIT-sensitive job
            # loop or streaming-machinery init).
            if name in warm_up:
                try:
                    _consume(fn(spark, sf_dir))
                except Exception:
                    pass  # the priced rep below reports the error path
                spark.catalog.clearCache()
                gc.collect()
            # Sub-second queries are hostage to VM noise: r8's verdict
            # chased 2x "regressions" on 0.2-1.2 s queries whose code was
            # byte-identical to r7. Give them a 3rd rep so the shipped min
            # reflects steady state, and ship min/med dispersion per query
            # so a wide spread self-identifies as noise (VERDICT r8 #4).
            # ADAPTIVE: the 3rd rep runs only when the first two DISAGREE
            # (spread > 1.25) — an unconditional 3rd rep added ~1-2 min
            # per attempt, enough to push two attempts past the retry
            # budget and silently disable record-until-clean.
            for rep in range(3):
                if rep == 2 and (
                    best is None
                    or best >= 1.0
                    or max(reps) / max(min(reps), 1e-9) <= 1.25
                ):
                    break
                t0 = time.perf_counter()
                try:
                    df = fn(spark, sf_dir)
                    t1 = time.perf_counter()
                    _consume(df)
                    t2 = time.perf_counter()
                    elapsed = t2 - t0
                    reps.append(elapsed)
                    if best is None or elapsed < best:
                        best = elapsed
                        best_split = (t1 - t0, t2 - t1)
                except Exception as e:  # one broken query must not zero the bench
                    errors[name] = f"{type(e).__name__}: {e}"[:300]
                    print(f"BENCH ERROR {name}: {errors[name]}", file=sys.stderr)
                    break
            if best is not None:
                timings[name] = round(best, 3)
                srt = sorted(reps)
                mid = len(srt) // 2
                med = srt[mid] if len(srt) % 2 else (srt[mid - 1] + srt[mid]) / 2
                dispersion[name] = {
                    "min": round(srt[0], 3),
                    "med": round(med, 3),
                }
                if name in iterative and best_split is not None:
                    splits[name] = {
                        "construct_s": round(best_split[0], 3),
                        "execute_s": round(best_split[1], 3),
                    }
            # Steady-state isolation: queries localCheckpoint/cache
            # intermediates and streaming runs leave memory-sink tables;
            # unreleased, they pile up across the ~40 bench queries and
            # late-alphabet queries pay the GC thrash (observed 2-4×
            # inflation on stream_asof/training_filter vs the same query in
            # a fresh session). Python gc triggers py4j detach so the
            # ContextCleaner can drop the blocks; clearCache drops explicit
            # caches; System.gc() compacts before the next timing.
            spark.catalog.clearCache()
            gc.collect()
            spark.sparkContext._jvm.System.gc()
            if (qi + 1) % 8 == 0:
                canaries.append(canary())
        canaries.append(canary())

        total = round(sum(timings.values()), 3)
        out = {
            "metric": "headline_queries_total",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            "canary": canaries,
            "canary_drift": round(max(canaries) / max(min(canaries), 1e-9), 3),
            # cross-RUN channel: within-run drift misses a UNIFORM slowdown
            # (every slot slow, ratio flat); compare canary_min across
            # recordings/rounds instead — measured clean-host floor ~0.10 s,
            # and a uniformly-slow run (total 113 s vs 81 s twin) read 0.121.
            "canary_min": round(min(canaries), 3),
            # self-describing recordings: a checksum-consumed timing is
            # not comparable to a count-consumed one for pruning-divergent
            # plans (PLANS.md round-11 sweep)
            "consumer": CONSUMER,
            "loadavg": {
                "min": min(loadavgs),
                "mean": round(sum(loadavgs) / len(loadavgs), 2),
                "max": max(loadavgs),
            },
        }
        if dispersion:
            out["dispersion"] = dispersion
        if splits:
            out["iterative_split"] = splits
        if errors:
            out["errors"] = errors
        return out

    # ---- record-until-clean (r8) ----
    # A recording whose canary_drift exceeds the taint bar measured HOST
    # LOAD, not the code under test; discard it and re-record (up to
    # MAX_ATTEMPTS), shipping the first clean attempt. Every attempt's
    # drift/total ships in the JSON so the selection is auditable; if all
    # attempts are tainted, ship the lowest-drift one plus an explicit
    # ``all_attempts_tainted`` marker. A query ERROR is code, not load —
    # ship immediately (retrying cannot fix it and must not mask it).
    attempts: list[dict] = []
    walls: list[float] = []
    chosen: dict | None = None
    bench_t0 = time.perf_counter()
    # Host-scale taint bar (r14, VERDICT r13 #3/#8): within-run drift
    # misses a UNIFORMLY slow host (every canary slot slow, ratio flat) —
    # the r13 driver recording ran at canary_min 0.121 vs its reference's
    # 0.105 and its per-query channel flagged 27 "regressions", ~25 of
    # them on byte-identical code. The canary is the same JVM-only job in
    # every recording, so canary_min(now)/canary_min(reference) IS the
    # host-speed ratio; an attempt slower than HOST_SCALE_BAR re-records
    # exactly like a drift-tainted one (same budget rules). Additive: the
    # drift bar, attempt list, and all shipped keys are unchanged; a run
    # whose every attempt is merely host-slow ships the fastest-host one
    # with an explicit ``all_attempts_host_tainted`` marker.
    HOST_SCALE_BAR = 1.25
    _ref_canary_min = None
    try:
        _reffile = latest_reference(os.path.dirname(os.path.abspath(__file__)))
        if _reffile:
            with open(_reffile) as _f:
                _ref_canary_min = json.load(_f).get("canary_min")
    except (OSError, ValueError):
        _ref_canary_min = None
    for _ in range(MAX_ATTEMPTS):
        att_t0 = time.perf_counter()
        rec = record()
        att_wall = time.perf_counter() - att_t0
        attempts.append(rec)
        walls.append(att_wall)
        if rec.get("errors"):
            # A query ERROR is code, not load — ship immediately. If the
            # errored attempt is ALSO load-tainted, say so explicitly so
            # downstream consumers need not re-derive it from canary_drift
            # (ADVICE r8).
            if rec["canary_drift"] > TAINT_BAR:
                rec["tainted"] = True
            chosen = rec
            break
        if rec["canary_drift"] <= TAINT_BAR:
            _hs = (
                rec["canary_min"] / _ref_canary_min
                if _ref_canary_min
                else None
            )
            if _hs is None or _hs <= HOST_SCALE_BAR:
                chosen = rec
                break
            rec["host_tainted"] = round(_hs, 3)
            if len(attempts) < MAX_ATTEMPTS and (
                time.perf_counter() - bench_t0 + att_wall <= TIME_BUDGET_S
            ):
                print(
                    f"BENCH HOST-TAINTED attempt {len(attempts)}: canary_min "
                    f"{rec['canary_min']} is {_hs:.2f}x the reference's "
                    f"{_ref_canary_min} (> {HOST_SCALE_BAR}), re-recording",
                    file=sys.stderr,
                )
                continue
            break
        # Budget check BEFORE announcing a re-record: the old order printed
        # "re-recording" and then immediately shipped when the budget was
        # exhausted — misleading stderr (ADVICE r8).
        if time.perf_counter() - bench_t0 + att_wall > TIME_BUDGET_S:
            print(
                f"BENCH BUDGET: attempt {len(attempts)} tainted (drift "
                f"{rec['canary_drift']} > {TAINT_BAR}) but no room for "
                f"another ~{att_wall:.0f}s attempt inside "
                f"{TIME_BUDGET_S:.0f}s, shipping best so far",
                file=sys.stderr,
            )
            break
        if len(attempts) < MAX_ATTEMPTS:
            print(
                f"BENCH TAINTED attempt {len(attempts)}: canary_drift "
                f"{rec['canary_drift']} > {TAINT_BAR}, re-recording",
                file=sys.stderr,
            )
    if chosen is None:
        drift_clean = [r for r in attempts if r["canary_drift"] <= TAINT_BAR]
        if drift_clean:
            # every drift-clean attempt ran on a uniformly slow host:
            # ship the fastest-host one (lowest canary_min), marked
            chosen = min(drift_clean, key=lambda r: r["canary_min"])
            chosen["all_attempts_host_tainted"] = True
        else:
            chosen = min(attempts, key=lambda r: r["canary_drift"])
            chosen["all_attempts_tainted"] = True
    chosen["attempts"] = [
        {
            "canary_drift": r["canary_drift"],
            "canary_min": r["canary_min"],
            "total": r["value"],
            # recording wall (reps + canaries + gc), the budget's unit —
            # auditable so a rep-policy change that eats the retry room
            # is visible in the artifact itself
            "wall_s": round(w, 1),
            "selected": r is chosen,
        }
        for r, w in zip(attempts, walls)
    ]

    # ---- min-vs-reference deltas (r10, VERDICT r9 #7) ----
    # Compare this recording's per-query MIN against the newest COMMITTED
    # clean reference recording (BENCH_r*_reference.json) so a verdict can
    # separate code regressions from host drift in one line: dispersion
    # min vs min is the noise-resistant channel (the r9 verdict spent a
    # paragraph arguing three +8-12% medians were drift — this makes that
    # call mechanical). Full table in BENCH_DETAIL.json; the lean line
    # carries only the worst few ratios.
    _ref_path = latest_reference(os.path.dirname(os.path.abspath(__file__)))
    if _ref_path and chosen["sf"] == 0.1:
        try:
            with open(_ref_path) as f:
                _ref = json.load(f)
            _ours = {
                q: d["min"] for q, d in chosen.get("dispersion", {}).items()
            }
            # host normalization (r11, VERDICT r10 #2): the raw ratio
            # conflates code with host speed — r10's recording ran on a
            # host ~30-48% slower than its committed reference
            # (canary_min 0.073 → 0.108 within one day) and the raw
            # channel flagged three untouched queries. The canary is the
            # same JVM-only job in both recordings, so
            # canary_min(now)/canary_min(ref) IS the host-speed ratio;
            # ratio_norm divides it out. Flagging uses the NORMALIZED
            # ratio; both ship so the raw channel stays auditable.
            # Regime guard (r12 fix, VERDICT r11 #1): see
            # reference_regime_flags — missing stamp warns, a genuinely
            # different stamp flags.
            chosen.update(reference_regime_flags(_ref))
            if chosen.get("reference_consumer_unknown"):
                print(
                    "BENCH reference lacks a consumer stamp (pre-r12 "
                    "recording); regime compare is advisory",
                    file=sys.stderr,
                )
            _ref_canary = _ref.get("canary_min") or 0
            host_scale = (
                round(chosen["canary_min"] / _ref_canary, 3)
                if _ref_canary
                else None
            )
            deltas = {}
            for q, ref_t in _ref.get("queries", {}).items():
                if q in _ours and ref_t > 0:
                    d = {
                        "min": _ours[q],
                        "ref": ref_t,
                        "ratio": round(_ours[q] / ref_t, 3),
                    }
                    if host_scale:
                        d["ratio_norm"] = round(d["ratio"] / host_scale, 3)
                    deltas[q] = d
            chosen["min_vs_reference"] = {
                "file": os.path.basename(_ref_path),
                "host_scale": host_scale,
                "deltas": deltas,
            }
            _key = "ratio_norm" if host_scale else "ratio"
            worst = sorted(
                deltas.items(), key=lambda kv: -kv[1][_key]
            )[:3]
            chosen["min_regressions"] = {
                q: d[_key] for q, d in worst if d[_key] > 1.15
            }
            if host_scale:
                chosen["min_regressions_host_scale"] = host_scale
            # Cross-regime ratios compare different work (count() prunes
            # subtrees checksum pays for) — suppress the flagging channel
            # rather than emit unactionable "regressions"; the full delta
            # table still ships in BENCH_DETAIL.json under the mismatch
            # flag (ADVICE r11).
            classify_min_regressions(chosen)
        except (OSError, ValueError, KeyError) as e:
            print(f"BENCH reference compare skipped ({e})", file=sys.stderr)

    # ---- two-channel output (r9) ----
    # The driver records only the LAST ~2000 chars of stdout: the r2 and
    # r8 artifacts both exceeded that and shipped UNPARSEABLE (truncated
    # head, parsed: null) — and the r9 dispersion field would have pushed
    # the line to ~4.7k. So the stdout line is a LEAN artifact guaranteed
    # to fit (headline + per-query timings + taint channels), and the
    # full recording — canary slots, loadavg, per-query dispersion,
    # iterative splits, attempt walls — is written to BENCH_DETAIL.json
    # next to this file, where the end-of-round commit preserves it.
    repo_dir = os.path.dirname(os.path.abspath(__file__))
    detail_path = os.path.join(repo_dir, "BENCH_DETAIL.json")
    # Clobber guard (r12, VERDICT r11 #7): every bench invocation —
    # including 1-second budget-capped shape checks — used to overwrite
    # the committed recording, forcing a `git checkout` dance before each
    # commit. If BENCH_DETAIL.json is git-tracked AND unmodified (i.e. it
    # IS a deliberately committed recording), divert this run's detail to
    # BENCH_DETAIL_latest.json unless SPARK_GRAFT_BENCH_DETAIL=overwrite
    # explicitly opts in. A dirty or untracked file is working state and
    # is overwritten as before.
    if os.environ.get("SPARK_GRAFT_BENCH_DETAIL") != "overwrite":
        try:
            import subprocess

            probe = subprocess.run(
                ["git", "-C", repo_dir, "status", "--porcelain", "--",
                 "BENCH_DETAIL.json"],
                capture_output=True, text=True, timeout=10,
            )
            tracked = subprocess.run(
                ["git", "-C", repo_dir, "ls-files", "--error-unmatch",
                 "BENCH_DETAIL.json"],
                capture_output=True, text=True, timeout=10,
            )
            if (
                probe.returncode == 0
                and not probe.stdout.strip()
                and tracked.returncode == 0
                and os.path.exists(detail_path)
            ):
                detail_path = os.path.join(repo_dir, "BENCH_DETAIL_latest.json")
                print(
                    "BENCH DETAIL: committed BENCH_DETAIL.json is git-clean; "
                    "writing BENCH_DETAIL_latest.json instead "
                    "(set SPARK_GRAFT_BENCH_DETAIL=overwrite to replace it)",
                    file=sys.stderr,
                )
        except Exception:
            pass  # no git / sandbox: plain overwrite, the legacy behavior
    try:
        with open(detail_path, "w") as f:
            json.dump(chosen, f)
    except OSError as e:
        # The stdout line is the driver contract — a detail-write failure
        # (read-only checkout, disk full) must not prevent shipping it.
        print(f"BENCH DETAIL WRITE FAILED ({e}); stdout line only", file=sys.stderr)
    lean = {
        "metric": chosen["metric"],
        "value": chosen["value"],
        "unit": chosen["unit"],
        "queries": chosen["queries"],
        "sf": chosen["sf"],
        "canary_drift": chosen["canary_drift"],
        "canary_min": chosen["canary_min"],
        # regime stamp (r12, VERDICT r11 #1): the lean line IS the format
        # committed as BENCH_r*_reference.json, so it must carry its
        # consumer or every future regime compare misreads it
        "consumer": chosen["consumer"],
        "attempts": [
            {"drift": a["canary_drift"], "total": a["total"], "sel": a["selected"]}
            for a in chosen["attempts"]
        ],
        "detail": os.path.basename(detail_path),
    }
    for flag in (
        "all_attempts_tainted",
        "all_attempts_host_tainted",
        "tainted",
        "errors",
        "consumer_mismatch_vs_reference",
        "reference_consumer_unknown",
    ):
        if chosen.get(flag):
            lean[flag] = chosen[flag]
    if "min_regressions" in chosen:
        # worst min-vs-committed-reference ratios (>1.15 only, ≤3),
        # canary-NORMALIZED when the reference carries canary_min (r11):
        # the one-line noise-vs-code channel; full table (raw + norm)
        # in BENCH_DETAIL.json
        lean["min_regressions"] = chosen["min_regressions"]
        if "min_regressions_host_scale" in chosen:
            lean["host_scale"] = chosen["min_regressions_host_scale"]
    line = json.dumps(lean)
    if len(line) > 1900:  # belt-and-braces: never ship an unparseable line
        lean.pop("min_regressions", None)
        lean.pop("attempts", None)
        line = json.dumps(lean)
    print(line)
    print(f"BENCH full detail written to {detail_path}", file=sys.stderr)
    spark.stop()
    # non-zero exit still signals the failure to the driver, but the JSON
    # line above preserves every healthy query's timing (round-2 lesson:
    # one broken family zeroed the whole bench)
    if chosen.get("errors"):
        sys.exit(1)
    # NOTE: the lean stdout line drops per-query dispersion / loadavg /
    # canary slots / iterative splits — ALWAYS read BENCH_DETAIL.json for
    # those; the stdout artifact exists to survive the driver's tail
    # capture window.


if __name__ == "__main__":
    main()
