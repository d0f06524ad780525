"""Harness-level tests for bench.py (no SparkSession needed).

r12 (VERDICT r11 #1): the consumer-regime guard used to default a missing
stamp to "count", permanently false-positiving against every checksum-era
lean recording (which omitted the stamp). These tests pin the fixed
contract: missing stamp → advisory "unknown", present-but-different →
genuine mismatch flag, equal → clean. They also pin that the committed
r11 reference is now stamped, so the false positive cannot recur from the
artifact side either.
"""

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402


def test_missing_stamp_is_unknown_not_mismatch():
    flags = bench.reference_regime_flags({"queries": {}}, consumer="checksum")
    assert flags == {"reference_consumer_unknown": True}
    assert "consumer_mismatch_vs_reference" not in flags


def test_genuine_cross_regime_still_flags():
    flags = bench.reference_regime_flags(
        {"consumer": "count"}, consumer="checksum"
    )
    assert flags == {"consumer_mismatch_vs_reference": True}


def test_same_regime_is_clean():
    assert bench.reference_regime_flags(
        {"consumer": "checksum"}, consumer="checksum"
    ) == {}


def test_committed_reference_recordings_are_stamped():
    # Every checksum-era committed reference must carry its regime stamp;
    # r11 was re-stamped (known-checksum per PLANS.md round-11). Pre-r11
    # recordings are count-era and legitimately unstamped (the guard
    # treats them as unknown, which is the honest answer).
    newest = bench.latest_reference(REPO)
    assert newest, "no committed reference recordings found"
    with open(newest) as f:
        d = json.load(f)
    assert d.get("consumer") in ("checksum", "count"), (
        f"{os.path.basename(newest)} lacks a consumer stamp — the regime "
        "guard will report unknown on every run"
    )


def test_reference_chosen_by_round_number(tmp_path):
    # A lexicographic sort puts r9 after r10 and r99 after r100; the
    # newest reference is the highest round number. Non-reference
    # recordings beside them are ignored.
    assert bench.latest_reference(str(tmp_path)) is None
    for name in ("BENCH_r9_reference.json", "BENCH_r10_reference.json",
                 "BENCH_r99_reference.json", "BENCH_r100_reference.json",
                 "BENCH_r200.json", "BENCH_r300_c8.json"):
        (tmp_path / name).write_text("{}")
    assert os.path.basename(bench.latest_reference(str(tmp_path))) == (
        "BENCH_r100_reference.json"
    )
    (tmp_path / "BENCH_r100_reference.json").unlink()
    (tmp_path / "BENCH_r99_reference.json").unlink()
    assert os.path.basename(bench.latest_reference(str(tmp_path))) == (
        "BENCH_r10_reference.json"
    )


def test_min_regressions_advisory_when_reference_unstamped():
    # ADVICE r12: unstamped reference → *possibly* cross-regime; hard
    # flags would be unactionable, so they move to an advisory key.
    chosen = {
        "reference_consumer_unknown": True,
        "min_regressions": {"q1": 1.4},
    }
    bench.classify_min_regressions(chosen)
    assert "min_regressions" not in chosen
    assert chosen["min_regressions_advisory_unknown_regime"] == {"q1": 1.4}


def test_min_regressions_suppressed_on_stamped_mismatch():
    chosen = {
        "consumer_mismatch_vs_reference": True,
        "min_regressions": {"q1": 1.4},
    }
    bench.classify_min_regressions(chosen)
    assert "min_regressions" not in chosen
    assert chosen["min_regressions_suppressed_cross_regime"] == {"q1": 1.4}


def test_min_regressions_kept_same_regime():
    chosen = {"min_regressions": {"q1": 1.4}}
    bench.classify_min_regressions(chosen)
    assert chosen["min_regressions"] == {"q1": 1.4}


def test_bench_detail_latest_is_untracked():
    # VERDICT r12 #3: the clobber-guard's diversion target must not be
    # git-tracked, or every stray bench run dirties the working tree.
    import subprocess

    tracked = subprocess.run(
        ["git", "-C", REPO, "ls-files", "--error-unmatch",
         "BENCH_DETAIL_latest.json"],
        capture_output=True, text=True,
    )
    assert tracked.returncode != 0, (
        "BENCH_DETAIL_latest.json is git-tracked — stray bench runs will "
        "dirty the tree (gitignore it; BENCH_DETAIL.json is the committed "
        "recording)"
    )
