"""Round-over-round bench regression gate (tools/bench_regression.py).

VERDICT r11 directive #3: the gate must catch a deliberately-injected
slowdown — a query whose wall-clock grows >2x at constant plan — while
NOT flagging plan-changed rewrites, sub-floor jitter, or cross-sf runs.
"""

from __future__ import annotations

import json
import sys

sys.path.insert(0, "/root/repo/tools")

from bench_regression import (  # noqa: E402
    ABS_FLOOR_SEC,
    RATIO_CAP,
    compare,
    plan_rows,
)

PLAN_A = "2 | 0 | 0 | 0 | yes | —"
PLAN_B = "1 | 1 | 0 | 0 | yes | ArrowKernel"


def _snap(queries, plans, sf="/root/testdata/sf0.1"):
    return {"sf": sf, "queries": queries, "plans": plans, "value": sum(queries.values())}


def test_injected_slowdown_is_caught():
    base = _snap({"q_fast": 1.0, "q_ok": 3.0}, {"q_fast": PLAN_A, "q_ok": PLAN_A})
    cur = _snap({"q_fast": 1.0, "q_ok": 3.0}, {"q_fast": PLAN_A, "q_ok": PLAN_A})
    cur["queries"]["q_ok"] = 9.5  # the injected regression: 3.2x, same plan
    fails, notes = compare(cur, base)
    assert [f["query"] for f in fails] == ["q_ok"]
    assert fails[0]["ratio"] > RATIO_CAP
    assert not notes


def test_plan_changed_rewrite_is_note_not_failure():
    base = _snap({"q_rw": 2.0}, {"q_rw": PLAN_A})
    cur = _snap({"q_rw": 6.0}, {"q_rw": PLAN_B})
    fails, notes = compare(cur, base)
    assert not fails
    assert [n["query"] for n in notes] == ["q_rw"]


def test_jitter_below_floor_and_new_queries_pass():
    base = _snap({"q_tiny": 0.1}, {"q_tiny": PLAN_A})
    # 5x ratio but +0.4 s absolute — under ABS_FLOOR_SEC, warm-JVM noise
    cur = _snap({"q_tiny": 0.1 + ABS_FLOOR_SEC / 2, "q_new": 30.0},
                {"q_tiny": PLAN_A, "q_new": PLAN_A})
    fails, notes = compare(cur, base)
    assert not fails and not notes


def test_cross_sf_runs_do_not_compare():
    base = _snap({"q": 1.0}, {"q": PLAN_A}, sf="/root/testdata/sf0.01")
    cur = _snap({"q": 50.0}, {"q": PLAN_A}, sf="/root/testdata/sf0.1")
    fails, notes = compare(cur, base)
    assert not fails
    assert notes and notes[0]["query"] == "<sf-mismatch>"


def test_plan_rows_parse_real_plans_md():
    rows = plan_rows()
    assert len(rows) >= 150  # the full inventory is tabled
    assert "dd1_exact_dedup" in rows


def test_r11_seed_snapshot_is_valid():
    with open("/root/repo/bench_history/bench_full_r11.json") as fh:
        snap = json.load(fh)
    assert snap["sf"] == "/root/testdata/sf0.1"
    assert snap["queries"]["q29_approx_aggregates"] == 13.4183
    assert snap["plans"]["q29_approx_aggregates"]


def test_round_tag_sort_is_numeric(tmp_path):
    """r12 advice: lexicographic filename sort misorders r9 > r12 and
    r99 > r100 — the newest snapshot must be picked by the NUMERIC tag,
    and an unparseable tag must raise, not silently win or lose."""
    import pytest

    from bench_regression import _round_num

    names = ["bench_full_r9.json", "bench_full_r12.json",
             "bench_full_r100.json", "bench_full_r99.json"]
    assert max(names, key=_round_num) == "bench_full_r100.json"
    assert sorted(names, key=_round_num)[0] == "bench_full_r9.json"
    # lexicographic would have picked r99 — pin the failure mode
    assert max(sorted(names)) == "bench_full_r99.json"
    with pytest.raises(ValueError):
        _round_num("bench_full_final.json")


def test_driver_diff_flags_host_state_band():
    """The driver-record diff (VERDICT r12 directive #2) is informational:
    a whole-sweep ratio outside ±30% emits a HOST-STATE note; inside the
    band it reports the ratio without the note; per-query lines cover the
    driver's recorded slowest queries."""
    import bench_regression as br

    cur = {"sf": "/root/testdata/sf0.1", "value": 100.0, "timing": "best-of-2",
           "queries": {"qa": 10.0, "qb": 5.0}}
    # monkeypatch-free: call driver_diff against a synthetic record file
    rec = {"parsed": {"sf": "/root/testdata/sf0.1", "value": 229.0,
                      "queries": {"qa": 23.0}, "loadavg_1m": [14.2, 9.1]}}
    import json as _json
    import os
    import tempfile

    d = tempfile.mkdtemp(prefix="drvdiff-")
    with open(os.path.join(d, "BENCH_r12.json"), "w") as fh:
        _json.dump(rec, fh)
    orig_repo = br.REPO
    try:
        br.REPO = d
        lines = br.driver_diff(cur)
    finally:
        br.REPO = orig_repo
    joined = "\n".join(lines)
    assert "2.29x" in joined
    assert "HOST-STATE" in joined
    assert "driver-diff qa: driver 23.0 s vs builder 10.0 s" in joined
    # in-band record: no HOST-STATE note
    with open(os.path.join(d, "BENCH_r13.json"), "w") as fh:
        _json.dump({"parsed": {"sf": "/root/testdata/sf0.1", "value": 110.0,
                               "queries": {"qb": 5.5}}}, fh)
    try:
        br.REPO = d
        lines = br.driver_diff(cur)
    finally:
        br.REPO = orig_repo
    joined = "\n".join(lines)
    assert "BENCH_r13" in joined  # numeric-newest wins
    assert "HOST-STATE" not in joined


def test_driver_diff_caps_per_query_lines():
    """ADVICE r13: a driver record carrying the FULL ~183-query map must
    not produce ~183 informational lines that bury the HOST-STATE note —
    per-query output is capped to the top-10 by driver seconds, with a
    one-line summary of what was elided."""
    import json as _json
    import os
    import tempfile

    import bench_regression as br

    n = 50
    cur = {"sf": "/root/testdata/sf0.1", "value": 100.0,
           "queries": {f"q{i:03d}": 1.0 for i in range(n)}}
    rec = {"parsed": {"sf": "/root/testdata/sf0.1", "value": 105.0,
                      "queries": {f"q{i:03d}": float(i + 1) for i in range(n)}}}
    d = tempfile.mkdtemp(prefix="drvdiff-cap-")
    with open(os.path.join(d, "BENCH_r13.json"), "w") as fh:
        _json.dump(rec, fh)
    orig_repo = br.REPO
    try:
        br.REPO = d
        lines = br.driver_diff(cur)
    finally:
        br.REPO = orig_repo
    per_q = [ln for ln in lines if ln.startswith("driver-diff q")]
    assert len(per_q) == 10
    # top-by-driver-seconds: the slowest (q049, 50.0 s) leads
    assert "q049" in per_q[0]
    assert any("+40 more queries" in ln for ln in lines)


def test_cache_miss_path_is_locked():
    """ADVICE r13 (medium): two concurrent callers that both miss must
    build exactly once — the loser of the old race left an orphaned
    persisted frame pinned in JVM storage. Exercised with a slow build
    under real threads (no Spark needed: a stub object suffices for
    get_or_compute; get_or_persist shares the same lock + double-check)."""
    import threading
    import time as _time

    from goose_spark.operators.cache import get_or_compute

    class _Ctx:
        applicationId = "app-race"

    class _Spark:
        sparkContext = _Ctx()

    cache: dict = {}
    builds: list[int] = []

    def build():
        builds.append(1)
        _time.sleep(0.05)  # widen the old race window
        return object()

    results: list = []
    threads = [
        threading.Thread(
            target=lambda: results.append(
                get_or_compute(cache, _Spark(), "k", build, label="race")
            )
        )
        for _ in range(8)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(builds) == 1  # exactly one build despite 8 concurrent misses
    assert len({id(r) for r in results}) == 1  # all callers share it


def test_cache_miss_lock_is_reentrant():
    """The miss lock must be an RLock: cached builds NEST (lsh_pairs'
    build calls shingled_docs, both under get_or_*) — a plain Lock
    self-deadlocked the whole bench sweep when first shipped."""
    from goose_spark.operators.cache import get_or_compute

    class _Ctx:
        applicationId = "app-nest"

    class _Spark:
        sparkContext = _Ctx()

    outer: dict = {}
    inner: dict = {}

    def build_outer():
        # nested miss on a DIFFERENT cache while holding the lock
        return get_or_compute(inner, _Spark(), "i", lambda: 42, label="in")

    assert get_or_compute(outer, _Spark(), "o", build_outer, label="out") == 42
