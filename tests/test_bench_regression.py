"""The per-query Spark work gate (tools/bench_regression.py): a rise in
any query's jobs or tasks against the snapshot for the same cpus and sf
fails; lower counts and new queries are notes."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools"))

from bench_regression import compare  # noqa: E402

SNAPSHOT = {"4": {"sf0.1": {"qa": {"jobs": 3, "tasks": 10},
                            "qb": {"jobs": 5, "tasks": 40}}}}


def _current(profile, cpus=4, sf="/data/sf0.1"):
    return {"cpus": cpus, "sf": sf, "profile": profile}


def test_one_extra_job_fails():
    fails, notes = compare(_current({"qa": {"jobs": 4, "tasks": 10},
                                     "qb": {"jobs": 5, "tasks": 40}}), SNAPSHOT)
    assert fails == ["qa: jobs 3 -> 4"] and notes == []


def test_one_extra_task_fails():
    fails, _ = compare(_current({"qa": {"jobs": 3, "tasks": 10},
                                 "qb": {"jobs": 5, "tasks": 41}}), SNAPSHOT)
    assert fails == ["qb: tasks 40 -> 41"]


def test_equal_and_lower_counts_pass_and_lower_is_reported():
    fails, notes = compare(_current({"qa": {"jobs": 3, "tasks": 10},
                                     "qb": {"jobs": 4, "tasks": 32}}), SNAPSHOT)
    assert fails == []
    assert notes == ["qb: jobs 5 -> 4", "qb: tasks 40 -> 32"]


def test_query_missing_from_snapshot_is_a_note():
    fails, notes = compare(_current({"qa": {"jobs": 3, "tasks": 10},
                                     "qnew": {"jobs": 30, "tasks": 900}}), SNAPSHOT)
    assert fails == [] and notes == ["qnew: not in the snapshot"]


def test_no_entry_for_cpus_or_sf_compares_nothing():
    grown = {"qa": {"jobs": 99, "tasks": 999}}
    for cur in (_current(grown, cpus=32), _current(grown, sf="/data/sf0.01")):
        fails, notes = compare(cur, SNAPSHOT)
        assert fails == [] and len(notes) == 1 and "nothing compared" in notes[0]
