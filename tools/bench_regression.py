"""Per-query Spark work gate: jobs and tasks must not rise.

  python3 tools/bench_regression.py snapshot
      Record BENCH_FULL.json's per-query ``profile`` counts in
      bench_history/profile.json as {cpus: {sf: {query: {jobs, tasks}}}},
      beside any other cpus/sf entries already there.

  python3 tools/bench_regression.py check
      Exit 1 when any query ran more Spark jobs or tasks than the
      snapshot for the same cpus and sf. Lower counts and queries the
      snapshot does not hold are printed as notes. With no entry for
      this cpus/sf nothing is compared.

Usage: python3 bench.py && python3 tools/bench_regression.py check
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_FULL = os.path.join(REPO, "BENCH_FULL.json")
SNAPSHOT = os.path.join(REPO, "bench_history", "profile.json")
COUNTS = ("jobs", "tasks")


def _key(full: dict) -> tuple[str, str]:
    return str(full["cpus"]), os.path.basename(os.path.normpath(full["sf"]))


def compare(current: dict, snapshot: dict) -> tuple[list[str], list[str]]:
    """(failures, notes) of BENCH_FULL-shaped ``current`` against
    ``snapshot`` ({cpus: {sf: {query: counts}}})."""
    cpus, sf = _key(current)
    base = snapshot.get(cpus, {}).get(sf)
    if base is None:
        return [], [f"no snapshot for cpus={cpus} {sf}: nothing compared"]
    fails, notes = [], []
    for name, prof in sorted(current["profile"].items()):
        if name not in base:
            notes.append(f"{name}: not in the snapshot")
            continue
        for c in COUNTS:
            was, now = base[name][c], prof[c]
            if now != was:
                (fails if now > was else notes).append(f"{name}: {c} {was} -> {now}")
    return fails, notes


def main() -> int:
    cmd = sys.argv[1:]
    if cmd not in (["snapshot"], ["check"]):
        print(__doc__)
        return 2
    with open(BENCH_FULL) as fh:
        current = json.load(fh)
    snapshot = {}
    if os.path.exists(SNAPSHOT):
        with open(SNAPSHOT) as fh:
            snapshot = json.load(fh)
    if cmd == ["snapshot"]:
        cpus, sf = _key(current)
        snapshot.setdefault(cpus, {})[sf] = {
            q: {c: p[c] for c in COUNTS} for q, p in current["profile"].items()}
        with open(SNAPSHOT, "w") as fh:
            json.dump(snapshot, fh, indent=1, sort_keys=True)
        print(f"snapshot: {len(current['profile'])} queries at cpus={cpus} {sf}")
        return 0
    fails, notes = compare(current, snapshot)
    for line in notes:
        print(f"NOTE {line}")
    for line in fails:
        print(f"FAIL {line}")
    print(f"checked {len(current['profile'])} queries: {len(fails)} rose, {len(notes)} notes")
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
