"""The session caches of goose_spark/operators/cache.py: concurrent
misses build once, and nested builds do not deadlock."""

from __future__ import annotations


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
