"""PageRank (q84): numpy power-iteration cross-check, rank-mass
conservation, star-graph sanity, agreement of the single-task kernel
with the iterative path, and q84's Spark job budget."""

from __future__ import annotations

import random

import numpy as np

import goose_spark.operators.clusters as clusters
from goose_spark.operators.clusters import PR_DAMPING, PR_ITERS, pagerank
from goose_spark.queries import load_all
from tests.conftest import SF_SMOKE

REG = load_all()


def _numpy_pagerank(edges, iters, d):
    nodes = sorted({x for e in edges for x in e})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    adj = [[] for _ in range(n)]
    deg = np.zeros(n)
    for a, b in edges:
        if a == b:
            continue
        adj[idx[a]].append(idx[b])
        adj[idx[b]].append(idx[a])
        deg[idx[a]] += 1
        deg[idx[b]] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        nr = np.full(n, (1.0 - d) / n)
        for u in range(n):
            share = d * r[u] / deg[u]
            for v in adj[u]:
                nr[v] += share
        r = nr
    return {nodes[i]: r[i] for i in range(n)}


def _random_edges():
    rng = random.Random(11)
    edges = list({(rng.randrange(60), rng.randrange(60)) for _ in range(150)})
    edges = [(a, b) for a, b in edges if a != b]
    # dedupe undirected duplicates the operator's distinct() also removes
    return list({(min(a, b), max(a, b)) for a, b in edges})


def _ranks(df):
    return {r["doc_id"]: r["pr"] for r in df.collect()}


def _assert_close(got, want):
    assert set(got) == set(want)
    for k in got:
        assert abs(got[k] - want[k]) < 1e-6, (k, got[k], want[k])


def test_matches_numpy_power_iteration(spark):
    edges = _random_edges()
    df = spark.createDataFrame(edges, "a_id long, b_id long")
    got = _ranks(pagerank(df))
    _assert_close(got, _numpy_pagerank(edges, PR_ITERS, PR_DAMPING))
    # rank mass is conserved (no dangling nodes in the symmetric closure)
    assert abs(sum(got.values()) - 1.0) < 1e-4


def test_iterative_path_matches_kernel(spark, monkeypatch):
    """Tests normally run the single-task kernel; force the iterative
    path (the one above FAST_PATH_MAX_EDGES) and compare."""
    df = spark.createDataFrame(_random_edges(), "a_id long, b_id long")
    fast = _ranks(pagerank(df))
    monkeypatch.setattr(clusters, "FAST_PATH_MAX_EDGES", -1)
    slow = _ranks(pagerank(df))
    _assert_close(fast, slow)
    assert len(fast) > 0


def test_input_rules_match_iterative_path(spark, monkeypatch):
    """Both paths take distinct over DIRECTED rows and drop self-loops:
    (1, 2) and (2, 1) are two edges (the pair is walked twice each
    way), the repeated (2, 3) is one, and (3, 3) / (5, 5) are dropped —
    node 5 appears in no other row, so it is not ranked at all."""
    rows = [(1, 2), (2, 1), (2, 3), (2, 3), (3, 3), (3, 4), (4, 1), (5, 5)]
    df = spark.createDataFrame(rows, "a_id long, b_id long")
    fast = _ranks(pagerank(df))
    want = _numpy_pagerank([(1, 2), (2, 1), (2, 3), (3, 4), (4, 1)], PR_ITERS, PR_DAMPING)
    _assert_close(fast, want)
    monkeypatch.setattr(clusters, "FAST_PATH_MAX_EDGES", -1)
    _assert_close(_ranks(pagerank(df)), fast)


def _cluster_names(cluster) -> set:
    """Scope names of a stage's RDD operation graph (e.g. "MapInPandas")."""
    names = {cluster.name()}
    it = cluster.childClusters().iterator()
    while it.hasNext():
        names |= _cluster_names(it.next())
    return names


def test_q84_job_budget_and_single_task_kernel(spark):
    """Deterministic guard on q84's Spark overhead: below
    FAST_PATH_MAX_EDGES a call submits at most 4 jobs (the dispatch's
    count, then one job for kernel, sort and collect; 3 today), and the
    stage that runs the kernel has one task."""
    q84 = REG["q84_pagerank"].builder
    q84(spark, SF_SMOKE).collect()  # builds the pair-table cache outside the group
    sc = spark.sparkContext
    group = "test-q84-job-budget"
    sc.setJobGroup(group, "q84 job budget")
    try:
        q84(spark, SF_SMOKE).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job/stage events reach the status store through the async bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    assert 0 < len(jobs) <= 4, sorted(jobs)
    store = sc._jsc.sc().statusStore()
    kernel = []
    for sid in sorted({s for j in jobs for s in tracker.getJobInfo(j).stageIds}):
        info = tracker.getStageInfo(sid)
        # skipped stages (the cached pair table's lineage) ran no task;
        # the status store evicts them first in a long session
        if info is None or info.numCompletedTasks == 0:
            continue
        if "MapInPandas" in _cluster_names(store.operationGraphForStage(sid).rootCluster()):
            kernel.append((info.numTasks, info.numCompletedTasks))
    assert kernel == [(1, 1)]


def test_star_center_dominates(spark):
    edges = [(0, i) for i in range(1, 11)]
    df = spark.createDataFrame(edges, "a_id long, b_id long")
    rows = pagerank(df).collect()
    assert rows[0]["doc_id"] == 0
    assert rows[0]["pr"] > 3 * rows[1]["pr"]


def test_registry_entry_runs(spark):
    out = REG["q84_pagerank"].builder(spark, "/root/testdata/sf0.001").collect()
    assert len(out) > 0
    assert all(r["pr"] > 0 for r in out)
