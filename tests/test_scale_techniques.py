"""The at-scale paths of the 100 TB design (SCALE.md) against their
fast-path or single-task twins: iterative clustering and PageRank, and
the distributed two-pass prefix sum, verified for result parity."""

from __future__ import annotations


def test_dd6_iterative_path_matches_fast_path(spark, monkeypatch):
    """The at-scale large-star/small-star path must produce exactly the
    clusters the single-task union-find fast path does (sf0.01 corpus);
    the fast path is what tests normally exercise, so force the loop."""
    import goose_spark.operators.clusters as clusters
    from goose_spark.queries import load_all

    from tests.conftest import SF_CORRECT

    fast = load_all()["dd6_dedup_clusters"].builder(spark, SF_CORRECT).collect()
    monkeypatch.setattr(clusters, "FAST_PATH_MAX_EDGES", -1)
    slow = load_all()["dd6_dedup_clusters"].builder(spark, SF_CORRECT).collect()
    assert sorted(map(tuple, fast)) == sorted(map(tuple, slow))
    assert len(fast) > 0


def test_q84_iterative_path_matches_fast_path(spark, monkeypatch):
    """q84's iterative power iteration (above FAST_PATH_MAX_EDGES) ranks
    the same nodes as the single-task numpy kernel, within 1e-6 (sf0.01
    near-dup graph)."""
    import goose_spark.operators.clusters as clusters
    from goose_spark.queries import load_all

    from tests.conftest import SF_CORRECT

    def ranks():
        rows = load_all()["q84_pagerank"].builder(spark, SF_CORRECT).collect()
        return {r["doc_id"]: r["pr"] for r in rows}

    fast = ranks()
    monkeypatch.setattr(clusters, "FAST_PATH_MAX_EDGES", -1)
    slow = ranks()
    assert set(fast) == set(slow) and len(fast) > 0
    assert max(abs(fast[k] - slow[k]) for k in fast) < 1e-6


def test_two_pass_packing_matches_window(spark):
    """The distributed two-pass prefix sum (range partition → partition
    subtotals → per-partition offset + local cumsum) assigns every doc
    the same chunk as sp3's single-task global window."""
    from goose_spark.operators.pipeline import token_chunks_two_pass
    from goose_spark.queries import load_all

    from tests.conftest import SF_CORRECT

    two_pass = {
        (r["doc_id"], r["chunk"])
        for r in token_chunks_two_pass(spark, SF_CORRECT).collect()
    }
    # reference: recompute the window form's per-doc assignment
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from goose_spark.operators.pipeline import _CTX_TOKENS
    from goose_spark.operators.textlib import token_count_ws
    from goose_spark.queries.base import t

    d = t(spark, SF_CORRECT, "documents")
    toks = d.select("doc_id", token_count_ws(F.col("text")).alias("n_tokens"))
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
    ref = {
        (r["doc_id"], r["chunk"])
        for r in toks.withColumn(
            "cum", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
        )
        .select("doc_id", F.floor(F.col("cum") / _CTX_TOKENS).cast("long").alias("chunk"))
        .collect()
    }
    assert two_pass == ref and len(two_pass) > 0


def test_two_pass_quantile_buckets_match_and_balance(spark, tmp_path):
    """Quantile bucket boundaries: identical chunk assignment to the
    uniform form (bucketing-independence), with near-equal bucket row
    counts even on a HEAVILY clustered doc_id space where uniform
    buckets would put everything in one task."""
    import os

    from pyspark.sql import functions as F

    from goose_spark.operators.pipeline import token_chunks_two_pass
    from goose_spark.queries.base import t
    from tests.conftest import SF_CORRECT

    # skewed id space: 99% of ids in [0, 1000), a few at 10**12
    src = t(spark, SF_CORRECT, "documents").limit(400)
    skewed = src.withColumn(
        "doc_id",
        F.when(F.col("doc_id") < 396, F.col("doc_id")).otherwise(
            F.col("doc_id") + F.lit(10**12)
        ),
    )
    sf_dir = str(tmp_path / "skewed")
    skewed.write.parquet(os.path.join(sf_dir, "documents.parquet"))

    uni = {
        (r["doc_id"], r["chunk"])
        for r in token_chunks_two_pass(spark, sf_dir, num_buckets=16).collect()
    }
    qua = {
        (r["doc_id"], r["chunk"])
        for r in token_chunks_two_pass(
            spark, sf_dir, num_buckets=16, bucket_bounds="quantile"
        ).collect()
    }
    assert qua == uni and len(qua) == 400

    # balance: uniform bounds put ~99% of rows in bucket 0; quantile
    # bounds cap the largest bucket near 1/16 of the corpus
    lo, hi = 0, 10**12 + 10**7
    width = (hi - lo + 1) / 16
    probs = [i / 16 for i in range(1, 16)]
    bounds = sorted(set(
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .approxQuantile("doc_id", probs, 0.001)
    ))
    from functools import reduce

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    qpid = reduce(
        lambda acc, ib: F.when(F.col("doc_id") <= F.lit(ib[1]), ib[0]).otherwise(acc),
        reversed(list(enumerate(bounds))),
        F.lit(len(bounds)),
    )
    qcounts = [r["n"] for r in docs.groupBy(qpid.alias("p")).agg(F.count("*").alias("n")).collect()]
    assert max(qcounts) <= 400 / 16 * 3  # no quantile bucket hogs the corpus


def _uf_reference(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return sorted((n, find(n)) for n in parent)


def test_connected_components_diameter_independent(spark):
    """Large-star/small-star must label a LONG CHAIN correctly — the
    adversarial shape for label propagation (diameter ∝ cluster size;
    the retired min-label loop silently mislabeled past its pass
    budget). Graph: a 301-node path with shuffled ids + a 20-clique +
    isolated pairs; reference is driver-side union-find."""
    import random

    from goose_spark.operators.clusters import connected_components

    rng = random.Random(7)
    ids = list(range(1000, 1000 + 301))
    rng.shuffle(ids)
    edges = list(zip(ids, ids[1:]))                      # path, diameter 300
    clique = list(range(5000, 5020))
    edges += [(a, b) for i, a in enumerate(clique) for b in clique[i + 1:]]
    edges += [(9001, 9002), (9003, 9004)]                # tiny components
    rng.shuffle(edges)
    df = spark.createDataFrame(edges, "a_id long, b_id long")
    got = sorted(
        (r["doc_id"], r["cluster_id"])
        for r in connected_components(df).collect()
    )
    assert got == _uf_reference(edges)


def test_connected_components_random_graph(spark):
    import random

    from goose_spark.operators.clusters import connected_components

    rng = random.Random(42)
    edges = [
        (rng.randrange(400), rng.randrange(400)) for _ in range(250)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "a_id long, b_id long")
    got = sorted(
        (r["doc_id"], r["cluster_id"])
        for r in connected_components(df).collect()
    )
    assert got == _uf_reference(edges)
