"""operators/pq.py — product-quantized ANN: recall floor, compression
claim, and determinism."""

from __future__ import annotations

from pyspark.sql import functions as F

from goose_spark.queries import load_all
from tests.conftest import SF_CORRECT, in_job_group
import pytest

# excluded from the DEFAULT pytest run (pytest.ini deselects
# 'slowsuite' so 'python -m pytest tests/ -x -q' completes inside
# the grading driver's window — r15 directive 5); tools/partest.py
# and 'pytest -m ""' still run it
pytestmark = pytest.mark.slowsuite

REGISTRY = load_all()


def test_pq_recall_vs_bruteforce(spark):
    """ADC over 8-byte codes + the exact refine of topk×4 candidates
    must recall most of the exact top-10. Floor raised 0.6 → 0.85 in
    round 11 on the measured curve (RECALL_CURVES.md ss6 table: 0.95 @
    sf0.001 / 0.97 @ sf0.01 at the production m=8, bits=8, refine=4
    point; raw ADC alone measures 0.53-0.62)."""
    exact = REGISTRY["ss1_cosine_topk_bruteforce"].builder(spark, SF_CORRECT).collect()
    approx = REGISTRY["ss6_ann_pq"].builder(spark, SF_CORRECT).collect()
    truth, got = {}, {}
    for r in exact:
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in approx:
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [len(truth[q] & got.get(q, set())) / len(truth[q]) for q in truth]
    avg = sum(recalls) / len(recalls)
    assert avg >= 0.85, f"PQ recall too low: {avg:.2f} ({recalls})"


def test_pq_codes_are_8_bytes(spark):
    from goose_spark.operators.pq import PQ_M, encode_corpus, train_codebooks
    from goose_spark.operators.similarity import _DIM, _embeddings

    v = _embeddings(spark, SF_CORRECT)
    books = train_codebooks(v)
    codes = encode_corpus(v, books)
    stats = codes.agg(
        F.count("*").alias("n"),
        F.max(F.length("code")).alias("mx"),
        F.min(F.length("code")).alias("mn"),
    ).collect()[0]
    assert stats["mx"] == stats["mn"] == PQ_M  # 64× smaller than dim*8 doubles
    assert stats["n"] == v.count()
    assert _DIM * 8 // PQ_M == 64  # 512 raw bytes -> 8 code bytes: 64x


def test_pq_deterministic(spark):
    a = [tuple(r) for r in REGISTRY["ss6_ann_pq"].builder(spark, SF_CORRECT).collect()]
    b = [tuple(r) for r in REGISTRY["ss6_ann_pq"].builder(spark, SF_CORRECT).collect()]
    assert a == b and len(a) > 0


def test_ivfpq_recall_and_pruned_scan(spark):
    """IVF+PQ composition: recall clears the IVF floor (the exact
    refine step restores ordering), the ADC scan's plan reads code but
    NOT emb (column pruning), and the cell read is partition-pruned."""
    import re

    exact = REGISTRY["ss1_cosine_topk_bruteforce"].builder(spark, SF_CORRECT).collect()
    approx = REGISTRY["ss7_ann_ivfpq"].builder(spark, SF_CORRECT).collect()
    truth, got = {}, {}
    for r in exact:
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in approx:
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [len(truth[q] & got.get(q, set())) / len(truth[q]) for q in truth]
    avg = sum(recalls) / len(recalls)
    # floor raised 0.6 → 0.75 in round 11 on the measured curve
    # (RECALL_CURVES.md ss7 table: 0.84 @ sf0.001 / 0.82 @ sf0.01 at
    # the production nprobe=3, refine=4 point)
    assert avg >= 0.75, f"IVFPQ recall too low: {avg:.2f} ({recalls})"

    from goose_spark.operators.similarity import _IVFPQ_INDEX_DIRS
    from goose_spark.operators.pq import adc_topk, PQ_M
    import numpy as np
    from pyspark.sql import functions as F2

    idx = _IVFPQ_INDEX_DIRS[SF_CORRECT]
    brows = spark.read.parquet(f"{idx}/books").collect()
    books = np.zeros((PQ_M, 256, len(brows[0]["centroid"])))
    for r in brows:
        books[r["m"], r["k"]] = r["centroid"]
    cells = spark.read.parquet(f"{idx}/assignments").filter(
        F2.col("cluster").isin([0, 1])
    )
    plan = (
        adc_topk(cells.select("vec_id", "code"), [(0, [0.5] * 64)], books)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m and "code" in m.group(1) and "emb" not in m.group(1), m.group(1)
    assert re.search(r"PartitionFilters: \[[^\]]*cluster", plan), plan


def test_adc_probes_restrict_candidates_per_query(spark):
    """The per-query probe map keeps each query's candidates inside its
    OWN probed cells — results must not depend on which other queries
    share the batch (the IVF contract ivfpq_query relies on)."""
    import numpy as np

    from goose_spark.operators.pq import PQ_M, adc_topk, pq_encode, train_codebooks
    from goose_spark.operators.similarity import _embeddings

    v = _embeddings(spark, SF_CORRECT)
    books = train_codebooks(v)
    bk = np.asarray(books)
    rows = v.limit(40).collect()
    data = [
        (int(r["vec_id"]), i % 2,
         pq_encode(np.asarray([r["emb"]]), bk)[0].tobytes())
        for i, r in enumerate(rows)
    ]
    codes = spark.createDataFrame(data, "vec_id long, cluster int, code binary")
    q = [(9_999_999, rows[0]["emb"])]
    only0 = adc_topk(codes, q, books, topk=50, probes={9_999_999: {0}}).collect()
    in0 = {d[0] for d in data if d[1] == 0}
    assert only0 and all(r["neighbor_id"] in in0 for r in only0)
    # a second query in the batch probing cluster 1 must not change
    # query 1's neighbor set
    both = adc_topk(
        codes, q + [(8_888_888, rows[1]["emb"])], books, topk=50,
        probes={9_999_999: {0}, 8_888_888: {1}},
    ).collect()
    assert sorted(
        (r["neighbor_id"], r["rank"]) for r in both if r["query_id"] == 9_999_999
    ) == sorted((r["neighbor_id"], r["rank"]) for r in only0)


def test_pq_warm_task_budget(spark):
    """ss6's refine reads its queries JVM-side, not from a Python-list
    frame whose broadcast ran one Python task per slice: a warm call at
    sf0.01 completes at most 8 Spark tasks (11 with the list frame),
    with the same rows."""
    ss6 = REGISTRY["ss6_ann_pq"].builder
    want = [tuple(r) for r in ss6(spark, SF_CORRECT).collect()]
    got, _, tasks = in_job_group(
        spark, "test-ss6-task-budget", lambda: [tuple(r) for r in ss6(spark, SF_CORRECT).collect()])
    assert got == want and len(got) > 0
    assert 0 < tasks <= 8, tasks
