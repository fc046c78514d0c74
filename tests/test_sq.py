"""operators/sq.py — SQ8 scalar-quantized ANN: recall vs the exact
twin, 8x compression claim, determinism, and encode round-trip error."""

from __future__ import annotations

import numpy as np

from goose_spark.plans.profile import group_profile, job_group
from goose_spark.queries import load_all
from tests.conftest import SF_CORRECT

REGISTRY = load_all()


def test_sq8_recall_vs_bruteforce(spark):
    """8-bit per-dim reconstruction + exact re-rank of topk x 4 should
    be near-lossless (SQ8 quantization error is ~1/255 per dim on unit
    vectors; FAISS QT_8bit sits at recall ~0.99 on comparable data)."""
    exact = REGISTRY["ss1_cosine_topk_bruteforce"].builder(spark, SF_CORRECT).collect()
    approx = REGISTRY["ss18_ann_sq8"].builder(spark, SF_CORRECT).collect()
    truth, got = {}, {}
    for r in exact:
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in approx:
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [len(truth[q] & got.get(q, set())) / len(truth[q]) for q in truth]
    avg = sum(recalls) / len(recalls)
    assert avg >= 0.9, f"SQ8 recall too low: {avg:.2f} ({recalls})"


def test_sq8_exact_scores_on_recalled_pairs(spark):
    """The re-rank stage computes TRUE cosine, so every (query,
    neighbor) pair ss18 shares with the exact twin must carry the SAME
    score (rounded 6) — the refine stage is exact, not approximate."""
    exact = {
        (r["query_id"], r["neighbor_id"]): r["score"]
        for r in REGISTRY["ss1_cosine_topk_bruteforce"].builder(spark, SF_CORRECT).collect()
    }
    for r in REGISTRY["ss18_ann_sq8"].builder(spark, SF_CORRECT).collect():
        key = (r["query_id"], r["neighbor_id"])
        if key in exact:
            assert abs(r["score"] - exact[key]) < 1e-5, (key, r["score"], exact[key])


def test_sq8_encode_roundtrip_error_bounded():
    from goose_spark.operators.sq import sq_encode

    rng = np.random.RandomState(3)
    mat = rng.randn(100, 64)
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    mn, mx = mat.min(axis=0), mat.max(axis=0)
    codes = sq_encode(mat, mn, mx)
    assert codes.dtype == np.uint8 and codes.shape == mat.shape  # 8x vs float64
    span = np.where(mx - mn > 0, mx - mn, 1.0)
    recon = mn + codes.astype(np.float64) / 255.0 * span
    # per-dim error <= half a quantization step
    assert np.abs(recon - mat).max() <= (span.max() / 255.0) / 2 + 1e-12


def test_sq8_deterministic(spark):
    a = [tuple(r) for r in REGISTRY["ss18_ann_sq8"].builder(spark, SF_CORRECT).collect()]
    b = [tuple(r) for r in REGISTRY["ss18_ann_sq8"].builder(spark, SF_CORRECT).collect()]
    assert a == b


def test_sq8_warm_task_budget(spark):
    """ss18's re-rank reads its unit-normalized queries JVM-side (a
    Column ``_unit_rows``), not from a Python-list frame whose broadcast
    ran one Python task per slice: a warm call at sf0.01 completes at
    most 7 Spark tasks (10 with the list frame), with the same rows."""
    ss18 = REGISTRY["ss18_ann_sq8"].builder
    want = [tuple(r) for r in ss18(spark, SF_CORRECT).collect()]
    with job_group(spark, "test-ss18-task-budget"):
        got = [tuple(r) for r in ss18(spark, SF_CORRECT).collect()]
    tasks = group_profile(spark, "test-ss18-task-budget")["tasks"]
    assert got == want and len(got) > 0
    assert 0 < tasks <= 7, tasks
