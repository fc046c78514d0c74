"""MMR re-rank (ss9): independent pure-Python reimplementation
cross-check on real testdata, λ=1 ≡ relevance ranking, and the
diversity property (cluster coverage) on a constructed corpus."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from goose_spark.operators.mmr import CAND_K, MMR_LAMBDA, mmr_rerank
from goose_spark.queries import load_all
from goose_spark.queries.base import t
from tests.conftest import SF_CORRECT, cells_read, probed_cells

REG = load_all()


def _pure_python_mmr(vecs: dict, query_ids, top_k, cand_k, lam):
    """Reference MMR written independently of the operator kernel."""
    out = {}
    for qid in query_ids:
        q = np.asarray(vecs[qid], dtype=np.float64)
        qn = q / max(np.linalg.norm(q), 1e-12)
        scored = []
        for vid, v in vecs.items():
            if vid == qid:
                continue
            v = np.asarray(v, dtype=np.float64)
            vn = v / max(np.linalg.norm(v), 1e-12)
            scored.append((float(vn @ qn), vid, vn))
        scored.sort(key=lambda s: (-s[0], s[1]))
        pool = scored[:cand_k]
        chosen = []
        picks = []
        for rank in range(1, min(top_k, len(pool)) + 1):
            best = None
            for rel, vid, vn in pool:
                if any(vid == c[1] for c in chosen):
                    continue
                red = max((float(vn @ c[2]) for c in chosen), default=None)
                score = lam * rel if red is None else lam * rel - (1 - lam) * red
                key = (-score, vid)
                if best is None or key < best[0]:
                    best = (key, rel, vid, vn, score)
            chosen.append((best[1], best[2], best[3]))
            picks.append((qid, best[2], rank, round(best[1], 6), round(best[4], 6)))
        out[qid] = picks
    return [r for qid in sorted(out) for r in out[qid]]


def test_matches_independent_implementation(spark):
    emb = t(spark, "/root/testdata/sf0.001", "embeddings").collect()
    vecs = {r["vec_id"]: [float(x) for x in r["embedding"]] for r in emb}
    got = [
        (r["query_id"], r["neighbor_id"], r["rank"], r["relevance"], r["mmr_score"])
        for r in REG["ss9_mmr_rerank"].builder(spark, "/root/testdata/sf0.001").collect()
    ]
    expected = _pure_python_mmr(vecs, range(5), 10, CAND_K, MMR_LAMBDA)
    assert got == expected


def _emb_df(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, emb array<double>")


def test_lambda_one_is_pure_relevance(spark):
    rng = np.random.RandomState(3)
    rows = [(i, rng.randn(8).tolist()) for i in range(30)]
    emb = _emb_df(spark, rows)
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qe")
    )
    got = mmr_rerank(emb, q, top_k=5, cand_k=10, lam=1.0).collect()
    # at λ=1 the MMR order is exactly the relevance order
    rels = [r["relevance"] for r in got]
    assert rels == sorted(rels, reverse=True)
    assert [r["mmr_score"] for r in got] == rels


def test_diversity_covers_both_clusters(spark):
    # cluster A around e1 (slightly closer to q), cluster B around e2;
    # pure relevance fills top-2 from A, MMR(λ=0.5) covers both
    e1, e2 = np.eye(8)[0], np.eye(8)[1]
    q = (0.8 * e1 + 0.6 * e2).tolist()
    rows = [(0, q)]
    for i in range(1, 5):
        rows.append((i, (e1 + 0.01 * i * np.eye(8)[2]).tolist()))       # A
    for i in range(5, 9):
        rows.append((i, (e2 + 0.01 * i * np.eye(8)[3]).tolist()))       # B
    emb = _emb_df(spark, rows)
    qdf = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qe")
    )
    pure = mmr_rerank(emb, qdf, top_k=2, cand_k=8, lam=1.0).collect()
    div = mmr_rerank(emb, qdf, top_k=2, cand_k=8, lam=0.5).collect()
    a_ids, b_ids = set(range(1, 5)), set(range(5, 9))
    assert {r["neighbor_id"] for r in pure} <= a_ids
    picked = {r["neighbor_id"] for r in div}
    assert picked & a_ids and picked & b_ids


def test_indexed_candidates_recall_parity(spark, tmp_path, monkeypatch):
    """The 100 TB candidate stage (round-9 directive #1): MMR served
    off the persisted IVF index must agree with MMR over the exact
    brute-force candidate stage — per-query top-k overlap ≥ 0.9 at
    nprobe=10 (of 16 cells) — and the serve must read only the probed
    cells (the driver placement's pyarrow reads; PartitionFilters on the
    in-cell placement's plan) with NO corpus-wide cosine scan."""
    import re

    import goose_spark.operators.annindex as ai
    from goose_spark.operators.annindex import build_ivf_index
    from goose_spark.operators.mmr import mmr_rerank_indexed
    from goose_spark.operators.similarity import _embeddings, N_QUERIES
    from goose_spark.plans.inspect import report

    idx = str(tmp_path / "ivf")
    build_ivf_index(spark, SF_CORRECT, idx)
    v = _embeddings(spark, SF_CORRECT)
    q = v.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qe")
    )
    read = cells_read(monkeypatch)
    served_df = mmr_rerank_indexed(spark, idx, q, nprobe=10)
    assert read == probed_cells(spark, idx, q, 10)
    assert "CartesianProduct" not in report(served_df).text

    # plan: the in-cell candidate scan partition-prunes on cluster and
    # there is no broadcast-corpus cross join anywhere in the indexed path
    with monkeypatch.context() as m:
        m.setattr(ai, "EMBEDDING_ROW_CAP", N_QUERIES)
        r = report(mmr_rerank_indexed(spark, idx, q, nprobe=10))
    assert any(
        "cluster" in pf
        for pf in re.findall(r"PartitionFilters: \[[^\]]*\]", r.text)
    ), r.text
    assert "CartesianProduct" not in r.text

    exact = {}
    for row in mmr_rerank(v, q).collect():
        exact.setdefault(row["query_id"], set()).add(row["neighbor_id"])
    served = {}
    for row in served_df.collect():
        served.setdefault(row["query_id"], set()).add(row["neighbor_id"])
    overlaps = [
        len(exact[qid] & served.get(qid, set())) / len(exact[qid])
        for qid in exact
    ]
    avg = sum(overlaps) / len(overlaps)
    assert avg >= 0.9, f"indexed-MMR parity too low: {avg:.2f} ({overlaps})"
