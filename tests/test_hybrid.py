"""Hybrid retrieval (ss13/ss14): the indexed serve (ss14) must agree
with the exact cross-check (ss13) at the ss12 parity standard, its
dense side must be the partition-pruned probed-cell read, and the
shared rrf_fuse stage must be modality-agnostic."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from goose_spark.queries import load_all
from tests.conftest import SF_CORRECT, cells_read, probed_cells

REG = load_all()


def _fused_sets(rows):
    out: dict = {}
    for r in rows:
        out.setdefault(r["query_id"], set()).add(r["doc_id"])
    return out


def test_indexed_hybrid_fusion_parity(spark):
    """Round-10 directive #3 (the ss9→ss12 move for ss13): hybrid RRF
    served from the persisted IVF index must overlap the exact fused
    top-10 ≥ 0.9 per-query average at nprobe=10 (of 16 cells) — the
    same standard test_mmr pins for ss12. Full probe (nprobe=16) is
    exact parity 1.0 (verified while calibrating), so any divergence
    below is purely the documented dense-recall gap on the
    near-orthogonal synthetic corpus (RECALL_CURVES.md)."""
    from goose_spark.operators.annindex import ivf_index_query
    from goose_spark.operators.hybrid import N_Q, RRF_C, _lexical_ranks, rrf_fuse
    from goose_spark.operators.similarity import _embeddings, ivf_index_for

    exact = _fused_sets(REG["ss13_hybrid_rrf"].builder(spark, SF_CORRECT).collect())

    emb = _embeddings(spark, SF_CORRECT)
    nv = emb.count()
    lex = _lexical_ranks(spark, SF_CORRECT, nv)
    idx = ivf_index_for(spark, SF_CORRECT)
    q = emb.filter(F.col("vec_id") < N_Q).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qe")
    )
    vec = ivf_index_query(spark, idx, q, nprobe=10, topk=RRF_C).select(
        "query_id", F.col("neighbor_id").alias("doc_id"),
        F.col("rank").alias("r_vec"),
    )
    served = _fused_sets(rrf_fuse(lex, vec).collect())

    overlaps = [
        len(exact[qid] & served.get(qid, set())) / len(exact[qid])
        for qid in exact
    ]
    avg = sum(overlaps) / len(overlaps)
    assert avg >= 0.9, f"indexed-hybrid fusion parity too low: {avg:.2f} ({overlaps})"


def test_registered_ss14_plan_prunes_and_schema_matches_ss13(spark, monkeypatch):
    """The REGISTERED ss14 (default serve nprobe): dense side reads only
    probed cells (the driver placement's pyarrow reads; PartitionFilters
    on cluster in the in-cell placement's plan), no corpus-wide cross
    join in the dense path, and the output schema is column-identical
    to ss13 so the two are drop-in interchangeable."""
    import goose_spark.operators.annindex as ai
    from goose_spark.operators.hybrid import N_Q
    from goose_spark.operators.similarity import IVF_NPROBE, _embeddings, ivf_index_for
    from goose_spark.plans.inspect import report

    read = cells_read(monkeypatch)
    df14 = REG["ss14_hybrid_indexed"].builder(spark, SF_CORRECT)
    df13 = REG["ss13_hybrid_rrf"].builder(spark, SF_CORRECT)
    assert df14.columns == df13.columns
    q = _embeddings(spark, SF_CORRECT).filter(F.col("vec_id") < N_Q).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qe"))
    assert read == probed_cells(spark, ivf_index_for(spark, SF_CORRECT), q, IVF_NPROBE)
    assert "CartesianProduct" not in report(df14).text

    with monkeypatch.context() as m:
        m.setattr(ai, "EMBEDDING_ROW_CAP", N_Q)
        r = report(REG["ss14_hybrid_indexed"].builder(spark, SF_CORRECT))
    assert any(
        "cluster" in pf
        for pf in re.findall(r"PartitionFilters: \[[^\]]*\]", r.text)
    ), r.text
    assert "CartesianProduct" not in r.text

    rows = df14.collect()
    assert len(rows) > 0
    # ranks are dense 1..k per query
    per_q: dict = {}
    for row in rows:
        per_q.setdefault(row["query_id"], []).append(row["rank"])
    for qid, ranks in per_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), (qid, ranks)


def test_rrf_fuse_is_modality_agnostic(spark):
    """rrf_fuse over two hand-built rank lists: full-outer semantics
    (a doc ranked by only one modality still fuses), deterministic
    tie-break by doc_id, and the SIGIR'09 formula to the rounding the
    oracle uses."""
    from goose_spark.operators.hybrid import RRF_K, rrf_fuse

    lex = spark.createDataFrame(
        [(1, 100, 1), (1, 101, 2)], "query_id long, doc_id long, r_lex long"
    )
    vec = spark.createDataFrame(
        [(1, 101, 1), (1, 102, 2)], "query_id long, doc_id long, r_vec long"
    )
    got = {r["doc_id"]: r for r in rrf_fuse(lex, vec, top=10).collect()}
    assert set(got) == {100, 101, 102}
    # doc 101 is in both lists → highest fused score
    assert got[101]["rank"] == 1
    # rrf is ROUND(·, 8) in the operator — tolerance is half an ulp of that
    assert abs(got[101]["rrf"] - (1 / (RRF_K + 2) + 1 / (RRF_K + 1))) <= 5e-9
    # single-modality docs keep their one contribution (no null-kill)
    assert got[100]["r_vec"] is None and got[100]["rrf"] > 0
    assert got[102]["r_lex"] is None and got[102]["rrf"] > 0
