"""Scalar-quantized (SQ8) ANN — the missing tier of the quantization
matrix between the raw-float IVF serves (ss3/ss5, 8 bytes/dim) and
product quantization (ss6/ss7, 8 bytes/VECTOR): one uint8 per
dimension, trained per-dimension min/max, asymmetric distance (exact
float query × reconstructed corpus), exact re-rank of the candidate
head. FAISS's ScalarQuantizer(QT_8bit) is the reference shape; 8×
compression at near-exact recall, vs PQ's 64× at sketchier recall —
the tier a serving stack picks when memory allows it.

Reference parity note: the reference system has no vector serving; this
family exists for the 100 TB training-data pipeline (SURVEY §2.5
north-star extensions), cross-checked against ss1's exact twin.

Scale shape: training is ONE aggregate collapsing to 2×dim doubles
(bounded driver traffic); encoding is a map-only Arrow kernel writing
dim-byte codes; the serve is a per-batch numpy matmul (queries ×
reconstructed batch) emitting (query, candidate, approx score) rows —
no shuffle until the per-query WindowGroupLimit rank; the exact re-rank
touches only topk×4 candidates per query.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from goose_spark.operators.cache import get_or_compute
from goose_spark.operators.similarity import (
    _DIM,
    N_QUERIES,
    TOP_K,
    _dot,
    _embeddings,
    cosine,
    fold_dot,
    rank_top_k,
)
from goose_spark.queries.base import register

#: exact re-rank breadth: the approx head kept per query (×TOP_K)
SQ_REFINE = 4

_SQ_PARAMS_CACHE: dict = {}


def train_sq_params(v: DataFrame) -> tuple[list, list]:
    """Per-dimension (min, max) over the L2-NORMALIZED corpus — the SQ8
    codebook. One Arrow normalize pass under one aggregate, 2×dim
    doubles of driver traffic."""

    def unit(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mat = np.asarray(list(pdf["emb"]), dtype=np.float64)
            yield pd.DataFrame({"u": list(_unit_rows(mat))})

    row = v.mapInPandas(unit, schema="u array<double>").agg(
        *[F.min(F.col("u")[i]).alias(f"mn{i}") for i in range(_DIM)],
        *[F.max(F.col("u")[i]).alias(f"mx{i}") for i in range(_DIM)],
    ).collect()[0]
    mn = [float(row[f"mn{i}"]) for i in range(_DIM)]
    mx = [float(row[f"mx{i}"]) for i in range(_DIM)]
    return mn, mx


def trained_sq_params(spark: SparkSession, sf: str) -> tuple[list, list]:
    return get_or_compute(
        _SQ_PARAMS_CACHE, spark, sf,
        lambda: train_sq_params(_embeddings(spark, sf)),
        label="sq8_minmax",
    )


def sq_encode(mat: np.ndarray, mn: np.ndarray, mx: np.ndarray) -> np.ndarray:
    """(n, dim) float rows (L2-normalized) → (n, dim) uint8 codes."""
    span = np.where(mx - mn > 0, mx - mn, 1.0)
    q = np.rint((mat - mn) / span * 255.0)
    return np.clip(q, 0, 255).astype(np.uint8)


def _unit_rows(mat: np.ndarray) -> np.ndarray:
    """L2-normalize rows (norm through ``fold_dot``) with a zero-norm
    clamp (ADVICE r13): an all-zero embedding must yield a zero row,
    not NaN scores that propagate into the window rank
    nondeterministically — the same guard shape as sq_encode's span>0
    clamp. The one normalization training, encoding and queries share."""
    n = np.sqrt(fold_dot(mat, mat))[:, None]
    return mat / np.where(n > 0, n, 1.0)


@register(
    "ss18_ann_sq8",
    None,  # approximate (8-bit reconstruction) — rows-only; recall
    # floor + exact-rerank parity pinned in tests/test_sq.py
    doc=f"SQ8 scalar-quantized ANN serve: per-dimension min/max trained "
        f"on the L2-normalized corpus (one aggregate, 2x{_DIM} doubles "
        f"to the driver), corpus encoded to {_DIM}-byte uint8 codes "
        f"(8x compression) by a map-only Arrow kernel, asymmetric "
        f"distance (exact float query x reconstructed code, one numpy "
        f"matmul per Arrow batch), per-query WindowGroupLimit head of "
        f"top-k x {SQ_REFINE}, then EXACT cosine re-rank of only that "
        f"head. Completes the quantization matrix: raw-float IVF "
        f"(ss3/ss5) / SQ8 8x (this) / PQ-ADC 64x (ss6/ss7) — the "
        f"memory-vs-recall ladder a 100 TB serving stack picks from. "
        f"No shuffle before the rank; candidates bound the exact stage.",
    tags=("llm", "similarity"),
)
def ss18(spark: SparkSession, sf: str) -> DataFrame:
    v = _embeddings(spark, sf)
    mn, mx = trained_sq_params(spark, sf)
    queries = [
        (int(r["vec_id"]), list(r["emb"]))
        for r in v.filter(F.col("vec_id") < N_QUERIES).collect()
    ]
    mn_a, mx_a = np.asarray(mn), np.asarray(mx)
    span = np.where(mx_a - mn_a > 0, mx_a - mn_a, 1.0)
    qm = _unit_rows(np.asarray([q for _, q in queries], dtype=np.float64))
    qids = [qid for qid, _ in queries]

    def adc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mat = _unit_rows(np.asarray(list(pdf["emb"]), dtype=np.float64))
            codes = sq_encode(mat, mn_a, mx_a)
            recon = mn_a + codes.astype(np.float64) / 255.0 * span
            scores = qm @ recon.T  # (n_queries, batch)
            vids = pdf["vec_id"].to_numpy()
            out = {
                "query_id": np.repeat(qids, len(vids)),
                "neighbor_id": np.tile(vids, len(qids)),
                "approx": scores.reshape(-1),
            }
            yield pd.DataFrame(out)

    scored = (
        v.mapInPandas(adc, schema="query_id long, neighbor_id long, approx double")
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx").desc(), "neighbor_id"
    )
    head = (
        scored.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= TOP_K * SQ_REFINE)
        .select("query_id", "neighbor_id")
    )
    # exact re-rank of the head only: join true embeddings back for the
    # candidate; the query side is qm built JVM-side — ``_unit_rows`` as
    # Columns (the same fold, sqrt and division, so bit-identical to qm).
    # A frame built from a Python list would run a Python task per slice
    # to broadcast.
    qn = F.col("qn")
    qdf = F.broadcast(
        v.filter(F.col("vec_id") < N_QUERIES)
        .withColumn("qn", F.sqrt(_dot(F.col("emb"), F.col("emb"))))
        .select(
            F.col("vec_id").alias("query_id"),
            F.transform(
                "emb", lambda x: x / F.when((qn > 0) & ~F.isnan(qn), qn).otherwise(1.0)
            ).alias("qe"),
        )
    )
    nv = v.select(F.col("vec_id").alias("neighbor_id"), F.col("emb").alias("ne"))
    scored = (
        head.join(qdf, "query_id")
        .join(nv, "neighbor_id")
        .select("query_id", "neighbor_id", cosine("qe", "ne").alias("cos"))
    )
    return rank_top_k(scored, TOP_K)
