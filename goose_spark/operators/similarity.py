"""Similarity search over the ``embeddings`` table (north-star
extension): brute-force cosine top-k (exact baseline, oracle-checked)
and an LSH-bucketed approximate variant (the 100 TB scale path).

Scale design: brute force is O(queries × corpus) — exact and fine for
small query sets or as a per-bucket kernel. The ANN path hashes every
vector into sign-random-projection band buckets; a query only scores
vectors sharing a band, so cost is O(queries × bucket), and the bucket
table is a broadcast-joinable skeleton. Recall tunes with bands/bits.
"""

from __future__ import annotations

import atexit
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from goose_spark.plans.guards import EMBEDDING_ROW_CAP, bounded_broadcast
from goose_spark.queries.base import register, t

N_QUERIES = 5  # vec_id < 5 are the query vectors
TOP_K = 10

_SS1_ORACLE = f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
q AS (SELECT vec_id AS query_id, emb AS qe FROM v WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT q.query_id, v.vec_id AS neighbor_id,
         list_dot_product(q.qe, v.emb)
           / sqrt(list_dot_product(q.qe, q.qe) * list_dot_product(v.emb, v.emb)) AS cos
  FROM q JOIN v ON v.vec_id <> q.query_id),
ranked AS (
  SELECT query_id, neighbor_id, cos,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored)
SELECT query_id, neighbor_id, rank, ROUND(cos, 6) AS score
FROM ranked WHERE rank <= {TOP_K} ORDER BY query_id, rank"""


def _dot(x, y):
    return F.aggregate(F.zip_with(x, y, lambda a, b: a * b), F.lit(0.0), lambda s, v: s + v)


def fold_dot(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Dot products over the last axis as ONE left-to-right float64 fold,
    ``acc += x[..., j] * y[..., j]`` — bit-exact vs ``_dot``'s
    ``F.aggregate`` and DuckDB's ``list_dot_product`` (np.dot would use
    pairwise/SIMD summation and can flip last-ulp ties that a rank
    window then amplifies). Broadcasts over the leading axes: row-wise
    pairs are ``fold_dot(a, b)``, a corpus × query matrix is
    ``fold_dot(mat[:, None, :], qmat[None, :, :])``. The one place the
    engine's exact-cosine fold order lives."""
    acc = np.zeros(np.broadcast_shapes(x.shape[:-1], y.shape[:-1]))
    for j in range(x.shape[-1]):
        acc += x[..., j] * y[..., j]
    return acc


def cosine(q, n):
    """Exact cosine as a JVM Column, ``dot / (sqrt(qq)·sqrt(nn))`` over
    ``_dot``: the one re-rank / refine score over an explicit candidate
    list (IVF+PQ and PQ refine, SQ8 re-rank, the oversized IVF serve).
    ``_dot`` folds in ``fold_dot``'s order, so it equals the in-cell
    serve kernel's score bit for bit. A zero-norm vector scores NULL, as
    in the kernel placements: ``try_divide``, since ANSI mode's ``/``
    raises DIVIDE_BY_ZERO and fails the whole query."""
    return F.try_divide(_dot(q, n), F.sqrt(_dot(q, q)) * F.sqrt(_dot(n, n)))


def rank_top_k(scored: DataFrame, k: int) -> DataFrame:
    """(query_id, neighbor_id, cos) → the serve family's result rows
    (query_id, neighbor_id, rank, score): per-query WindowGroupLimit
    rank by (cos desc, neighbor_id), cut to ``k``, score rounded to 6."""
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cos", 6).alias("score"))
        .orderBy("query_id", "rank")
    )


def _as_double(col):
    return F.transform(col, lambda v: v.cast("double"))


#: Session-scoped caches (same pattern as dedup.shingled_docs): the
#: projected embeddings feed ss1/ss2/ss3 query+corpus sides and all four
#: k-means scans; the ss2 band table is consumed by both sides of the
#: band join. Persisting each makes the expensive kernel run once per
#: session — at 100 TB the same role is played by a parquet checkpoint.
_EMB_CACHE: dict = {}
_BANDS_CACHE: dict = {}


def _embeddings(spark: SparkSession, sf: str) -> DataFrame:
    from goose_spark.operators.cache import get_or_persist

    return get_or_persist(
        _EMB_CACHE,
        spark,
        sf,
        lambda: t(spark, sf, "embeddings").select(
            "vec_id", _as_double(F.col("embedding")).alias("emb")
        ),
        label="embeddings_projected",
    )


def _bands(spark: SparkSession, sf: str) -> DataFrame:
    from goose_spark.operators.cache import get_or_persist

    return get_or_persist(
        _BANDS_CACHE,
        spark,
        sf,
        lambda: _band_signatures(_embeddings(spark, sf), "vec_id"),
        label="embedding_lsh_bands",
    )


@register(
    "ss1_cosine_topk_bruteforce",
    _SS1_ORACLE,
    doc="Exact cosine top-k: broadcast the query set against the corpus "
        "scan, rank per query with WindowGroupLimit (rank<=k pushes the "
        "per-partition top-k below the shuffle).",
    tags=("llm", "similarity"),
)
def ss1(spark: SparkSession, sf: str) -> DataFrame:
    v = _embeddings(spark, sf)
    q = v.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qe")
    )
    cos = _dot(F.col("qe"), F.col("emb")) / F.sqrt(
        _dot(F.col("qe"), F.col("qe")) * _dot(F.col("emb"), F.col("emb"))
    )
    scored = (
        bounded_broadcast(q, max_rows=EMBEDDING_ROW_CAP, n_rows=N_QUERIES,
                          label='ss1 queries')
        .crossJoin(v)
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cos"))
    )
    return rank_top_k(scored, TOP_K)


# ---------------------------------------------------------------------------
# ss2 — LSH-bucketed ANN (scale path; rows-only check + recall test)
# ---------------------------------------------------------------------------

N_PLANES = 16
N_SIG_BANDS = 4
BITS_PER_BAND = N_PLANES // N_SIG_BANDS
_PLANE_SEED = 7
_DIM = 64

# IVF (ss3) parameters
IVF_K = 16          # coarse-quantizer centroids
IVF_ITERS = 4       # fixed k-means iterations (deterministic)
IVF_NPROBE = 3      # clusters probed per query — the measured knee: recall 0.82/0.93
                    # @ 19% corpus scored (RECALL_CURVES.md)


def _band_signatures(df: DataFrame, id_col: str) -> DataFrame:
    """(id, band, bkey): sign-random-projection signature split into
    bands. Planes are deterministic (seeded) and regenerated inside the
    Arrow batch — nothing is collected to the driver."""

    def sig(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        planes = np.random.RandomState(_PLANE_SEED).randn(_DIM, N_PLANES)
        for pdf in batches:
            mat = np.asarray(list(pdf["emb"]), dtype=np.float64)
            bits = (mat @ planes) > 0  # (n, N_PLANES)
            rows = []
            for i, vid in enumerate(pdf[id_col]):
                for b in range(N_SIG_BANDS):
                    chunk = bits[i, b * BITS_PER_BAND : (b + 1) * BITS_PER_BAND]
                    key = int(np.packbits(chunk, bitorder="little")[0])
                    rows.append((vid, b, key))
            yield pd.DataFrame(rows, columns=[id_col, "band", "bkey"])

    return df.mapInPandas(sig, schema=f"{id_col} long, band int, bkey int")


@register(
    "ss2_ann_lsh",
    None,  # approximate — verified by the recall test, rows-only for the driver
    doc="ANN via sign-random-projection LSH (16 planes, 4 bands × 4 bits): "
        "score only band-collision candidates, then exact cosine + top-k. "
        "At 100 TB the band table is the shuffle key — cost O(q × bucket). "
        "Measured recall 0.41/0.45 @ 24% corpus scored (RECALL_CURVES.md) — "
        "the synthetic near-orthogonal corpus is sign-LSH's pathological "
        "case; no banding reaches 0.8 below ~53% scored, so IVF (ss3+) is "
        "the default ANN path and this floor is justified at 0.4.",
    tags=("llm", "similarity"),
)
def ss2(spark: SparkSession, sf: str) -> DataFrame:
    v = _embeddings(spark, sf)
    bands = _bands(spark, sf)
    q_ids = v.filter(F.col("vec_id") < N_QUERIES)
    q_bands = bands.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "band", "bkey"
    )
    cand = (
        bounded_broadcast(q_bands, max_rows=4 * EMBEDDING_ROW_CAP,
                          n_rows=N_QUERIES * N_SIG_BANDS, label='ss2 q_bands')
        .join(bands, ["band", "bkey"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )
    qe = q_ids.select(F.col("vec_id").alias("query_id"), F.col("emb").alias("qe"))
    ne = v.select(F.col("vec_id").alias("neighbor_id"), F.col("emb").alias("ne"))
    cos = _dot(F.col("qe"), F.col("ne")) / F.sqrt(
        _dot(F.col("qe"), F.col("qe")) * _dot(F.col("ne"), F.col("ne"))
    )
    return rank_top_k(
        cand.join(bounded_broadcast(qe, max_rows=EMBEDDING_ROW_CAP, n_rows=N_QUERIES,
                                     label="qe"), "query_id")
        .join(ne, "neighbor_id")
        .select("query_id", "neighbor_id", cos.alias("cos")),
        TOP_K,
    )


# ---------------------------------------------------------------------------
# ss3 — IVF ANN (k-means coarse quantizer; rows-only + recall test)
# ---------------------------------------------------------------------------

def _assign(df: DataFrame, centroids, id_col: str = "vec_id") -> DataFrame:
    """(id, cluster): nearest-centroid assignment, vectorized per Arrow
    batch (one matmul against the broadcast centroid matrix)."""
    import numpy as np

    cmat = np.asarray(centroids, dtype=np.float64)  # (k, dim)

    def go(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mat = np.asarray(list(pdf["emb"]), dtype=np.float64)
            # argmin squared distance == argmax (dot - ||c||²/2)
            scores = mat @ cmat.T - 0.5 * (cmat * cmat).sum(axis=1)[None, :]
            yield pd.DataFrame({id_col: pdf[id_col], "cluster": scores.argmax(axis=1)})

    return df.mapInPandas(go, schema=f"{id_col} long, cluster int")


def _train_ivf(v: DataFrame, k: int = IVF_K) -> list:
    """Deterministic k-means: init = first ``k`` vectors by vec_id, a
    fixed number of Lloyd iterations. Assignment is distributed
    (mapInPandas matmul); the centroid update collects only k×dim floats
    to the driver — the standard scalable k-means shape. ``k`` defaults
    to the registry's IVF_K; the cells-proportional-to-corpus scale
    point (tools/scale_point.py serve --cells K) passes a larger k — the dial
    that keeps per-query candidate volume BOUNDED as the corpus grows
    (the fixed-k index degrades to a constant-fraction scan)."""
    import numpy as np

    init = (
        v.orderBy("vec_id").limit(k).select("emb").collect()
    )
    centroids = np.asarray([r["emb"] for r in init], dtype=np.float64)
    emb_only = v.select("emb")
    for _ in range(IVF_ITERS):
        cmat = centroids  # captured by the kernel closure below

        def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            # fused assign + partial-centroid-sum: one matmul per Arrow
            # batch, NO shuffle join back to the embeddings — each task
            # emits only k rows of (count, dim-sum) partials
            sums = np.zeros((k, _DIM), dtype=np.float64)
            counts = np.zeros(k, dtype=np.int64)
            for pdf in batches:
                mat = np.asarray(list(pdf["emb"]), dtype=np.float64)
                scores = mat @ cmat.T - 0.5 * (cmat * cmat).sum(axis=1)[None, :]
                cl = scores.argmax(axis=1)
                np.add.at(sums, cl, mat)
                counts += np.bincount(cl, minlength=k)
            yield pd.DataFrame(
                {"cluster": np.arange(k), "n": counts, "s": list(sums)}
            )

        rows = emb_only.mapInPandas(
            partials, schema="cluster int, n long, s array<double>"
        ).collect()  # ≤ partitions × k tiny rows — the only driver traffic
        tot = np.zeros((k, _DIM), dtype=np.float64)
        cnt = np.zeros(k, dtype=np.int64)
        for r in rows:
            tot[r["cluster"]] += np.asarray(r["s"])
            cnt[r["cluster"]] += r["n"]
        nz = cnt > 0
        centroids = centroids.copy()
        centroids[nz] = tot[nz] / cnt[nz, None]
    return centroids.tolist()


#: session-scoped trained coarse quantizer — ss3 (inline IVF), ss5 (IVF
#: index build) and ss7 (IVF+PQ build) all need the SAME deterministic
#: k-means over the same corpus; training once per (session, sf) removes
#: two of the three k-means from a full query sweep. Callers that need a
#: COLD train (build-path tests) call _train_ivf directly.
_IVF_CENTROIDS_CACHE: dict = {}


def trained_ivf(spark: SparkSession, sf: str) -> list:
    from goose_spark.operators.cache import get_or_compute

    return get_or_compute(
        _IVF_CENTROIDS_CACHE, spark, sf,
        lambda: _train_ivf(_embeddings(spark, sf)),
        label="ivf_kmeans",
    )


@register(
    "ss3_ann_ivf",
    None,  # approximate — recall-gated in tests, rows-only for the driver
    doc="ANN via IVF: deterministic k-means coarse quantizer "
        f"({IVF_K} centroids, {IVF_ITERS} Lloyd iterations; assignment is a "
        "distributed matmul, update collects only k×dim floats), then "
        f"probe the {IVF_NPROBE} nearest clusters per query and score "
        "exactly within them. At 100 TB the cluster id is the partition "
        "key — a query touches nprobe/k of the corpus. Measured recall "
        "at nprobe=3: 0.82/0.93 for 19% scored (RECALL_CURVES.md; curve "
        "flattens past nprobe≈6) — floor 0.8 in test_similarity.",
    tags=("llm", "similarity"),
)
def ss3(spark: SparkSession, sf: str) -> DataFrame:
    import numpy as np

    v = _embeddings(spark, sf)
    centroids = trained_ivf(spark, sf)
    assigned = _assign(v, centroids)

    cmat = np.asarray(centroids, dtype=np.float64)
    q = v.filter(F.col("vec_id") < N_QUERIES)

    def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mat = np.asarray(list(pdf["emb"]), dtype=np.float64)
            scores = mat @ cmat.T - 0.5 * (cmat * cmat).sum(axis=1)[None, :]
            top = np.argsort(-scores, axis=1)[:, :IVF_NPROBE]
            rows = [
                (int(vid), int(c))
                for vid, cl in zip(pdf["vec_id"], top)
                for c in cl
            ]
            yield pd.DataFrame(rows, columns=["query_id", "cluster"])

    q_probes = q.mapInPandas(probe, schema="query_id long, cluster int")
    cand = (
        bounded_broadcast(q_probes, max_rows=8 * EMBEDDING_ROW_CAP,
                          n_rows=N_QUERIES * IVF_NPROBE, label='ss3 q_probes')
        .join(assigned, "cluster")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )
    qe = q.select(F.col("vec_id").alias("query_id"), F.col("emb").alias("qe"))
    ne = v.select(F.col("vec_id").alias("neighbor_id"), F.col("emb").alias("ne"))
    cos = _dot(F.col("qe"), F.col("ne")) / F.sqrt(
        _dot(F.col("qe"), F.col("qe")) * _dot(F.col("ne"), F.col("ne"))
    )
    return rank_top_k(
        cand.join(bounded_broadcast(qe, max_rows=EMBEDDING_ROW_CAP, n_rows=N_QUERIES,
                                     label="qe"), "query_id")
        .join(ne, "neighbor_id")
        .select("query_id", "neighbor_id", cos.alias("cos")),
        TOP_K,
    )


_SS4_ORACLE = """
WITH e AS (SELECT label, embedding AS emb,
                  unnest(generate_series(1, len(embedding))) AS dim
           FROM embeddings),
 comp AS (SELECT label, dim,
                 SUM(CAST(CAST(emb[dim] AS DOUBLE) AS DECIMAL(28,12))) AS s,
                 COUNT(*) AS n
          FROM e GROUP BY label, dim)
SELECT label, MAX(n) AS n_vecs,
       ROUND(CAST(MAX(CASE WHEN dim = 1 THEN s END) AS DOUBLE) / MAX(n), 6) AS c1,
       ROUND(CAST(MAX(CASE WHEN dim = 2 THEN s END) AS DOUBLE) / MAX(n), 6) AS c2,
       ROUND(CAST(MAX(CASE WHEN dim = 3 THEN s END) AS DOUBLE) / MAX(n), 6) AS c3,
       ROUND(CAST(MAX(CASE WHEN dim = 4 THEN s END) AS DOUBLE) / MAX(n), 6) AS c4,
       ROUND(CAST(SUM(s) AS DOUBLE) / MAX(n), 6) AS mass
FROM comp GROUP BY label ORDER BY label"""


@register(
    "ss4_label_centroids",
    _SS4_ORACLE,
    doc="Per-label centroid of the embedding corpus — the M-step of "
        "IVF/k-means coarse quantization (ss3 runs the same computation "
        "as a fused Arrow kernel; this is its pure-DataFrame-algebra "
        "twin, exact and oracle-checked). posexplode fans each vector "
        "into (label, dim, value) rows, but the (label × dim) hash-agg "
        "partially aggregates map-side, so the exchange carries only "
        "O(labels × dims) rows per task at any corpus size; driver "
        "output is O(labels). Components sum in DECIMAL(28,12) — exact "
        "and order-independent across engines — and divide to double "
        "only at the end. `mass` (Σ over all dims of the centroid) "
        "proves the full vector was computed, not just the 4 reported "
        "components.",
    tags=("llm", "similarity"),
)
def ss4(spark: SparkSession, sf: str) -> DataFrame:
    e = t(spark, sf, "embeddings").select(
        "label", F.posexplode("embedding").alias("dim0", "v")
    )
    comp = e.groupBy("label", (F.col("dim0") + 1).alias("dim")).agg(
        F.sum(F.col("v").cast("double").cast("decimal(28,12)")).alias("s"),
        F.count("*").alias("n"),
    )

    def c(i: int):
        return F.round(
            F.max(F.when(F.col("dim") == i, F.col("s"))).cast("double")
            / F.max("n"),
            6,
        ).alias(f"c{i}")

    return (
        comp.groupBy("label")
        .agg(
            F.max("n").alias("n_vecs"),
            c(1), c(2), c(3), c(4),
            F.round(F.sum("s").cast("double") / F.max("n"), 6).alias("mass"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# ss5 — persisted IVF index lifecycle (build once → partition-pruned query)
# ---------------------------------------------------------------------------

#: sf → temp index dir of the two session index caches (IVF: ss5, ss11,
#: ss12, ss14, ss16, ss17, ss20; IVF+PQ: ss7). ``remove_index_dirs``
#: deletes the dirs at interpreter exit.
_IVF_INDEX_DIRS: dict = {}
_IVFPQ_INDEX_DIRS: dict = {}


def _index_dir_for(cache: dict, spark: SparkSession, sf: str, prefix: str, build) -> str:
    """``cache[sf]``, (re)built by ``build(spark, sf, dir)`` in a fresh
    temp dir when missing or without a manifest. A rebuilt entry's old
    dir, and the dir of a build that fails, are removed."""
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile

    idx = cache.get(sf)
    if idx is None or not _os.path.exists(_os.path.join(idx, "manifest.json")):
        if idx is not None:
            _shutil.rmtree(idx, ignore_errors=True)
            del cache[sf]
        idx = _tempfile.mkdtemp(prefix=prefix)
        try:
            build(spark, sf, idx)
        except BaseException:
            _shutil.rmtree(idx, ignore_errors=True)
            raise
        cache[sf] = idx
    return idx


def remove_index_dirs() -> None:
    """Delete every index dir the session index caches created and
    forget them (the next serve rebuilds). Registered with ``atexit``."""
    import shutil as _shutil

    for cache in (_IVF_INDEX_DIRS, _IVFPQ_INDEX_DIRS):
        for idx in cache.values():
            _shutil.rmtree(idx, ignore_errors=True)
        cache.clear()


atexit.register(remove_index_dirs)


def ivf_index_for(spark: SparkSession, sf: str) -> str:
    """Session-cached persisted-IVF index dir for a testdata sf — built
    once, shared by every serve-path consumer (ss5 top-k, ss11 range
    search, the ss9 indexed-MMR candidate stage)."""
    from goose_spark.operators.annindex import build_ivf_index

    return _index_dir_for(_IVF_INDEX_DIRS, spark, sf, "goose-ivf-idx-", build_ivf_index)


def ivfpq_index_for(spark: SparkSession, sf: str) -> str:
    """Session-cached persisted IVF+PQ index dir for a testdata sf (ss7)."""
    from goose_spark.operators.annindex import build_ivfpq_index

    return _index_dir_for(_IVFPQ_INDEX_DIRS, spark, sf, "goose-ivfpq-idx-", build_ivfpq_index)


@register(
    "ss5_ann_ivf_index",
    None,  # approximate — recall-gated in tests, rows-only for the driver
    doc="The IVF index LIFECYCLE (operators/annindex.py): train + assign "
        "once, persist centroids + assignments as parquet PARTITIONED BY "
        "cluster, serve queries with a static probed-cell partition "
        "filter (PartitionFilters-verified pruning: a query batch reads "
        "nprobe/k of the corpus, the rest is never opened). ss3 is the "
        "inline form; this is the durable-index form a 100 TB corpus "
        "actually operates — build cost amortizes over every query "
        "batch. Probed cells within EMBEDDING_ROW_CAP footer rows are "
        "read, scored and ranked in the driver (one Spark job, the "
        "query collect); bigger cells score in a mapInPandas stage. "
        "Index cached per sf within the session.",
    tags=("llm", "similarity"),
)
def ss5(spark: SparkSession, sf: str) -> DataFrame:
    from goose_spark.operators.annindex import ivf_index_query

    idx = ivf_index_for(spark, sf)
    v = _embeddings(spark, sf)
    q = v.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qe")
    )
    return ivf_index_query(spark, idx, q)


#: range-search radius: cosine ≥ τ. The synthetic embeddings are
#: near-orthogonal (dim-64 noise: best non-self cosines ≈ 0.3-0.5), so
#: 0.25 yields ~6-15 in-radius neighbors per query — answer-bound,
#: non-trivial sets. On a real near-dup corpus τ sits at 0.8-0.95.
RANGE_TAU = 0.25


@register(
    "ss11_range_search",
    None,  # approximate (probed-cell recall) — rows-only; recall +
    # returned-cosine exactness pinned in tests/test_annindex_lifecycle.py
    doc=f"IVF RANGE search (annindex.ivf_range_search): every indexed "
        f"vector with cosine ≥ {RANGE_TAU} of each query — the radius "
        f"twin of ss5's top-k over the SAME persisted index (FAISS "
        f"range_search). Identical partition-pruned probed-cell read; "
        f"the final operator is a threshold filter instead of a rank "
        f"window, so results are answer-bound, not k-bound — the "
        f"'everything this similar' shape near-dup retrieval needs, "
        f"where a fixed k would truncate dense neighborhoods. Returned "
        f"cosines are exact full-precision; only cell recall is "
        f"approximate (recall-tested).",
    tags=("llm", "similarity"),
)
def ss11(spark: SparkSession, sf: str) -> DataFrame:
    from goose_spark.operators.annindex import ivf_range_search

    idx = ivf_index_for(spark, sf)
    v = _embeddings(spark, sf)
    q = v.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qe")
    )
    return ivf_range_search(spark, idx, q, tau=RANGE_TAU)


@register(
    "ss7_ann_ivfpq",
    None,  # approximate (quantized candidate ranking) — rows-only;
    # recall floor pinned in tests/test_pq.py
    doc="IVF+PQ index (operators/annindex.build_ivfpq_index): the two "
        "scale levers composed — IVF partition pruning bounds what a "
        "query READS (nprobe/k of the corpus, PartitionFilters-"
        "verified), PQ codes bound what the scan HOLDS (8 bytes/vector, "
        "64x; column pruning keeps embeddings out of the ADC scan), and "
        "an exact cosine re-rank of the topk x 4 ADC candidates "
        "restores full-precision ordering (the FAISS IVFPQ+refine "
        "pipeline). Index cached per sf within the session.",
    tags=("llm", "similarity"),
)
def ss7(spark: SparkSession, sf: str) -> DataFrame:
    from goose_spark.operators.annindex import ivfpq_query

    idx = ivfpq_index_for(spark, sf)
    v = _embeddings(spark, sf)
    q = v.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qe")
    )
    return ivfpq_query(spark, idx, q)


# ---------------------------------------------------------------------------
# ss15 — attribute-filtered vector search (exact, oracled)
# ---------------------------------------------------------------------------

#: Attribute predicate for the filtered search: the corpus side keeps
#: only vectors whose same-id document is this language.
FILTER_LANG = "en"

_SS15_ORACLE = f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
allowed AS (SELECT doc_id FROM documents WHERE lang = '{FILTER_LANG}'),
q AS (SELECT vec_id AS query_id, emb AS qe FROM v WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT q.query_id, v.vec_id AS neighbor_id,
         list_dot_product(q.qe, v.emb)
           / sqrt(list_dot_product(q.qe, q.qe) * list_dot_product(v.emb, v.emb)) AS cos
  FROM q
  JOIN v ON v.vec_id <> q.query_id
  JOIN allowed a ON a.doc_id = v.vec_id),
ranked AS (
  SELECT query_id, neighbor_id, cos,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored)
SELECT query_id, neighbor_id, rank, ROUND(cos, 6) AS score
FROM ranked WHERE rank <= {TOP_K} ORDER BY query_id, rank"""


@register(
    "ss15_filtered_topk",
    _SS15_ORACLE,
    doc=f"Attribute-FILTERED vector search (the production RAG feature "
        f"every vector store grew in 2023): exact cosine top-k where "
        f"the corpus side keeps only vectors whose document has "
        f"lang='{FILTER_LANG}' — pre-filter semantics (filter, then "
        f"rank), never post-filter (rank, then drop — which silently "
        f"returns < k and biased neighbors). The lang predicate is a "
        f"semi-join pushed below the scoring stage, so the candidate "
        f"set shrinks BEFORE any cosine is computed; at 100 TB the "
        f"same shape runs against the ss5 index with the predicate "
        f"applied inside the probed-cell read (cells store doc "
        f"attributes columnar, so the filter prunes pages before the "
        f"distance kernel).",
    tags=("llm", "similarity"),
)
def ss15(spark: SparkSession, sf: str) -> DataFrame:
    v = _embeddings(spark, sf)
    allowed = (
        t(spark, sf, "documents")
        .filter(F.col("lang") == FILTER_LANG)
        .select(F.col("doc_id").alias("vec_id"))
    )
    corpus = v.join(allowed, "vec_id", "left_semi")
    q = v.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qe")
    )
    cos = _dot(F.col("qe"), F.col("emb")) / F.sqrt(
        _dot(F.col("qe"), F.col("qe")) * _dot(F.col("emb"), F.col("emb"))
    )
    return rank_top_k(
        bounded_broadcast(q, max_rows=EMBEDDING_ROW_CAP, n_rows=N_QUERIES,
                          label="ss15 queries")
        .crossJoin(corpus)
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cos")),
        TOP_K,
    )


@register(
    "ss16_filtered_ann_serve",
    None,  # approximate (probed-cell candidates) — rows-only; recall
    # parity vs the exact ss15 pinned in tests/test_similarity_ext.py
    doc=f"FILTERED vector search SERVED FROM THE PERSISTED IVF INDEX — "
        f"the ss9→ss12 / ss13→ss14 move repeated for ss15: the "
        f"lang='{FILTER_LANG}' predicate becomes a vec_id semi-join "
        f"applied INSIDE the probed-cell read (annindex._scored_"
        f"candidates), so candidates shrink before any cosine is "
        f"computed and the scan still partition-prunes to nprobe/k of "
        f"the corpus. Pre-filter semantics exactly like ss15 (filter "
        f"then rank — never rank-then-drop, which under-returns and "
        f"biases); approximate exactly like ss5 (a true neighbor in an "
        f"unprobed cell is missed; every returned cosine is exact). "
        f"This is filtered ANN at the 100 TB shape — the production "
        f"RAG feature (per-tenant / per-language / per-license corpus "
        f"slices) served off one shared index instead of one index per "
        f"predicate. ss15 is its exact cross-check (recall-parity ≥0.9 "
        f"pinned in tests).",
    tags=("llm", "similarity"),
)
def ss16(spark: SparkSession, sf: str) -> DataFrame:
    import math

    from goose_spark.operators.annindex import index_manifest, ivf_index_query

    v = _embeddings(spark, sf)
    allowed = (
        t(spark, sf, "documents")
        .filter(F.col("lang") == FILTER_LANG)
        .select(F.col("doc_id").alias("vec_id"))
    )
    q = v.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qe")
    )
    # selectivity-scaled probing (the filtered-search rule every vector
    # store applies): a predicate keeping fraction s of the corpus
    # thins each probed cell to ~s·|cell| admissible candidates, so
    # matching the UNfiltered serve's candidate volume needs ~nprobe/s
    # cells (capped at the index's k — a very selective predicate
    # degrades to scanning all cells of the pruned column, which is
    # exactly ss15's exact form). Corpus size comes from the index
    # manifest (every vector is indexed; maintained by all writers —
    # a zero-job driver-side read), so only the predicate count
    # remains as a metadata-cheap scalar job.
    idx = ivf_index_for(spark, sf)
    n_all = index_manifest(idx)["n"]
    n_ok = max(allowed.count(), 1)
    nprobe = min(IVF_K, math.ceil(IVF_NPROBE * n_all / n_ok))
    return ivf_index_query(spark, idx, q, nprobe=nprobe, topk=TOP_K, allowed=allowed)


@register(
    "ss17_filtered_range_search",
    None,  # approximate (probed-cell recall) — rows-only; parity vs
    # the exact filtered range scan pinned in tests/test_sixth_wave.py
    doc=f"FILTERED range search over the persisted IVF index — the "
        f"last cell of the serve matrix (top-k/range x unfiltered/"
        f"filtered): every indexed vector with cosine ≥ {RANGE_TAU} of "
        f"each query AND lang='{FILTER_LANG}', the predicate applied "
        f"as a vec_id semi-join inside the probed-cell read before any "
        f"cosine (pre-filter semantics, same seam as ss16) with "
        f"selectivity-scaled probing. Answer-bound like ss11 — the "
        f"'everything this similar among admissible docs' shape that "
        f"per-license / per-language near-dup retrieval needs. "
        f"Returned cosines exact; only cell recall approximate.",
    tags=("llm", "similarity"),
)
def ss17(spark: SparkSession, sf: str) -> DataFrame:
    import math

    from goose_spark.operators.annindex import index_manifest, ivf_range_search

    v = _embeddings(spark, sf)
    allowed = (
        t(spark, sf, "documents")
        .filter(F.col("lang") == FILTER_LANG)
        .select(F.col("doc_id").alias("vec_id"))
    )
    q = v.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qe")
    )
    # corpus size from the index manifest (see ss16) — one count job
    # (the predicate) instead of two
    idx = ivf_index_for(spark, sf)
    n_all = index_manifest(idx)["n"]
    n_ok = max(allowed.count(), 1)
    nprobe = min(IVF_K, math.ceil(IVF_NPROBE * n_all / n_ok))
    return ivf_range_search(spark, idx, q, tau=RANGE_TAU, nprobe=nprobe,
                            allowed=allowed)


# ---------------------------------------------------------------------------
# ss19 — k-NN label propagation (semi-supervised labeling / classifier
# bootstrap)
# ---------------------------------------------------------------------------

#: vectors treated as UNLABELED (the prediction targets); the rest are
#: the labeled support set
_SS19_QUERY_MOD = 10
#: neighbors consulted per prediction
_SS19_K = 10

_SS19_ORACLE = f"""
WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
           FROM embeddings),
q AS (SELECT vec_id, label AS true_label, emb AS qe FROM v
      WHERE vec_id % {_SS19_QUERY_MOD} = 0),
c AS (SELECT vec_id AS nid, label, emb FROM v
      WHERE vec_id % {_SS19_QUERY_MOD} <> 0),
scored AS (
  SELECT q.vec_id, q.true_label, c.label,
         list_dot_product(q.qe, c.emb)
           / sqrt(list_dot_product(q.qe, q.qe)
                  * list_dot_product(c.emb, c.emb)) AS cos,
         c.nid
  FROM q JOIN c ON TRUE),
knn AS (
  SELECT vec_id, true_label, label,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY cos DESC, nid) AS rank
  FROM scored),
votes AS (
  SELECT vec_id, true_label, label, COUNT(*) AS votes
  FROM knn WHERE rank <= {_SS19_K}
  GROUP BY vec_id, true_label, label),
best AS (
  SELECT vec_id, true_label, label AS pred_label, votes,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY votes DESC, label) AS vr
  FROM votes)
SELECT vec_id, CAST(pred_label AS INT) AS pred_label,
       CAST(votes AS BIGINT) AS votes,
       pred_label = true_label AS correct
FROM best WHERE vr = 1 ORDER BY vec_id"""


@register(
    "ss19_knn_label_propagation",
    _SS19_ORACLE,
    doc=f"k-NN label propagation — the semi-supervised labeling step a "
        f"curation pipeline uses to bootstrap a quality/topic "
        f"classifier from a small labeled seed set: every {_SS19_QUERY_MOD}th "
        f"vector is treated as unlabeled, its {_SS19_K} nearest "
        f"labeled neighbors by exact cosine vote, majority wins (ties "
        f"break to the smaller label id — deterministic, no RNG), and "
        f"the output carries (pred_label, votes, correct) so the "
        f"held-out accuracy IS the result the pipeline reads. Plan: "
        f"the bounded query batch rides the task closure into ONE "
        f"Arrow kernel over ONE corpus scan (vectorized numpy scoring "
        f"with the dim-indexed sequential fold that is bit-exact vs "
        f"F.aggregate — guide-style batch scoring, zero per-row "
        f"work), WindowGroupLimit cuts each query's "
        f"candidate list to k BEFORE the vote agg, and the vote/argmax "
        f"stages shuffle O(queries x labels) tiny rows. The 100 TB "
        f"form swaps the brute-force scan for the persisted IVF "
        f"probed-cell read (ss5/ss14's index serve) under the SAME "
        f"vote stages; exact here because the oracle must match. "
        f"Integer votes, not averaged scores, cross the engine "
        f"boundary — no float-summation-order hazard in the vote. "
        f"(On THIS corpus the reported accuracy is ~chance: the "
        f"synthetic labels are independent of the embedding geometry, "
        f"and the op reports that honestly rather than faking signal.)",
    tags=("llm", "similarity"),
)
def ss19(spark: SparkSession, sf: str) -> DataFrame:
    # One scan serves queries, labels AND corpus (the old shape joined
    # the projected-emb cache back to a second scan for labels, then
    # scored a broadcast crossJoin through the interpreted F.aggregate
    # HOF: O(queries x corpus x dim) lambda steps with no codegen —
    # the measured 5.5 s at sf0.1 was almost entirely that).
    base = t(spark, sf, "embeddings").select(
        "vec_id", "label", _as_double(F.col("embedding")).alias("emb")
    )
    # Bounded query-batch collect (the IVF serve path's documented
    # convention: probe maps / query batches are driver-bounded).
    qrows = (
        base.filter(F.col("vec_id") % _SS19_QUERY_MOD == 0)
        .limit(EMBEDDING_ROW_CAP + 1)
        .collect()
    )
    if len(qrows) > EMBEDDING_ROW_CAP:
        raise ValueError(
            f"ss19: query batch exceeds {EMBEDDING_ROW_CAP} rows — "
            "split the batch (same cap as bounded_broadcast)"
        )
    schema = "qid long, true_label int, label int, cos double, nid long"
    if qrows:
        qrows.sort(key=lambda r: r.vec_id)
        qids = np.array([r.vec_id for r in qrows], dtype=np.int64)
        qlab = np.array([r.label for r in qrows], dtype=np.int32)
        qmat = np.array([r.emb for r in qrows], dtype=np.float64)
        nq = len(qmat)
        # fold_dot: bit-exact to DuckDB's list_dot_product, so ranks and
        # the rounded scores match the oracle to the last ulp; the
        # denominator keeps the oracle's sqrt(cc·qq) form
        qq = fold_dot(qmat, qmat)

        def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                n = len(pdf)
                if n == 0:
                    continue
                mat = np.array(list(pdf["emb"]), dtype=np.float64)
                dot = fold_dot(mat[:, None, :], qmat[None, :, :])
                cc = fold_dot(mat, mat)
                cos = dot / np.sqrt(cc[:, None] * qq[None, :])
                nid = pdf["vec_id"].to_numpy(dtype=np.int64)
                lbl = pdf["label"].to_numpy(dtype=np.int32)
                yield pd.DataFrame({
                    "qid": np.tile(qids, n),
                    "true_label": np.tile(qlab, n),
                    "label": np.repeat(lbl, nq),
                    "cos": cos.ravel(),
                    "nid": np.repeat(nid, nq),
                })

        scored = (
            base.filter(F.col("vec_id") % _SS19_QUERY_MOD != 0)
            .mapInPandas(score, schema=schema)
        )
    else:
        scored = spark.createDataFrame([], schema)
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), "nid")
    knn = scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= _SS19_K
    )
    votes = knn.groupBy("qid", "true_label", "label").agg(
        F.count("*").alias("votes")
    )
    vw = Window.partitionBy("qid").orderBy(F.desc("votes"), F.asc("label"))
    return (
        votes.withColumn("vr", F.row_number().over(vw))
        .filter(F.col("vr") == 1)
        .select(
            F.col("qid").alias("vec_id"),
            F.col("label").cast("int").alias("pred_label"),
            F.col("votes").cast("long").alias("votes"),
            (F.col("label") == F.col("true_label")).alias("correct"),
        )
        .orderBy("vec_id")
    )


#: ss20 probes MORE cells than the rank-1 serves (6/16 vs 3/16): a
#: majority vote amplifies neighbor substitutions that top-k retrieval
#: tolerates, so label propagation buys vote stability with a deeper
#: probe — still a 2.7x candidate cut vs the full scan, and the dial
#: scales the same way at a 100 TB cell count
_SS20_NPROBE = 6

@register(
    "ss20_knn_label_propagation_indexed",
    None,  # approximate neighbors → rows-only; agreement pinned in tests
    doc=f"ss19's documented 100 TB form, MEASURED and registered (the "
        f"dd5→dd8 pattern): the brute-force query×corpus scan is "
        f"replaced by the persisted IVF index serve — probes computed "
        f"per Arrow batch, probed cells read with static partition "
        f"pruning, and the labeled-only support set enforced as the "
        f"filtered serve's semi-join PRE-filter inside the cell read "
        f"(never post-filter, which would bias the k) — under the "
        f"IDENTICAL vote/argmax stages as ss19. Cost per query batch "
        f"drops from O(corpus) cosines to O(probed cells' rows): "
        f"6/{IVF_K} of the corpus — ss20 probes DEEPER than the rank-1 "
        f"serves (6 vs 3 cells) because a majority vote amplifies "
        f"neighbor substitutions top-k retrieval tolerates; measured "
        f"on this corpus: neighbor recall 0.742, prediction agreement "
        f"0.60 vs exact ss19 (floors pinned in tests/test_similarity). "
        f"Agreement is corpus-capped, not serve-capped: labels are "
        f"independent of geometry here, so exact vote margins are "
        f"mostly 0-1 and any substitution can flip them — on a real "
        f"labeled corpus (geometric label structure, wide margins) the "
        f"same composition is vote-stable. Rows-only by design: "
        f"approximate neighbor sets are not oracle-replayable in SQL.",
    tags=("llm", "similarity"),
)
def ss20(spark: SparkSession, sf: str) -> DataFrame:
    from goose_spark.operators.annindex import ivf_index_query

    v = _embeddings(spark, sf)
    lab = t(spark, sf, "embeddings").select("vec_id", "label")
    q = v.filter(F.col("vec_id") % _SS19_QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qe")
    )
    allowed = lab.filter(F.col("vec_id") % _SS19_QUERY_MOD != 0).select("vec_id")
    idx = ivf_index_for(spark, sf)
    knn = ivf_index_query(spark, idx, q, nprobe=_SS20_NPROBE, topk=_SS19_K,
                          allowed=allowed)
    votes = (
        knn.join(lab.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
        .groupBy("query_id", "label")
        .agg(F.count("*").alias("votes"))
    )
    vw = Window.partitionBy("query_id").orderBy(F.desc("votes"), F.asc("label"))
    truth = lab.withColumnRenamed("vec_id", "query_id") \
        .withColumnRenamed("label", "true_label")
    return (
        votes.withColumn("vr", F.row_number().over(vw))
        .filter(F.col("vr") == 1)
        .join(truth, "query_id")
        .select(
            F.col("query_id").alias("vec_id"),
            F.col("label").cast("int").alias("pred_label"),
            F.col("votes").cast("long").alias("votes"),
            (F.col("label") == F.col("true_label")).alias("correct"),
        )
        .orderBy("vec_id")
    )
