"""Measured recall-vs-parameter curves for the ANN floors: ss2
(sign-LSH banding) and ss3 (inline IVF nprobe) — round-9 directive #5 —
and, round-11 directive #7, the PQ family: ss6 (m × bits × refine) and
ss7 (IVFPQ nprobe × refine), mirroring pq.train_codebooks/pq_encode/
adc_topk (bounded-sample Lloyd's, normalize-then-encode, ADC tables,
exact-cosine refine of topk×refine candidates).

The arithmetic mirrors the production kernels EXACTLY — same plane seed
and packbits banding as ``similarity._band_signatures``, same
``x @ c - 0.5·|c|²`` scoring as ``similarity._assign``/``annindex._probe_qe_kernel``
— and the IVF centroids come from the real trainer via one Spark call
(``similarity.trained_ivf``), so the curve is the query path's recall,
not a lookalike's. Ground truth is exact cosine top-k (numpy, float64,
ties by neighbor id — same as ss1).

Usage: python3 tools/recall_curves.py [sf_dir]
Prints two markdown tables (paste into QUERIES.md).
"""

from __future__ import annotations

import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TOP_K = 10
N_QUERIES = 10
PLANE_SEED = 7


def load(sf_dir: str) -> np.ndarray:
    import duckdb

    rows = duckdb.sql(
        f"SELECT vec_id, embedding FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet') ORDER BY vec_id"
    ).fetchall()
    assert [r[0] for r in rows] == list(range(len(rows)))
    return np.asarray([r[1] for r in rows], dtype=np.float64)


def exact_topk(mat: np.ndarray) -> dict[int, set[int]]:
    unit = mat / np.maximum(np.linalg.norm(mat, axis=1), 1e-12)[:, None]
    sims = unit[:N_QUERIES] @ unit.T
    truth = {}
    for q in range(N_QUERIES):
        s = sims[q].copy()
        s[q] = -np.inf
        # ties by smaller neighbor_id, like ss1's (cos DESC, id) window
        order = np.lexsort((np.arange(len(s)), -s))
        truth[q] = set(order[:TOP_K].tolist())
    return truth


def lsh_recall(mat: np.ndarray, truth, n_planes: int, bands: int):
    """Mirror _band_signatures: packbits(bitorder=little) per band of
    n_planes//bands bits; candidates = same (band, key) collision."""
    bits_pb = n_planes // bands
    planes = np.random.RandomState(PLANE_SEED).randn(mat.shape[1], n_planes)
    bits = (mat @ planes) > 0
    keys = np.zeros((len(mat), bands), dtype=np.int64)
    for b in range(bands):
        chunk = bits[:, b * bits_pb : (b + 1) * bits_pb]
        keys[:, b] = np.packbits(
            chunk, axis=1, bitorder="little"
        )[:, 0].astype(np.int64) if bits_pb <= 8 else _wide_key(chunk)
    unit = mat / np.maximum(np.linalg.norm(mat, axis=1), 1e-12)[:, None]
    recalls, cand_fracs = [], []
    for q in range(N_QUERIES):
        cand = np.zeros(len(mat), dtype=bool)
        for b in range(bands):
            cand |= keys[:, b] == keys[q, b]
        cand[q] = False
        ids = np.nonzero(cand)[0]
        cand_fracs.append(len(ids) / (len(mat) - 1))
        if len(ids) == 0:
            recalls.append(0.0)
            continue
        s = unit[q] @ unit[ids].T
        order = np.lexsort((ids, -s))
        got = set(ids[order[:TOP_K]].tolist())
        recalls.append(len(got & truth[q]) / len(truth[q]))
    return float(np.mean(recalls)), float(np.mean(cand_fracs))


def _wide_key(chunk: np.ndarray) -> np.ndarray:
    return (chunk * (1 << np.arange(chunk.shape[1]))[None, :]).sum(axis=1)


def ivf_recall(mat: np.ndarray, truth, cmat: np.ndarray, nprobe: int):
    """Mirror _assign/annindex._probe_qe_kernel scoring exactly."""
    scores = mat @ cmat.T - 0.5 * (cmat * cmat).sum(axis=1)[None, :]
    assign = scores.argmax(axis=1)
    unit = mat / np.maximum(np.linalg.norm(mat, axis=1), 1e-12)[:, None]
    recalls, fracs = [], []
    for q in range(N_QUERIES):
        probed = np.argsort(-scores[q])[:nprobe]
        cand = np.isin(assign, probed)
        cand[q] = False
        ids = np.nonzero(cand)[0]
        fracs.append(len(ids) / (len(mat) - 1))
        if len(ids) == 0:
            recalls.append(0.0)
            continue
        s = unit[q] @ unit[ids].T
        order = np.lexsort((ids, -s))
        got = set(ids[order[:TOP_K]].tolist())
        recalls.append(len(got & truth[q]) / len(truth[q]))
    return float(np.mean(recalls)), float(np.mean(fracs))


def _unit(mat: np.ndarray) -> np.ndarray:
    return mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)


def train_books_np(mat: np.ndarray, m: int, k: int,
                   iters: int = 10, sample: int = 4096) -> np.ndarray:
    """Mirror pq.train_codebooks for arbitrary (m, k): bounded ordered
    sample, normalize, init from first-k distinct subvectors, fixed
    Lloyd iterations. At (m=8, k=256) this reproduces the production
    codebooks bit-for-bit."""
    sm = _unit(mat[:sample])
    sub_d = mat.shape[1] // m
    books = np.zeros((m, k, sub_d), dtype=np.float64)
    for mi in range(m):
        sub = sm[:, mi * sub_d : (mi + 1) * sub_d]
        cent = sub[np.unique(sub.round(9), axis=0, return_index=True)[1][:k]]
        if len(cent) < k:
            cent = np.resize(cent, (k, sub_d))
        cent = cent.copy()
        for _ in range(iters):
            a = (sub @ cent.T - 0.5 * (cent * cent).sum(axis=1)[None, :]).argmax(axis=1)
            sums = np.zeros_like(cent)
            np.add.at(sums, a, sub)
            counts = np.bincount(a, minlength=k)
            nz = counts > 0
            cent[nz] = sums[nz] / counts[nz, None]
        books[mi] = cent
    return books


def _encode_np(unit: np.ndarray, books: np.ndarray) -> np.ndarray:
    """Mirror pq.pq_encode over pre-normalized vectors."""
    m, _k, sub_d = books.shape
    codes = np.empty((len(unit), m), dtype=np.int64)
    for mi in range(m):
        sub = unit[:, mi * sub_d : (mi + 1) * sub_d]
        codes[:, mi] = (
            sub @ books[mi].T - 0.5 * (books[mi] * books[mi]).sum(axis=1)[None, :]
        ).argmax(axis=1)
    return codes


def _adc_dist(qv: np.ndarray, codes: np.ndarray, books: np.ndarray) -> np.ndarray:
    """Mirror pq.adc_topk's per-query M×K table + fancy-index lookups."""
    m, _k, sub_d = books.shape
    dist = np.zeros(len(codes))
    for mi in range(m):
        table = ((qv[mi * sub_d : (mi + 1) * sub_d][None, :] - books[mi]) ** 2).sum(axis=1)
        dist += table[codes[:, mi]]
    return dist


def pq_recall(mat: np.ndarray, truth, m: int, bits: int, refine: int,
              books: np.ndarray | None = None):
    """ss6 shape: ADC over the whole encoded corpus, exact-cosine
    re-rank of the topk×refine ADC candidates (refine=1 = raw ADC)."""
    unit = _unit(mat)
    if books is None:
        books = train_books_np(mat, m, 1 << bits)
    codes = _encode_np(unit, books)
    recalls = []
    for q in range(N_QUERIES):
        dist = _adc_dist(unit[q], codes, books)
        dist[q] = np.inf
        cand = np.lexsort((np.arange(len(dist)), dist))[: TOP_K * refine]
        s = unit[q] @ unit[cand].T
        order = np.lexsort((cand, -s))
        got = set(cand[order[:TOP_K]].tolist()) if refine > 1 else set(cand[:TOP_K].tolist())
        recalls.append(len(got & truth[q]) / len(truth[q]))
    return float(np.mean(recalls))


def ivfpq_recall(mat: np.ndarray, truth, cmat: np.ndarray,
                 books: np.ndarray, nprobe: int, refine: int):
    """ss7 shape: IVF cell pruning bounds the candidate set, ADC ranks
    it, exact cosine re-ranks the topk×refine survivors."""
    unit = _unit(mat)
    scores = mat @ cmat.T - 0.5 * (cmat * cmat).sum(axis=1)[None, :]
    assign = scores.argmax(axis=1)
    codes = _encode_np(unit, books)
    recalls, fracs = [], []
    for q in range(N_QUERIES):
        probed = np.argsort(-scores[q])[:nprobe]
        mask = np.isin(assign, probed)
        mask[q] = False
        ids = np.nonzero(mask)[0]
        fracs.append(len(ids) / (len(mat) - 1))
        if len(ids) == 0:
            recalls.append(0.0)
            continue
        dist = _adc_dist(unit[q], codes[ids], books)
        cand = ids[np.lexsort((ids, dist))[: TOP_K * refine]]
        s = unit[q] @ unit[cand].T
        order = np.lexsort((cand, -s))
        got = set(cand[order[:TOP_K]].tolist()) if refine > 1 else set(cand[:TOP_K].tolist())
        recalls.append(len(got & truth[q]) / len(truth[q]))
    return float(np.mean(recalls)), float(np.mean(fracs))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    mat = load(sf_dir)
    truth = exact_topk(mat)
    print(f"corpus: {len(mat)} vectors, dim {mat.shape[1]}, "
          f"recall@{TOP_K} over {N_QUERIES} queries, sf_dir={sf_dir}\n")

    print("## ss2 sign-LSH — recall vs banding (cand_frac = corpus scored)")
    print("| planes | bands | bits/band | recall@10 | cand_frac |")
    print("|---|---|---|---|---|")
    for n_planes, bands in [
        (16, 2), (16, 4), (16, 8),
        (24, 6), (32, 4), (32, 8), (48, 12), (64, 16),
    ]:
        r, cf = lsh_recall(mat, truth, n_planes, bands)
        print(f"| {n_planes} | {bands} | {n_planes // bands} "
              f"| {r:.3f} | {cf:.3f} |")

    from pyspark.sql import SparkSession

    from goose_spark.operators.similarity import IVF_K, trained_ivf

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    cmat = np.asarray(trained_ivf(spark, sf_dir), dtype=np.float64)
    spark.stop()

    print(f"\n## ss3 inline IVF (k={IVF_K}) — recall vs nprobe")
    print("| nprobe | recall@10 | cand_frac |")
    print("|---|---|---|")
    for nprobe in range(1, 9):
        r, cf = ivf_recall(mat, truth, cmat, nprobe)
        print(f"| {nprobe} | {r:.3f} | {cf:.3f} |")

    print("\n## ss6 PQ — recall vs m × bits (refine 1 = raw ADC, 4 = production)")
    print("| m | bits | bytes/vec | recall@10 r=1 | r=2 | r=4 | r=8 |")
    print("|---|---|---|---|---|---|---|")
    for m, bits in [(4, 8), (8, 4), (8, 6), (8, 8), (16, 4), (16, 8)]:
        books = train_books_np(mat, m, 1 << bits)
        rs = [pq_recall(mat, truth, m, bits, r, books=books) for r in (1, 2, 4, 8)]
        print(f"| {m} | {bits} | {m * bits // 8 if bits >= 8 else m} "
              f"| {rs[0]:.3f} | {rs[1]:.3f} | {rs[2]:.3f} | {rs[3]:.3f} |")

    print("\n## ss7 IVFPQ (k=16, m=8, bits=8) — recall vs nprobe × refine")
    print("| nprobe | cand_frac | recall@10 r=1 | r=4 (production) | r=8 |")
    print("|---|---|---|---|---|")
    books = train_books_np(mat, 8, 256)
    for nprobe in (1, 2, 3, 4, 6, 8):
        r1, cf = ivfpq_recall(mat, truth, cmat, books, nprobe, 1)
        r4, _ = ivfpq_recall(mat, truth, cmat, books, nprobe, 4)
        r8, _ = ivfpq_recall(mat, truth, cmat, books, nprobe, 8)
        print(f"| {nprobe} | {cf:.3f} | {r1:.3f} | {r4:.3f} | {r8:.3f} |")


if __name__ == "__main__":
    main()
