"""ANN quality gate: the LSH path must recall a healthy fraction of the
exact brute-force top-k (it is approximate — the driver only rows-checks
it, so the recall bar lives here)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from goose_spark.queries import load_all
from tests.conftest import SF_CORRECT, cells_read, probed_cells

REGISTRY = load_all()


def test_ann_recall_vs_bruteforce(spark):
    exact = REGISTRY["ss1_cosine_topk_bruteforce"].builder(spark, SF_CORRECT).collect()
    approx = REGISTRY["ss2_ann_lsh"].builder(spark, SF_CORRECT).collect()
    truth = {}
    for r in exact:
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    got = {}
    for r in approx:
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [
        len(truth[q] & got.get(q, set())) / len(truth[q]) for q in truth
    ]
    avg = sum(recalls) / len(recalls)
    # Measured curve (RECALL_CURVES.md): 4×4 banding = 0.41 @ sf0.01 /
    # 0.45 @ sf0.1 for 24% of the corpus scored. Near-orthogonal noise
    # is the pathological case for sign-LSH (true neighbors at 60-73°);
    # no banding reaches 0.8 below ~53% of the corpus scored, so the
    # floor stays 0.4 WITH that written justification — on a real
    # near-dup corpus (cos ≥ 0.8) the same banding clears 0.8.
    assert avg >= 0.4, f"ANN recall too low: {avg:.2f} (per-query {recalls})"


def test_ivf_recall_vs_bruteforce(spark):
    exact = REGISTRY["ss1_cosine_topk_bruteforce"].builder(spark, SF_CORRECT).collect()
    approx = REGISTRY["ss3_ann_ivf"].builder(spark, SF_CORRECT).collect()
    truth, got = {}, {}
    for r in exact:
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in approx:
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [len(truth[q] & got.get(q, set())) / len(truth[q]) for q in truth]
    avg = sum(recalls) / len(recalls)
    # Measured curve (RECALL_CURVES.md): nprobe=3/16 = 0.82 @ sf0.01 /
    # 0.93 @ sf0.1 for 19% of the corpus scored; the curve flattens
    # past nprobe≈6. Floor raised 0.6 → 0.8 to the measured-curve
    # standard (round-9 directive #5); deterministic data + seeds keep
    # the measurement stable.
    assert avg >= 0.8, f"IVF recall too low: {avg:.2f} (per-query {recalls})"


def test_ann_scores_match_exact_for_shared_neighbors(spark):
    exact = {
        (r["query_id"], r["neighbor_id"]): r["score"]
        for r in REGISTRY["ss1_cosine_topk_bruteforce"].builder(spark, SF_CORRECT).collect()
    }
    approx = REGISTRY["ss2_ann_lsh"].builder(spark, SF_CORRECT).collect()
    for r in approx:
        key = (r["query_id"], r["neighbor_id"])
        if key in exact:
            assert abs(exact[key] - r["score"]) < 1e-9


def test_lsh_blocked_near_dup_recall_and_precision(spark):
    """The LSH-blocked dd5 variant: every returned pair is exact-cosine
    verified (precision 1.0 by construction) and recall vs the
    label-blocked exact pair set clears a floor on this corpus."""
    from goose_spark.operators.dedup import embedding_near_dup_lsh_blocked

    exact = {
        (r["a_id"], r["b_id"])
        for r in REGISTRY["dd5_embedding_near_dup"].builder(spark, SF_CORRECT).collect()
    }
    lsh = {
        (r["a_id"], r["b_id"], r["cos"])
        for r in embedding_near_dup_lsh_blocked(spark, SF_CORRECT).collect()
    }
    assert all(c >= 0.4 for _, _, c in lsh)  # in-kernel verification
    lsh_pairs_set = {(a, b) for a, b, _ in lsh}
    if exact:
        recall = len(lsh_pairs_set & exact) / len(exact)
        assert recall >= 0.6, f"recall {recall} below floor"


def test_lsh_blocked_hot_bucket_cap(spark, tmp_path):
    """The max_bucket frequency cap bounds the O(bucket²) kernel on a
    degenerate corpus: 1500 identical embeddings land in ONE bucket per
    band (2.25M-pair kernel uncapped); with the cap those buckets are
    dropped — no pair between degenerate ids survives — while genuine
    near-dup pairs in small buckets are still found (recall pinned)."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from goose_spark.operators.dedup import embedding_near_dup_lsh_blocked

    rng = np.random.RandomState(7)
    rows = []
    degenerate = rng.randn(64).astype("f4")
    for i in range(1500):  # the hot bucket: one sign pattern, all bands
        rows.append((i, degenerate.tolist(), 0))
    true_pairs = set()
    for j in range(20):  # distinct near-dup pairs in selective buckets
        base = rng.randn(64).astype("f4")
        jit = (base + rng.randn(64).astype("f4") * 0.01).astype("f4")
        a, b = 10_000 + 2 * j, 10_001 + 2 * j
        rows.append((a, base.tolist(), 1))
        rows.append((b, jit.tolist(), 1))
        true_pairs.add((a, b))
    tbl = pa.table(
        {
            "vec_id": pa.array([r[0] for r in rows], pa.int64()),
            "embedding": pa.array([r[1] for r in rows], pa.list_(pa.float32())),
            "label": pa.array([r[2] for r in rows], pa.int32()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "embeddings.parquet"))

    capped = embedding_near_dup_lsh_blocked(
        spark, str(tmp_path), max_bucket=100
    ).collect()
    got = {(r["a_id"], r["b_id"]) for r in capped}
    # every degenerate-bucket pair dropped: bounded kernel input
    assert not any(a < 1500 and b < 1500 for a, b in got)
    # genuine near-dups still found through their small buckets
    found = len(got & true_pairs) / len(true_pairs)
    assert found >= 0.9, f"capped recall {found} on selective pairs"


def test_ivf_index_lifecycle(spark, tmp_path, monkeypatch):
    """Persisted IVF index: build writes the cluster-partitioned layout,
    the serve reads only the probed cells (the driver placement's
    pyarrow reads; PartitionFilters on the in-cell placement's scan),
    recall clears the ss3 floor, and a second query batch reuses the
    index without rebuilding (the file set is untouched)."""
    import os

    import goose_spark.operators.annindex as ai
    from goose_spark.operators.annindex import build_ivf_index, ivf_index_query
    from goose_spark.operators.similarity import _embeddings, IVF_K, IVF_NPROBE, N_QUERIES
    from goose_spark.plans.inspect import report

    idx = str(tmp_path / "ivf")
    man = build_ivf_index(spark, SF_CORRECT, idx)
    assert man["k"] == IVF_K
    cells = [d for d in os.listdir(os.path.join(idx, "assignments"))
             if d.startswith("cluster=")]
    assert 1 < len(cells) <= IVF_K  # genuinely partitioned by cell

    v = _embeddings(spark, SF_CORRECT)
    q = v.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qe")
    )
    read = cells_read(monkeypatch)
    res = ivf_index_query(spark, idx, q)
    assert read == probed_cells(spark, idx, q, IVF_NPROBE) and len(read) < len(cells)
    # partition pruning is in the in-cell placement's PLAN, not just hoped for
    with monkeypatch.context() as m:
        m.setattr(ai, "EMBEDDING_ROW_CAP", N_QUERIES)
        r = report(ivf_index_query(spark, idx, q))
    assert any("cluster" in pf for pf in
               __import__("re").findall(r"PartitionFilters: \[[^\]]*\]", r.text)), r.text

    exact = {
        (row["query_id"], row["neighbor_id"])
        for row in REGISTRY["ss1_cosine_topk_bruteforce"].builder(spark, SF_CORRECT).collect()
    }
    got_rows = res.collect()
    got = {(row["query_id"], row["neighbor_id"]) for row in got_rows}
    assert len(got & exact) / len(exact) >= 0.6

    # reuse: a second, different query batch against the same files
    import time
    mtimes = {f: os.path.getmtime(os.path.join(idx, "assignments", f))
              for f in cells}
    q2 = v.filter((F.col("vec_id") >= 5) & (F.col("vec_id") < 8)).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qe")
    )
    out2 = ivf_index_query(spark, idx, q2, topk=3).collect()
    assert {row["query_id"] for row in out2} == {5, 6, 7}
    assert all(os.path.getmtime(os.path.join(idx, "assignments", f)) == m
               for f, m in mtimes.items())  # index untouched


def test_shared_quantizer_trains_once(spark, tmp_path, monkeypatch):
    """ss3 (inline IVF), ss5 (IVF index build) and ss7 (IVF+PQ build)
    share ONE trained coarse quantizer per (session, sf) — the round-7
    sweep ran three identical k-means. Count actual _train_ivf calls
    across all three paths; codebooks likewise train once across
    ss6 + the IVF+PQ build."""
    from goose_spark.operators import annindex, pq, similarity

    similarity._IVF_CENTROIDS_CACHE.clear()
    pq._PQ_BOOKS_CACHE.clear()
    train_calls, book_calls = [], []
    real_train, real_books = similarity._train_ivf, pq.train_codebooks
    monkeypatch.setattr(
        similarity, "_train_ivf",
        lambda v: (train_calls.append(1), real_train(v))[1],
    )
    monkeypatch.setattr(
        pq, "train_codebooks",
        lambda v: (book_calls.append(1), real_books(v))[1],
    )

    REGISTRY["ss3_ann_ivf"].builder(spark, SF_CORRECT).collect()
    annindex.build_ivf_index(spark, SF_CORRECT, str(tmp_path / "i1"))
    annindex.build_ivfpq_index(spark, SF_CORRECT, str(tmp_path / "i2"))
    REGISTRY["ss6_ann_pq"].builder(spark, SF_CORRECT).collect()
    assert len(train_calls) == 1, f"k-means ran {len(train_calls)}× (want 1)"
    assert len(book_calls) == 1, f"codebooks trained {len(book_calls)}× (want 1)"


def test_cold_train_matches_cached_quantizer(spark):
    """A COLD _train_ivf (no cache) reproduces the session-cached
    quantizer bit-for-bit — the determinism the sharing relies on, and
    the cold build path's standing coverage."""
    import numpy as np

    from goose_spark.operators.similarity import (
        _embeddings, _train_ivf, trained_ivf,
    )

    cached = trained_ivf(spark, SF_CORRECT)
    cold = _train_ivf(_embeddings(spark, SF_CORRECT))
    assert np.array_equal(np.asarray(cached), np.asarray(cold))


def test_ivf_index_incremental_append(spark, tmp_path):
    """append_to_ivf_index absorbs new vectors without retraining:
    manifest n/version advance, old cells' files are untouched, and a
    query whose true nearest neighbor is an appended vector finds it
    (the append landed in the right cell)."""
    import os

    from goose_spark.operators.annindex import (
        append_to_ivf_index,
        build_ivf_index,
        ivf_index_query,
    )
    from goose_spark.operators.similarity import _embeddings

    idx = str(tmp_path / "ivf")
    man0 = build_ivf_index(spark, SF_CORRECT, idx)

    v = _embeddings(spark, SF_CORRECT)
    base = v.filter(F.col("vec_id") == 42).collect()[0]["emb"]
    # two near-copies of vector 42 (tiny perturbation keeps the cosine
    # ~1 and the cell assignment identical), fresh ids
    new = spark.createDataFrame(
        [(10_000_000, [x * 1.001 for x in base]),
         (10_000_001, [x * 0.999 for x in base])],
        "vec_id long, emb array<double>",
    )
    man1 = append_to_ivf_index(spark, new, idx)
    assert man1["n"] == man0["n"] + 2
    assert man1["version"] == man0["version"] + 1
    assert man1["k"] == man0["k"]

    q = spark.createDataFrame([(42, base)], "query_id long, qe array<double>")
    got = ivf_index_query(spark, idx, q, topk=3).collect()
    ids = [r["neighbor_id"] for r in got]
    assert set(ids[:2]) == {10_000_000, 10_000_001}, ids


def test_knn_label_propagation_matches_numpy_recompute(spark):
    """ss19 cross-check: recompute the k-NN vote with numpy over the
    collected embeddings — predictions, vote counts and the correct
    flag must agree exactly (including the votes-desc/label-asc
    tie-break)."""
    import numpy as np

    from goose_spark.operators.similarity import _SS19_K, _SS19_QUERY_MOD
    from goose_spark.queries.base import t as _t

    rows = _t(spark, SF_CORRECT, "embeddings").collect()
    ids = np.array([r["vec_id"] for r in rows])
    labs = np.array([r["label"] for r in rows])
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    is_q = ids % _SS19_QUERY_MOD == 0
    expect = {}
    for qi in np.flatnonzero(is_q):
        cos = mat[~is_q] @ mat[qi]
        nid, nlab = ids[~is_q], labs[~is_q]
        order = np.lexsort((nid, -cos))[:_SS19_K]
        votes: dict = {}
        for la in nlab[order]:
            votes[la] = votes.get(la, 0) + 1
        pred = min(votes, key=lambda la: (-votes[la], la))
        expect[int(ids[qi])] = (int(pred), votes[pred],
                                bool(pred == labs[qi]))
    got = {
        r["vec_id"]: (r["pred_label"], r["votes"], r["correct"])
        for r in REGISTRY["ss19_knn_label_propagation"]
        .builder(spark, SF_CORRECT).collect()
    }
    assert got == expect


def test_indexed_label_propagation_agrees_with_exact(spark):
    """ss20 (IVF-served votes, nprobe 6/16) vs ss19 (exact): the whole
    pipeline is deterministic (seeded k-means, pinned tie-breaks), so
    the measured values — neighbor recall 0.742, prediction agreement
    0.60 on this corpus — are exact; the floors below are regression
    tripwires with margin, not quality claims. Agreement is capped by
    the corpus itself: labels are independent of geometry, so exact
    vote margins are mostly 0-1 and flip under any neighbor
    substitution (ss19's docstring states the same chance-accuracy
    caveat). Every query must still receive a prediction."""
    import numpy as np

    from goose_spark.operators.annindex import ivf_index_query
    from goose_spark.operators.similarity import (
        _SS19_K,
        _SS19_QUERY_MOD,
        _SS20_NPROBE,
        _embeddings,
        ivf_index_for,
    )
    from goose_spark.queries.base import t as _t
    from pyspark.sql import functions as F

    rows = _t(spark, SF_CORRECT, "embeddings").collect()
    ids = np.array([r["vec_id"] for r in rows])
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    is_q = ids % _SS19_QUERY_MOD == 0
    exact_sets = {}
    for qi in np.flatnonzero(is_q):
        cos = mat[~is_q] @ mat[qi]
        nid = ids[~is_q]
        order = np.lexsort((nid, -cos))[:_SS19_K]
        exact_sets[int(ids[qi])] = set(nid[order].tolist())

    v = _embeddings(spark, SF_CORRECT)
    q = v.filter(F.col("vec_id") % _SS19_QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qe")
    )
    lab = _t(spark, SF_CORRECT, "embeddings").select("vec_id", "label")
    allowed = lab.filter(F.col("vec_id") % _SS19_QUERY_MOD != 0).select("vec_id")
    knn = ivf_index_query(
        spark, ivf_index_for(spark, SF_CORRECT), q,
        nprobe=_SS20_NPROBE, topk=_SS19_K, allowed=allowed,
    ).collect()
    served_sets: dict = {}
    for r in knn:
        served_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recall = float(np.mean(
        [len(served_sets.get(k, set()) & s) / len(s)
         for k, s in exact_sets.items()]
    ))
    assert recall >= 0.70, f"neighbor recall {recall:.3f} below floor"

    exact = {
        r["vec_id"]: r["pred_label"]
        for r in REGISTRY["ss19_knn_label_propagation"]
        .builder(spark, SF_CORRECT).collect()
    }
    served = {
        r["vec_id"]: r["pred_label"]
        for r in REGISTRY["ss20_knn_label_propagation_indexed"]
        .builder(spark, SF_CORRECT).collect()
    }
    assert set(served) == set(exact), "every query must be predicted"
    agree = sum(1 for k in exact if served[k] == exact[k]) / len(exact)
    assert agree >= 0.55, f"agreement {agree:.2f} below floor"


@pytest.mark.parametrize("shape", ["pair", "matrix"])
def test_fold_dot_bit_exact_vs_spark_and_duckdb(spark, shape):
    """``fold_dot`` is the engine's one exact-cosine fold: it must equal
    Spark's ``_dot`` HOF (the serve family's byte-identity) and DuckDB's
    ``list_dot_product`` (ss19's hash oracle) to the last bit."""
    import duckdb
    import numpy as np
    import pandas as pd

    from goose_spark.operators.similarity import _dot, fold_dot

    rng = np.random.default_rng(20201)
    a = rng.standard_normal((12, 64)) * rng.uniform(0.01, 100.0, (12, 1))
    b = rng.standard_normal((7, 64))
    if shape == "pair":
        left, right = a[:7], b
        pairs = [(i, i) for i in range(7)]
        got = fold_dot(left, right)
    else:
        left, right = a, b
        pairs = [(i, j) for i in range(12) for j in range(7)]
        got = fold_dot(a[:, None, :], b[None, :, :])
    rows = [(i, j, left[i].tolist(), right[j].tolist()) for i, j in pairs]
    df = spark.createDataFrame(rows, "i int, j int, x array<double>, y array<double>")
    hof = {(r["i"], r["j"]): r["d"]
           for r in df.select("i", "j", _dot(F.col("x"), F.col("y")).alias("d")).collect()}
    con = duckdb.connect()
    con.register("pairs", pd.DataFrame(rows, columns=["i", "j", "x", "y"]))
    duck = {(i, j): d for i, j, d in con.execute(
        "SELECT i, j, list_dot_product(x::DOUBLE[], y::DOUBLE[]) FROM pairs").fetchall()}
    con.close()
    for i, j in pairs:
        g = float(got[i] if shape == "pair" else got[i, j])
        assert g.hex() == hof[i, j].hex() == duck[i, j].hex(), (i, j)
    # the fold is not np.dot: on these inputs a pairwise sum differs in
    # at least one last bit, so the test would notice a swap
    assert any(float(np.dot(left[i], right[j])) != hof[i, j] for i, j in pairs)
