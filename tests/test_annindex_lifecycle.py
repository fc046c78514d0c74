"""IVF index delete/compact lifecycle (round-8): removals land as
tombstones (no assignment rewrite on the delete path), both query forms
exclude tombstoned ids, appends still work after deletes, and compaction
rewrites ONLY affected cells — re-deriving the manifest from footers.
Reference analog: the dead-jobs purge surface
(/root/reference/src/goose/brokers/redis/api/dead_jobs.clj:49-57)."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from goose_spark.operators.annindex import (
    append_to_ivf_index,
    attach_index_stream,
    build_ivf_index,
    build_ivfpq_index,
    compact_ivf_index,
    delete_from_ivf_index,
    ivf_index_query,
    ivfpq_query,
)
from goose_spark.operators.similarity import _embeddings, N_QUERIES
from goose_spark.plans.profile import group_profile, job_group
from tests.conftest import SF_CORRECT, SF_SMOKE
import pytest


def _queries(spark):
    v = _embeddings(spark, SF_CORRECT)
    return v.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qe")
    )


def test_delete_excludes_removed_and_rederives_n(spark, tmp_path):
    idx = str(tmp_path / "ivf")
    man0 = build_ivf_index(spark, SF_CORRECT, idx)

    q = _queries(spark)
    before = ivf_index_query(spark, idx, q).collect()
    victim = before[0]["neighbor_id"]  # a top hit — must vanish

    man1 = delete_from_ivf_index(spark, idx, [victim])
    assert man1["n"] == man0["n"] - 1  # live count, not physical
    assert man1["deleted"] == 1
    assert man1["version"] == man0["version"] + 1

    after = ivf_index_query(spark, idx, q).collect()
    assert victim not in {r["neighbor_id"] for r in after}
    # still a full top-k per query: the candidate pool shrank by one row
    assert {r["query_id"] for r in after} == {r["query_id"] for r in before}


def test_ivfpq_query_also_excludes_tombstoned(spark, tmp_path):
    idx = str(tmp_path / "ivfpq")
    build_ivfpq_index(spark, SF_CORRECT, idx)
    q = _queries(spark)
    before = ivfpq_query(spark, idx, q).collect()
    victim = before[0]["neighbor_id"]
    delete_from_ivf_index(spark, idx, [victim])
    after = ivfpq_query(spark, idx, q).collect()
    assert victim not in {r["neighbor_id"] for r in after}


def test_append_after_delete_round_trip(spark, tmp_path):
    """delete → append → query: the appended vectors are found, the
    deleted id stays invisible (tombstones outlive appends until
    compaction), and compaction preserves both facts."""
    idx = str(tmp_path / "ivf")
    man0 = build_ivf_index(spark, SF_CORRECT, idx)
    v = _embeddings(spark, SF_CORRECT)
    base = v.filter(F.col("vec_id") == 42).collect()[0]["emb"]

    delete_from_ivf_index(spark, idx, [42])
    new = spark.createDataFrame(
        [(20_000_000, [x * 1.001 for x in base]),
         (20_000_001, [x * 0.999 for x in base])],
        "vec_id long, emb array<double>",
    )
    man2 = append_to_ivf_index(spark, new, idx)
    # n is LIVE rows everywhere: +2 appended, id 42 still tombstoned
    assert man2["n"] == man0["n"] + 2 - 1

    qdf = spark.createDataFrame([(0, base)], "query_id long, qe array<double>")
    got = [r["neighbor_id"] for r in ivf_index_query(spark, idx, qdf, topk=3).collect()]
    assert set(got[:2]) == {20_000_000, 20_000_001}
    assert 42 not in got

    man3 = compact_ivf_index(spark, idx)
    assert man3["deleted"] == 0
    assert man3["n"] == man0["n"] + 2 - 1  # physical == live after drain
    got2 = [r["neighbor_id"] for r in ivf_index_query(spark, idx, qdf, topk=3).collect()]
    assert got2 == got  # compaction changes files, never results


def test_compact_rewrites_only_affected_cells(spark, tmp_path):
    idx = str(tmp_path / "ivf")
    build_ivf_index(spark, SF_CORRECT, idx)
    adir = os.path.join(idx, "assignments")
    rows = spark.read.parquet(adir).select("vec_id", "cluster").collect()
    by_cell: dict = {}
    for r in rows:
        by_cell.setdefault(r["cluster"], []).append(r["vec_id"])
    cells = sorted(by_cell, key=lambda c: len(by_cell[c]))
    victim_cell, untouched = cells[0], cells[-1]
    assert victim_cell != untouched

    def mtimes(cell):
        d = os.path.join(adir, f"cluster={cell}")
        return {f: os.path.getmtime(os.path.join(d, f)) for f in os.listdir(d)}

    before = mtimes(untouched)
    # drain the ENTIRE smallest cell → compact must remove its directory
    delete_from_ivf_index(spark, idx, by_cell[victim_cell])
    man = compact_ivf_index(spark, idx)
    assert not os.path.exists(os.path.join(adir, f"cluster={victim_cell}"))
    assert mtimes(untouched) == before  # unaffected cell: zero rewrites
    assert not os.path.exists(os.path.join(idx, "tombstones"))
    assert man["n"] == sum(len(v) for c, v in by_cell.items() if c != victim_cell)

    # the index still serves: probes may name the dead cell; the scan of
    # the remaining cells carries the query
    q = _queries(spark)
    out = ivf_index_query(spark, idx, q).collect()
    assert {r["query_id"] for r in out} == set(range(N_QUERIES))
    assert not any(r["neighbor_id"] in set(by_cell[victim_cell]) for r in out)


def test_compact_noop_without_tombstones(spark, tmp_path):
    idx = str(tmp_path / "ivf")
    man0 = build_ivf_index(spark, SF_CORRECT, idx)
    man1 = compact_ivf_index(spark, idx)
    assert man1 == {**man0}  # version untouched — nothing pending


def test_duplicate_append_then_delete_counts_hidden_rows(spark, tmp_path):
    """An id appended twice has two assignment rows; deleting it hides
    BOTH (_live_cells anti-joins on vec_id), so manifest n must drop by
    the hidden ROW count, not by one-per-distinct-id — and compaction
    must land on the same number."""
    idx = str(tmp_path / "ivf")
    man0 = build_ivf_index(spark, SF_CORRECT, idx)
    v = _embeddings(spark, SF_CORRECT)
    base = v.filter(F.col("vec_id") == 42).collect()[0]["emb"]

    dup = spark.createDataFrame([(42, base)], "vec_id long, emb array<double>")
    man1 = append_to_ivf_index(spark, dup, idx)
    assert man1["n"] == man0["n"] + 1  # two rows for id 42 now

    man2 = delete_from_ivf_index(spark, idx, [42])
    assert man2["deleted"] == 1  # one pending id...
    assert man2["n"] == man0["n"] - 1  # ...but BOTH its rows are hidden

    qdf = spark.createDataFrame([(0, base)], "query_id long, qe array<double>")
    got = {r["neighbor_id"] for r in ivf_index_query(spark, idx, qdf).collect()}
    assert 42 not in got

    man3 = compact_ivf_index(spark, idx)
    assert man3["n"] == man2["n"]  # physical now equals live


@pytest.mark.parametrize(
    "build,query",
    [(build_ivfpq_index, ivfpq_query), (build_ivf_index, ivf_index_query)],
    ids=["ivfpq", "ivf_serve"],
)
def test_ivfpq_duplicate_rows_do_not_eat_rank_slots(spark, tmp_path, build, query):
    """Duplicate assignment rows for one vec_id (append of an existing
    id) must yield ONE candidate in the exact re-rank, not two rows
    occupying consecutive ranks. ``ivf_serve`` is the ss5 serve path,
    whose corpus-side ``distinct`` carries the same invariant."""
    idx = str(tmp_path / "ivf")
    build(spark, SF_CORRECT, idx)
    v = _embeddings(spark, SF_CORRECT)
    some = v.filter(F.col("vec_id").isin([7, 8, 9])).collect()
    dup = spark.createDataFrame(
        [(int(r["vec_id"]), r["emb"]) for r in some],
        "vec_id long, emb array<double>",
    )
    append_to_ivf_index(spark, dup, idx)

    q = _queries(spark)
    out = query(spark, idx, q).collect()
    per_q: dict = {}
    for r in out:
        per_q.setdefault(r["query_id"], []).append(r["neighbor_id"])
    for qid, neigh in per_q.items():
        assert len(neigh) == len(set(neigh)), f"dup neighbor for query {qid}"


def test_reappended_id_stays_invisible_across_cells(spark, tmp_path):
    """The delete contract ('invisible even if re-appended, until
    compact') must hold when the re-appended embedding lands in a
    DIFFERENT cell than the tombstone recorded — both on the read path
    (tombstone anti-join is corpus-wide on vec_id, not pruned to the
    recorded cell) and through compaction (affected cells come from
    where tombstoned rows actually live, so the foreign-cell row cannot
    resurface once tombstones drain)."""
    idx = str(tmp_path / "ivf")
    man0 = build_ivf_index(spark, SF_CORRECT, idx)
    rows = spark.read.parquet(os.path.join(idx, "assignments")).select(
        "vec_id", "cluster"
    ).collect()
    cell_of = {r["vec_id"]: r["cluster"] for r in rows}
    v = _embeddings(spark, SF_CORRECT)
    # a donor vector from a different cell: its embedding re-assigns 42
    # away from the tombstone's recorded cell
    donor = next(i for i in cell_of if cell_of[i] != cell_of[42])
    demb = v.filter(F.col("vec_id") == donor).collect()[0]["emb"]

    man1 = delete_from_ivf_index(spark, idx, [42])
    assert man1["n"] == man0["n"] - 1
    reapp = spark.createDataFrame([(42, demb)], "vec_id long, emb array<double>")
    man2 = append_to_ivf_index(spark, reapp, idx)
    assert man2["n"] == man0["n"] - 1  # +1 appended, but still hidden

    qdf = spark.createDataFrame([(0, demb)], "query_id long, qe array<double>")
    got = {r["neighbor_id"] for r in ivf_index_query(spark, idx, qdf).collect()}
    assert 42 not in got  # read path: hidden in the foreign cell too

    man3 = compact_ivf_index(spark, idx)
    assert man3["deleted"] == 0
    assert man3["n"] == man0["n"] - 1  # both 42 rows physically gone
    got2 = {r["neighbor_id"] for r in ivf_index_query(spark, idx, qdf).collect()}
    assert 42 not in got2  # compaction did not resurrect it


def test_streaming_index_maintenance_is_effect_once(spark, tmp_path):
    """attach_index_stream: new vectors flow into the index per
    micro-batch; a crash-replay (checkpoint commit removed, batch
    re-runs) does NOT double-append because the batch runs under an
    effect-once marker; later genuinely-new batches still land."""
    import shutil

    idx = str(tmp_path / "ivf")
    man0 = build_ivf_index(spark, SF_CORRECT, idx)
    v = _embeddings(spark, SF_CORRECT)
    base = v.filter(F.col("vec_id") == 42).collect()[0]["emb"]

    src = tmp_path / "src"
    src.mkdir()
    ck = str(tmp_path / "ck")
    schema = "vec_id long, emb array<double>"
    batch1 = spark.createDataFrame(
        [(30_000_000 + i, [x * (1 + 0.001 * i) for x in base]) for i in range(3)],
        schema,
    )
    batch1.coalesce(1).write.mode("append").parquet(str(src))

    stream = spark.readStream.schema(schema).parquet(str(src))
    attach_index_stream(stream, idx, ck).awaitTermination()
    with open(os.path.join(idx, "manifest.json")) as fh:
        assert json.load(fh)["n"] == man0["n"] + 3

    # crash between append and checkpoint commit: drop the commit
    # marker, restart — Spark replays the batch, the marker suppresses
    shutil.rmtree(os.path.join(ck, "commits"))
    stream = spark.readStream.schema(schema).parquet(str(src))
    attach_index_stream(stream, idx, ck).awaitTermination()
    with open(os.path.join(idx, "manifest.json")) as fh:
        assert json.load(fh)["n"] == man0["n"] + 3  # no double-append

    # a genuinely new batch still lands (next batch id, fresh marker)
    spark.createDataFrame(
        [(30_000_100, [x * 1.01 for x in base])], schema
    ).coalesce(1).write.mode("append").parquet(str(src))
    stream = spark.readStream.schema(schema).parquet(str(src))
    attach_index_stream(stream, idx, ck).awaitTermination()
    with open(os.path.join(idx, "manifest.json")) as fh:
        assert json.load(fh)["n"] == man0["n"] + 4

    qdf = spark.createDataFrame([(0, base)], "query_id long, qe array<double>")
    got = {r["neighbor_id"] for r in ivf_index_query(spark, idx, qdf, topk=5).collect()}
    assert got & {30_000_000, 30_000_001, 30_000_002, 30_000_100}


# ---------------------------------------------------------------------------
# range search (ss11)
# ---------------------------------------------------------------------------


def _brute_range(spark, tau):
    """Exact cosine range-neighbor set over the sf0.01 corpus."""
    import numpy as np

    rows = _embeddings(spark, SF_CORRECT).collect()
    ids = np.array([r["vec_id"] for r in rows])
    mat = np.array([r["emb"] for r in rows], dtype=np.float64)
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    out = {}
    for qi in range(int(N_QUERIES)):
        qpos = int(np.where(ids == qi)[0][0])
        cos = mat @ mat[qpos]
        hits = {int(i) for i, c in zip(ids, cos) if c >= tau and int(i) != qi}
        out[qi] = hits
    return out


def test_range_search_recall_and_exact_scores(spark, tmp_path):
    from goose_spark.operators.annindex import ivf_range_search

    tau = 0.25
    idx = str(tmp_path / "ivf-range")
    build_ivf_index(spark, SF_CORRECT, idx)
    got = ivf_range_search(spark, idx, _queries(spark), tau=tau).collect()

    exact = _brute_range(spark, tau)
    n_true = sum(len(v) for v in exact.values())
    assert n_true > 0  # the radius must be non-trivial at this sf

    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    # no false positives: every returned neighbor IS within the radius
    for qid, hits in by_q.items():
        assert hits <= exact[qid]
    # probed-cell recall floor — same bar as the top-k serve path
    found = sum(len(by_q.get(q, set()) & exact[q]) for q in exact)
    assert found / n_true >= 0.8

    # returned scores are exact full-precision cosines (round 6)
    import numpy as np

    rows = {r["vec_id"]: np.array(r["emb"], dtype=np.float64)
            for r in _embeddings(spark, SF_CORRECT).collect()}
    for r in got[:50]:
        a, b = rows[r["query_id"]], rows[r["neighbor_id"]]
        want = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert abs(r["score"] - round(want, 6)) < 1e-9


def test_range_search_excludes_tombstoned(spark, tmp_path):
    from goose_spark.operators.annindex import ivf_range_search

    idx = str(tmp_path / "ivf-range-del")
    build_ivf_index(spark, SF_CORRECT, idx)
    q = _queries(spark)
    before = ivf_range_search(spark, idx, q, tau=0.25).collect()
    assert before, "need at least one in-radius neighbor to delete"
    victim = before[0]["neighbor_id"]
    delete_from_ivf_index(spark, idx, [victim])
    after = ivf_range_search(spark, idx, q, tau=0.25).collect()
    assert victim not in {r["neighbor_id"] for r in after}


def test_inplace_rebuild_invalidates_cached_quantizers(spark, tmp_path):
    """ADVICE r14: rebuilding an index at an existing index_dir within a
    session must not leave the previous build's centroids current in the
    (index_dir, version)-keyed session cache — the rebuild continues the
    version counter instead of resetting to 1."""
    from goose_spark.operators.annindex import (
        _centroid_matrix,
        build_ivf_index_from,
    )

    idx = str(tmp_path / "ivf-rebuild")
    vecs = spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(10)],
        "vec_id long, emb array<double>",
    )
    man0 = build_ivf_index_from(spark, vecs, [[0.0, 0.0], [9.0, 0.0]], idx)
    assert man0["version"] == 1
    m0 = _centroid_matrix(spark, idx)  # prime the session cache
    assert m0[0].tolist() == [0.0, 0.0]

    man1 = build_ivf_index_from(spark, vecs, [[1.0, 1.0], [8.0, 1.0]], idx)
    assert man1["version"] == man0["version"] + 1
    m1 = _centroid_matrix(spark, idx)  # must see the NEW quantizer
    assert m1[0].tolist() == [1.0, 1.0]


def _smoke_queries(spark, n):
    v = _embeddings(spark, SF_SMOKE)
    return v.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qe")
    )


def test_ivfpq_query_rejects_batch_over_cap(spark, tmp_path, monkeypatch):
    """ADC builds its per-query tables from the query list in the
    driver, so ivfpq_query collects the batch bounded by
    EMBEDDING_ROW_CAP and refuses a larger one instead of pulling it in."""
    import goose_spark.operators.annindex as ai

    idx = str(tmp_path / "ivfpq")
    build_ivfpq_index(spark, SF_SMOKE, idx)
    q = _smoke_queries(spark, 5)
    assert ivfpq_query(spark, idx, q).count() > 0
    monkeypatch.setattr(ai, "EMBEDDING_ROW_CAP", 4)  # 5 queries > cap
    with pytest.raises(ValueError, match="exceeds 4 rows"):
        ivfpq_query(spark, idx, q)


def test_ivfpq_serve_job_budget(spark):
    """ss7's serve runs one probe collect (probe map, probed cells and
    query list together; a JVM-only projection, probed in the driver)
    instead of two unbounded collects: at most 10 Spark jobs at sf0.001
    with the index and codebooks already built (11 with the separate
    probe and query collects)."""
    from goose_spark.queries import load_all

    ss7 = load_all()["ss7_ann_ivfpq"].builder
    want = [tuple(r) for r in ss7(spark, SF_SMOKE).collect()]  # builds the index
    with job_group(spark, "test-ss7-job-budget"):
        got = [tuple(r) for r in ss7(spark, SF_SMOKE).collect()]
    jobs = group_profile(spark, "test-ss7-job-budget")["jobs"]
    assert got == want and len(got) > 0
    assert 0 < jobs <= 10, jobs


def test_ivf_serve_job_budget(spark):
    """Warm ss5 at sf0.001 runs one Spark job, the query-batch collect:
    its probed cells hold at most EMBEDDING_ROW_CAP footer rows, so they
    are read, scored and ranked in the driver, and the result is a
    LocalRelation (7 jobs with the in-cell ``mapInPandas`` stage)."""
    from goose_spark.queries import load_all

    ss5 = load_all()["ss5_ann_ivf_index"].builder
    want = [tuple(r) for r in ss5(spark, SF_SMOKE).collect()]  # builds the index
    with job_group(spark, "test-ss5-job-budget"):
        got = [tuple(r) for r in ss5(spark, SF_SMOKE).collect()]
    jobs = group_profile(spark, "test-ss5-job-budget")["jobs"]
    assert got == want and len(got) > 0
    assert jobs <= 1, jobs


def test_session_index_dirs_are_removed(spark):
    """The session index caches remove their temp dirs: a rebuilt entry's
    old dir at once, every dir on ``remove_index_dirs`` (run at
    interpreter exit)."""
    from goose_spark.operators import similarity as sim

    old = sim.ivf_index_for(spark, SF_SMOKE)
    os.remove(os.path.join(old, "manifest.json"))
    idx = sim.ivf_index_for(spark, SF_SMOKE)
    assert idx != old and not os.path.exists(old)
    pq_idx = sim.ivfpq_index_for(spark, SF_SMOKE)
    sim.remove_index_dirs()
    assert not os.path.exists(idx) and not os.path.exists(pq_idx)
    assert SF_SMOKE not in sim._IVF_INDEX_DIRS and SF_SMOKE not in sim._IVFPQ_INDEX_DIRS
