"""Persisted IVF ANN index — the index LIFECYCLE the inline ss3 query
skips: build once (k-means train + assign), persist as parquet
partitioned BY CLUSTER, then serve any number of queries with
partition-pruned reads. At 100 TB this is the difference between an ANN
demo and an ANN system: training costs one pass, the index is a durable
table, and each query batch touches only ``nprobe/k`` of the corpus —
enforced by an actual ``PartitionFilters`` clause on the scan (the
probed-cluster set is ≤ k values, so the filter is always a tiny static
IN list, never a join the planner might not prune through).

Reuses ss3's deterministic trainer (``similarity._train_ivf``: fused
assign+partial-sum kernel, k×dim driver traffic per iteration) and
assignment kernel (one matmul per Arrow batch).
"""

from __future__ import annotations

import json
import os
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from goose_spark.plans.guards import EMBEDDING_ROW_CAP
from goose_spark.operators.similarity import (
    _DIM,
    _embeddings,
    _train_ivf,  # noqa: F401 — re-exported for cold-build tests
    cosine,
    fold_dot,
    rank_top_k,
    trained_ivf,
    IVF_NPROBE,
    TOP_K,
)


def _assign_with_emb(v: DataFrame, centroids, books=None) -> DataFrame:
    """Nearest-centroid assignment carrying the embedding through — one
    matmul per Arrow batch, no shuffle join back to the corpus (cf.
    similarity._assign, which returns ids only and would need the
    join). With ``books`` (PQ codebooks) the same Arrow pass also
    encodes each vector's PQ code — the fused assign+encode every
    IVFPQ write path (build AND append) must use, so appended rows can
    never land code-less in a coded assignments table. Shared by the
    initial build and incremental append."""
    import numpy as np

    cmat = np.asarray(centroids, dtype=np.float64)
    bk = None if books is None else np.asarray(books)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from goose_spark.operators.pq import pq_encode

        for pdf in batches:
            mat = np.asarray(list(pdf["emb"]), dtype=np.float64)
            scores = mat @ cmat.T - 0.5 * (cmat * cmat).sum(axis=1)[None, :]
            cols = {
                "cluster": scores.argmax(axis=1).astype("int32"),
                "vec_id": pdf["vec_id"],
                "emb": pdf["emb"],
            }
            if bk is not None:
                cols["code"] = [c.tobytes() for c in pq_encode(mat, bk)]
            yield pd.DataFrame(cols)

    schema = "cluster int, vec_id long, emb array<double>"
    if books is not None:
        schema += ", code binary"
    return v.mapInPandas(kernel, schema=schema)


def build_ivf_index_from(spark: SparkSession, vectors: DataFrame,
                         centroids, index_dir: str) -> dict:
    """Materialize an IVF index from ANY (``vec_id``, ``emb``) frame and
    a trained coarse quantizer: ``centroids/`` (k rows) + ``assignments/``
    parquet partitioned by ``cluster`` (id + embedding co-located per
    cell) + ``manifest.json``. ``build_ivf_index`` is the testdata-bound
    convenience wrapper; pipelines with their own embedding stage (e.g.
    examples/retrieval_pipeline.py) call this directly."""
    k = len(centroids)
    dim = len(centroids[0]) if k else _DIM
    spark.createDataFrame(
        [(i, list(c)) for i, c in enumerate(centroids)],
        "cluster int, centroid array<double>",
    ).repartition(1).write.mode("overwrite").parquet(os.path.join(index_dir, "centroids"))
    assigned = _assign_with_emb(vectors, centroids)
    (
        assigned.select("cluster", "vec_id", "emb")
        # co-locate each cell before the partitioned write: one file per
        # cell instead of (tasks × cells) tiny files — at corpus scale
        # this is the difference between k files and k×10⁴ files
        .repartition("cluster")
        .write.mode("overwrite")
        .partitionBy("cluster")
        .parquet(os.path.join(index_dir, "assignments"))
    )
    # row count from the written index's parquet footers — a v.count()
    # here would re-execute the whole embeddings pipeline a third time.
    # version continues from any manifest already at index_dir (ADVICE
    # r14): an in-place rebuild must invalidate the session-scoped
    # centroid/codebook caches keyed (index_dir, version), or serves in
    # the same session would keep the previous build's quantizers.
    manifest = {"k": k, "dim": dim, "n": _count_index_rows(index_dir),
                "version": max(_manifest_version(index_dir), 0) + 1}
    with open(os.path.join(index_dir, "manifest.json"), "w") as fh:
        json.dump(manifest, fh)
    return manifest


def build_ivf_index(spark: SparkSession, sf: str, index_dir: str) -> dict:
    """Train the coarse quantizer and materialize the index for the
    testdata embeddings table. The coarse quantizer comes from the
    session cache (``similarity.trained_ivf`` — ONE deterministic
    k-means per (session, sf) shared with ss3/ss7) and is persisted
    alongside the index, so later opens never retrain."""
    return build_ivf_index_from(
        spark, _embeddings(spark, sf), trained_ivf(spark, sf), index_dir
    )


#: Session-scoped centroid-matrix / codebook caches keyed
#: (index_dir, manifest version): the serve path previously paid a
#: parquet read + collect for the ≤k×dim centroid table on EVERY call
#: (2 Spark jobs), though the matrix is immutable for a given index
#: version. The manifest version — bumped by every append/delete/
#: compact — is the invalidation key, read driver-side (no job); one
#: entry per index_dir (old versions evicted on write).
_CENTROID_CACHE: dict = {}
_BOOKS_CACHE: dict = {}


def index_manifest(index_dir: str) -> dict:
    """The index's manifest.json (k, dim, n = live rows, version) —
    a driver-side file read, zero Spark jobs. ``n`` is maintained by
    every writer (build/append/delete/compact), so serve-path callers
    that only need the corpus size (e.g. selectivity-scaled probing)
    read it here instead of paying a count job."""
    with open(os.path.join(index_dir, "manifest.json")) as fh:
        return json.load(fh)


def _manifest_version(index_dir: str) -> int:
    try:
        with open(os.path.join(index_dir, "manifest.json")) as fh:
            return int(json.load(fh).get("version", 0))
    except OSError:
        return -1


def _centroid_matrix(spark: SparkSession, index_dir: str):
    """The index's centroid matrix as an ndarray, session-cached per
    (index_dir, manifest version)."""
    import numpy as np

    ver = _manifest_version(index_dir)
    hit = _CENTROID_CACHE.get(index_dir)
    if hit is not None and hit[0] == ver:
        return hit[1]
    cent = (
        spark.read.parquet(os.path.join(index_dir, "centroids"))
        .orderBy("cluster")
        .collect()
    )
    cmat = np.asarray([r["centroid"] for r in cent], dtype=np.float64)
    _CENTROID_CACHE[index_dir] = (ver, cmat)
    return cmat


def _probe_qe_kernel(cmat, nprobe: int):
    """The nearest-``nprobe``-centroid probe kernel — the ONE probe
    implementation every index serve shares (cloudpickle ships cmat by
    value into the closure). Emits ONE row per query — (query_id, qe,
    clusters) — so a single bounded collect serves the probed-cell set,
    the per-query probe map AND the query-embedding batch (the qe values
    pass through untouched)."""
    import numpy as np

    def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mat = np.asarray(list(pdf["qe"]), dtype=np.float64)
            scores = mat @ cmat.T - 0.5 * (cmat * cmat).sum(axis=1)[None, :]
            top = np.argsort(-scores, axis=1)[:, :nprobe]
            yield pd.DataFrame({
                "query_id": pdf["query_id"],
                "qe": pdf["qe"],
                "clusters": [[int(c) for c in cl] for cl in top],
            })

    return probe


def _probe(queries: DataFrame, cmat, nprobe: int):
    """(per-query probe rows, their bounded collect): the frame stays
    distributed for the oversized-batch path; the collect stops at
    ``EMBEDDING_ROW_CAP + 1`` rows, so an unbounded query batch never
    lands on the driver — callers test ``len(rows) > EMBEDDING_ROW_CAP``."""
    probes = queries.mapInPandas(
        _probe_qe_kernel(cmat, nprobe),
        schema="query_id long, qe array<double>, clusters array<int>",
    )
    return probes, probes.limit(EMBEDDING_ROW_CAP + 1).collect()


def build_ivfpq_index(spark: SparkSession, sf: str, index_dir: str) -> dict:
    """IVF+PQ index (FAISS IndexIVFPQ shape): the IVF layout bounds
    what a query READS (partition-pruned cells), the PQ codes bound
    what the scan HOLDS (8 bytes/vector instead of 512). One combined
    Arrow pass assigns each vector to its coarse cell AND encodes its
    PQ code; assignments persist cluster-partitioned with BOTH the code
    (the scan column) and the embedding (the refine column — column
    pruning keeps it out of the ADC scan)."""
    from goose_spark.operators.pq import PQ_M, trained_codebooks

    v = _embeddings(spark, sf)
    centroids = trained_ivf(spark, sf)  # shared session k-means (ss3/ss5/ss7)
    k = len(centroids)
    spark.createDataFrame(
        [(i, c) for i, c in enumerate(centroids)],
        "cluster int, centroid array<double>",
    ).repartition(1).write.mode("overwrite").parquet(os.path.join(index_dir, "centroids"))
    books = trained_codebooks(spark, sf)  # shared with ss6's inline PQ
    spark.createDataFrame(
        [(m, kk, books[m, kk].tolist()) for m in range(books.shape[0])
         for kk in range(books.shape[1])],
        "m int, k int, centroid array<double>",
    ).repartition(1).write.mode("overwrite").parquet(os.path.join(index_dir, "books"))
    (
        # fused assign+encode: one Arrow pass, both the cell argmax and
        # pq.pq_encode (the shared encode routine) over the same batch
        _assign_with_emb(v, centroids, books=books)
        .repartition("cluster")
        .write.mode("overwrite")
        .partitionBy("cluster")
        .parquet(os.path.join(index_dir, "assignments"))
    )
    # version continues from any existing manifest (ADVICE r14): see
    # build_ivf_index_from — in-place rebuilds must not alias the
    # previous build's cached centroids/codebooks.
    manifest = {"k": k, "dim": _DIM, "pq_m": PQ_M,
                "n": _count_index_rows(index_dir),
                "version": max(_manifest_version(index_dir), 0) + 1}
    with open(os.path.join(index_dir, "manifest.json"), "w") as fh:
        json.dump(manifest, fh)
    return manifest


def ivfpq_query(spark: SparkSession, index_dir: str, queries: DataFrame,
                nprobe: int = IVF_NPROBE, topk: int = TOP_K,
                refine: int = 4) -> DataFrame:
    """Query the IVF+PQ index: partition-pruned cell read (same static
    IN filter as ivf_index_query), ADC over the cells' 8-byte codes
    (column pruning keeps embeddings out of this scan), then exact
    cosine RE-RANK of only the top ``topk×refine`` ADC candidates —
    the standard IVFPQ+refine pipeline: quantized distances pick a
    small candidate set cheaply, full-precision vectors order it."""
    from goose_spark.operators.pq import adc_topk

    cmat = _centroid_matrix(spark, index_dir)
    books = _load_books(spark, index_dir)
    # ONE bounded collect serves the static IN partition filter (union of
    # cells — what the SCAN reads), the per-query probe map (what each
    # query SCORES: its own nprobe cells only, so per-query ADC work
    # stays O(nprobe cells) and is independent of batch makeup) and the
    # query list the ADC tables are built from
    _, qrows = _probe(queries, cmat, nprobe)
    if len(qrows) > EMBEDDING_ROW_CAP:
        raise ValueError(
            f"ivfpq_query: query batch exceeds {EMBEDDING_ROW_CAP} rows — "
            "split the batch (ADC closes over the query list)"
        )
    probes: dict = {}
    for r in qrows:
        probes.setdefault(int(r["query_id"]), set()).update(r["clusters"])
    probed = sorted(set().union(*probes.values()))
    cells = _live_cells(spark, index_dir, probed)
    qlist = [(r["query_id"], r["qe"]) for r in qrows]
    cand = adc_topk(
        cells.select("cluster", "vec_id", "code"), qlist, books,
        topk=topk * refine, probes=probes,
    ).filter(F.col("neighbor_id") != F.col("query_id"))
    # ≤ EMBEDDING_ROW_CAP rows (checked above) and JVM-side: a frame
    # built from qlist would run a Python task per slice to broadcast
    qe = queries.select("query_id", "qe")
    scored = (
        F.broadcast(cand.select("query_id", "neighbor_id"))
        .join(
            cells.select(F.col("vec_id").alias("neighbor_id"), F.col("emb").alias("ne")),
            "neighbor_id",
        )
        .distinct()  # duplicate assignment rows for one id must not
        # consume extra top-k rank slots (the ivf_index_query guard)
        .join(F.broadcast(qe), "query_id")
        .select("query_id", "neighbor_id", cosine("qe", "ne").alias("cos"))
    )
    return rank_top_k(scored, topk)


def _load_books(spark: SparkSession, index_dir: str):
    """The persisted PQ codebooks as the (m, k, sub) ndarray every code
    producer/consumer shares — O(m×k) rows; session-cached per
    (index_dir, manifest version) like the centroid matrix."""
    import numpy as np

    ver = _manifest_version(index_dir)
    hit = _BOOKS_CACHE.get(index_dir)
    if hit is not None and hit[0] == ver:
        return hit[1]
    brows = spark.read.parquet(os.path.join(index_dir, "books")).collect()
    mmax = max(r["m"] for r in brows) + 1
    kmax = max(r["k"] for r in brows) + 1
    books = np.zeros((mmax, kmax, len(brows[0]["centroid"])))
    for r in brows:
        books[r["m"], r["k"]] = r["centroid"]
    _BOOKS_CACHE[index_dir] = (ver, books)
    return books


def _count_index_rows(index_dir: str) -> int:
    import glob as _glob

    import pyarrow.parquet as _pq

    return sum(
        _pq.ParquetFile(f).metadata.num_rows
        for f in _glob.glob(os.path.join(index_dir, "assignments", "*", "*.parquet"))
    )


# ---------------------------------------------------------------------------
# delete / compact — the index absorbs removals (the dead-jobs purge
# analog: /root/reference/src/goose/brokers/redis/api/dead_jobs.clj:49-57
# pops members out of the persisted set; here removal is a tombstone so
# the 100 TB assignments table is never rewritten on the delete path,
# only on an explicit cell-scoped compact)
# ---------------------------------------------------------------------------

def _tombstones_dir(index_dir: str) -> str:
    return os.path.join(index_dir, "tombstones")


def _live_rows(spark: SparkSession, index_dir: str) -> int:
    """Rows a query can actually see: physical footer rows minus EVERY
    assignment row of a tombstoned id (an id appended twice pre-delete
    has two rows, both hidden by ``_live_cells``). The one ``n``
    definition every manifest writer uses."""
    import glob as _glob

    total = _count_index_rows(index_dir)
    tdir = _tombstones_dir(index_dir)
    if not _glob.glob(os.path.join(tdir, "*.parquet")):
        return total
    tomb_ids = spark.read.parquet(tdir).select("vec_id").distinct()
    hidden = (
        spark.read.parquet(os.path.join(index_dir, "assignments"))
        .select("vec_id")
        .join(F.broadcast(tomb_ids), "vec_id")
        .count()
    )
    return total - hidden


def _live_cells(spark: SparkSession, index_dir: str, probed: list) -> DataFrame:
    """Probed-cell scan minus tombstoned ids — the ONE read path both
    query forms use, so a delete is visible to IVF and IVF+PQ serves
    alike. The tombstone anti-join is on vec_id over the WHOLE pending
    set (O(pending deletes), broadcast — compaction is the pressure
    valve), deliberately NOT pruned to the probed cells: a tombstoned
    id re-appended with a changed embedding can land in a different
    cell than the tombstone recorded, and the delete contract ('stays
    invisible even if re-appended, until compact') must hold wherever
    the row landed. The per-cell column in the tombstone table exists
    for compaction targeting only."""
    cells = spark.read.parquet(os.path.join(index_dir, "assignments")).filter(
        F.col("cluster").isin(probed)
    )
    tdir = _tombstones_dir(index_dir)
    import glob as _glob

    if _glob.glob(os.path.join(tdir, "*.parquet")):
        tomb = spark.read.parquet(tdir).select("vec_id").distinct()
        cells = cells.join(F.broadcast(tomb), "vec_id", "left_anti")
    return cells


def delete_from_ivf_index(spark: SparkSession, index_dir: str, vec_ids) -> dict:
    """Tombstone deletion: record (vec_id, cluster) for each removed
    vector — one column-pruned scan (vec_id + the partition column, no
    embeddings/codes) maps ids to their cells so compaction can later
    rewrite ONLY affected cells. No assignment file is touched here.
    Contract: a tombstoned id stays invisible (even if re-appended)
    until ``compact_ivf_index`` drains the tombstones. Returns the
    manifest with ``n`` = live rows and ``deleted`` = pending tombstones."""
    with open(os.path.join(index_dir, "manifest.json")) as fh:
        manifest = json.load(fh)
    if isinstance(vec_ids, DataFrame):
        doomed = vec_ids.select("vec_id")
    else:
        doomed = spark.createDataFrame(
            [(int(i),) for i in vec_ids], "vec_id long"
        )
    hits = (
        spark.read.parquet(os.path.join(index_dir, "assignments"))
        .select("vec_id", "cluster")
        .join(F.broadcast(doomed), "vec_id")
        .distinct()  # an id appended twice pre-delete tombstones once
    )
    hits.repartition(1).write.mode("append").parquet(_tombstones_dir(index_dir))
    n_tomb = spark.read.parquet(_tombstones_dir(index_dir)).select(
        "vec_id"
    ).distinct().count()
    manifest["n"] = _live_rows(spark, index_dir)
    manifest["deleted"] = n_tomb
    manifest["version"] = int(manifest["version"]) + 1
    with open(os.path.join(index_dir, "manifest.json"), "w") as fh:
        json.dump(manifest, fh)
    return manifest


def compact_ivf_index(spark: SparkSession, index_dir: str) -> dict:
    """Physically drop tombstoned rows by rewriting ONLY the cells that
    contain them (dynamic partition overwrite — untouched cells' files
    are not relisted, not rewritten). A cell left empty is removed
    outright (dynamic overwrite can't emit an empty partition). Drains
    the tombstone set; ``n`` is re-derived from the rewritten footers."""
    import glob as _glob
    import shutil as _shutil

    with open(os.path.join(index_dir, "manifest.json")) as fh:
        manifest = json.load(fh)
    tdir = _tombstones_dir(index_dir)
    if not _glob.glob(os.path.join(tdir, "*.parquet")):
        return manifest  # nothing pending
    tomb_ids = spark.read.parquet(tdir).select("vec_id").distinct()
    assignments_dir = os.path.join(index_dir, "assignments")
    # O(affected cells) ≤ k driver rows: which cells to rewrite, and
    # which of them still hold live rows after the anti-join. Affected
    # cells come from where tombstoned rows ACTUALLY live (one
    # column-pruned vec_id+partition scan), not from the cell the
    # tombstone recorded — a tombstoned id re-appended into a different
    # cell must be drained from THAT cell, or it would resurface once
    # the tombstones are dropped.
    affected = sorted(
        r["cluster"]
        for r in spark.read.parquet(assignments_dir)
        .select("vec_id", "cluster")
        .join(F.broadcast(tomb_ids), "vec_id")
        .select("cluster")
        .distinct()
        .collect()
    )
    if not affected:  # every pending id already gone from the table
        _shutil.rmtree(tdir, ignore_errors=True)
        manifest["deleted"] = 0
        manifest["version"] = int(manifest["version"]) + 1
        with open(os.path.join(index_dir, "manifest.json"), "w") as fh:
            json.dump(manifest, fh)
        return manifest
    survivors = (
        spark.read.parquet(assignments_dir)
        .filter(F.col("cluster").isin(affected))
        .join(F.broadcast(tomb_ids), "vec_id", "left_anti")
    )
    live_cells = {
        r["cluster"]
        for r in survivors.select("cluster").distinct().collect()
    }
    emptied = [c for c in affected if c not in live_cells]
    if live_cells:
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            (
                survivors.select("cluster", *[c for c in survivors.columns if c != "cluster"])
                .repartition("cluster")
                .write.mode("overwrite")
                .partitionBy("cluster")
                .parquet(assignments_dir)
            )
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    for c in emptied:
        _shutil.rmtree(os.path.join(assignments_dir, f"cluster={c}"), ignore_errors=True)
    _shutil.rmtree(tdir, ignore_errors=True)
    manifest["n"] = _count_index_rows(index_dir)
    manifest["deleted"] = 0
    manifest["version"] = int(manifest["version"]) + 1
    with open(os.path.join(index_dir, "manifest.json"), "w") as fh:
        json.dump(manifest, fh)
    return manifest


def append_to_ivf_index(spark: SparkSession, new_vectors: DataFrame,
                        index_dir: str) -> dict:
    """Incremental index maintenance: assign ``new_vectors``
    (``vec_id``, ``emb``) to the EXISTING centroids and append them to
    the partitioned assignments table — no retrain, no rewrite of prior
    cells. This is how a production IVF index absorbs a day's new
    embeddings: the coarse quantizer is frozen (recall drifts only as
    the data distribution does — rebuild cadence is an offline policy
    decision), the append touches only the cells the new vectors land
    in, and readers see the new rows on their next scan because
    partition listing is per-query. Returns the updated manifest
    (``version`` bumped, ``n`` = live rows — footer rows minus any
    rows still hidden by pending tombstones).

    Id contract: ``vec_id`` is the unique key. Re-appending an id that
    is LIVE with a byte-identical embedding is a tolerated replay — the
    duplicate rows are collapsed by the query-side ``distinct`` guard
    (they do consume ADC candidate-slot headroom on the PQ path until a
    ``compact_ivf_index``; effect-once enqueue or a post-replay compact
    is the clean pattern). Re-appending a live id with a DIFFERENT
    embedding is undefined (which row a query returns is unspecified) —
    updates go through delete + append, whose invisibility-until-compact
    semantics hold wherever the new row lands."""
    with open(os.path.join(index_dir, "manifest.json")) as fh:
        manifest = json.load(fh)
    cmat = _centroid_matrix(spark, index_dir)
    # IVFPQ index: appendees must carry PQ codes from the FROZEN
    # codebooks, or the ADC scan would hit NULL codes
    books = _load_books(spark, index_dir) if manifest.get("pq_m") else None
    (
        _assign_with_emb(new_vectors, cmat, books=books)
        .repartition("cluster")
        .write.mode("append")
        .partitionBy("cluster")
        .parquet(os.path.join(index_dir, "assignments"))
    )
    # incremental live count — O(batch), never a full-table scan on the
    # hot append path: prior n is live-correct (every manifest writer
    # maintains it), so live grows by the batch minus any appendees that
    # are still tombstone-hidden
    import glob as _glob

    batch_rows = new_vectors.count()
    hidden = 0
    tdir = _tombstones_dir(index_dir)
    if _glob.glob(os.path.join(tdir, "*.parquet")):
        tomb_ids = spark.read.parquet(tdir).select("vec_id").distinct()
        hidden = (
            new_vectors.select("vec_id")
            .join(F.broadcast(tomb_ids), "vec_id")
            .count()
        )
    manifest["n"] = int(manifest["n"]) + batch_rows - hidden
    manifest["version"] = int(manifest["version"]) + 1
    with open(os.path.join(index_dir, "manifest.json"), "w") as fh:
        json.dump(manifest, fh)
    return manifest


def attach_index_stream(stream: DataFrame, index_dir: str, checkpoint: str,
                        effects_dir: str | None = None):
    """Streaming index maintenance: every micro-batch of new vectors
    (``vec_id``, ``emb``) appends to the persisted index — the
    continuous form of the nightly ``append_to_ivf_index``, completing
    the lifecycle (train → build → serve → append → delete → compact →
    **streaming append**). Unlike the sketch rollup
    (``sketches.attach_rollup_stream``), whose union is idempotent and
    absorbs replay for free, an index append is NOT idempotent — so each
    batch runs under an effect-once marker (``streaming/effects.py``,
    the same contract the worker's side-effect path uses): a crash that
    loses the in-flight checkpoint commit replays the micro-batch and
    the marker short-circuits the duplicate append (the query-side
    ``distinct`` guard remains belt-and-braces behind it).

    The marker key is the micro-batch id, unique per checkpoint —
    ``effects_dir`` (default ``<checkpoint>_effects``) therefore shares
    the checkpoint's lifecycle: retire or reset the two TOGETHER. (A
    deliberate full reprocess with a fresh checkpoint but a stale
    effects dir would wrongly suppress the restarted batch ids.)
    Returns the started query."""
    from goose_spark.streaming.effects import EffectOnceTable

    effects = EffectOnceTable(effects_dir or checkpoint.rstrip("/") + "_effects")

    def upsert(bdf: DataFrame, bid: int) -> None:
        if bdf.isEmpty():
            return
        effects.run_once(
            f"ivf-append:{bid}",
            lambda: append_to_ivf_index(bdf.sparkSession, bdf, index_dir),
        )

    return (
        stream.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def _scored_candidates(spark: SparkSession, index_dir: str, queries: DataFrame,
                       nprobe: int, allowed: DataFrame | None = None,
                       with_emb: bool = False) -> DataFrame:
    """The shared IVF serve stage: probes computed per Arrow batch (one
    matmul against the ≤k×dim broadcast centroid matrix), probed cells
    collected as a ≤k-value STATIC partition filter (guaranteed
    ``PartitionFilters`` pruning on the assignments scan), exact cosine
    within the pruned cells — scored by ONE vectorized Arrow kernel
    over the probed-cell scan (the bounded query batch rides the task
    closure; dot products through ``similarity.fold_dot``, the engine's
    one fold order). Returns (query_id, neighbor_id, cos) unranked —
    plus the qe/ne embedding columns when ``with_emb`` (only
    ``ivf_candidates`` needs them; everyone else projects them away,
    and emitting two ~dim-double arrays per candidate through Arrow
    costs more than the scoring, so the kernel emits only what the
    caller reads — guide §4). ``ivf_index_query`` adds the per-query
    top-k window, ``ivf_range_search`` filters by threshold instead.

    ``allowed`` (optional, one ``vec_id`` column) is the attribute
    PRE-filter of filtered vector search (ss15/ss16): a semi-join
    applied to the probed-cell read BEFORE any cosine is computed —
    pre-filter semantics (filter, then rank), never post-filter (rank,
    then drop, which silently returns < k and biased neighbors). At
    100 TB the semi-join keys on the same vec_id the cells are stored
    by, so the filter prunes candidates at the cell scan, and the
    distance kernel only ever sees admissible vectors."""
    import numpy as np

    cmat = _centroid_matrix(spark, index_dir)

    # ONE bounded collect — one row per query carrying the probe set AND
    # the query embedding — serves every driver-side consumer: the
    # probed-cell set (static IN partition filter), the query count, and
    # the query batch the scoring kernel closes over.
    probes, qrows = _probe(queries, cmat, nprobe)
    if len(qrows) > EMBEDDING_ROW_CAP:
        # oversized batch: stays distributed — no driver copy of the
        # batch, no broadcast hints (the planner picks the shuffle
        # strategies); executor-side (query, cell) probe pairs join the
        # probed cells, and qe joins back once per distinct candidate
        q_probes = probes.select("query_id", F.explode("clusters").alias("cluster"))
        probed = sorted(
            r["cluster"] for r in q_probes.select("cluster").distinct().collect()
        )
        cells = _live_cells(spark, index_dir, probed)
        if allowed is not None:
            cells = cells.join(allowed.select("vec_id"), "vec_id", "left_semi")
        scored = (
            q_probes.join(cells, "cluster")
            .filter(F.col("vec_id") != F.col("query_id"))
            .select("query_id", F.col("vec_id").alias("neighbor_id"),
                    F.col("emb").alias("ne"))
            .distinct()
            .join(queries.select("query_id", "qe"), "query_id")
            .select("query_id", "qe", "neighbor_id", "ne",
                    cosine("qe", "ne").alias("cos"))
        )
        return scored if with_emb else scored.select("query_id", "neighbor_id", "cos")

    out_schema = (
        "query_id long, qe array<double>, neighbor_id long, "
        "ne array<double>, cos double"
        if with_emb else "query_id long, neighbor_id long, cos double"
    )
    if not qrows:
        return spark.createDataFrame([], out_schema)
    probed = sorted({int(c) for r in qrows for c in r["clusters"]})
    cells = _live_cells(spark, index_dir, probed)
    if allowed is not None:
        # attribute pre-filter INSIDE the probed-cell read: candidates
        # shrink before the distance kernel (ss16)
        cells = cells.join(allowed.select("vec_id"), "vec_id", "left_semi")
    # Duplicate assignment rows (an id appended twice pre-delete) must
    # not occupy two rank slots. Dedupe corpus-side: assignment is a
    # deterministic function of emb given the index's centroids (both
    # build and append go through _assign_with_emb), so duplicate
    # (vec_id, emb) rows always share a cluster and this distinct is
    # equivalent to the old per-(query, neighbor, ne) distinct — on ≤
    # probed-cell corpus rows instead of the full candidate fan-out.
    corpus = cells.select("cluster", "vec_id", "emb").distinct()

    qrows.sort(key=lambda r: int(r["query_id"]))
    n_q = len(qrows)
    qids = np.asarray([int(r["query_id"]) for r in qrows], dtype=np.int64)
    qmat = np.asarray([r["qe"] for r in qrows], dtype=np.float64)
    # per-query embedding as an ndarray row (Arrow converts ndarray
    # list-values by buffer copy; lists of Python floats convert
    # element-wise and dominated the kernel's cost in the wide form)
    qe_rows = list(qmat)
    # per-query probed-cell membership as a (k, n_q) bool mask
    pmask = np.zeros((cmat.shape[0], n_q), dtype=bool)
    for qi, r in enumerate(qrows):
        for c in r["clusters"]:
            pmask[int(c), qi] = True
    qq = fold_dot(qmat, qmat)

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.asarray(list(pdf["emb"]), dtype=np.float64)
            # dot / (sqrt(nn)·sqrt(qq)), elementwise identical to
            # similarity.cosine on the same (query, neighbor)
            cos = fold_dot(mat[:, None, :], qmat[None, :, :]) / (
                np.sqrt(fold_dot(mat, mat))[:, None] * np.sqrt(qq)[None, :])
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            ok = pmask[pdf["cluster"].to_numpy(dtype=np.int64)] & (
                ids[:, None] != qids[None, :]
            )
            ri, qi = np.nonzero(ok)
            cols = {"query_id": qids[qi]}
            if with_emb:
                cols["qe"] = [qe_rows[x] for x in qi]
            cols["neighbor_id"] = ids[ri]
            if with_emb:
                cols["ne"] = pdf["emb"].to_numpy()[ri]
            cols["cos"] = cos[ri, qi]
            yield pd.DataFrame(cols)

    return corpus.mapInPandas(score, schema=out_schema)


def ivf_range_search(spark: SparkSession, index_dir: str, queries: DataFrame,
                     tau: float, nprobe: int = IVF_NPROBE,
                     allowed: DataFrame | None = None) -> DataFrame:
    """RANGE search against a built index: every indexed vector with
    cosine ≥ ``tau`` of each query — the radius twin of the top-k serve
    path (FAISS ``range_search``). Same partition-pruned read and exact
    cosine as ``ivf_index_query``; only the final operator differs — a
    threshold filter instead of a rank window, so the result size is
    answer-bound, not k-bound (the shape near-dup retrieval and
    dedup-at-query-time need: 'everything this similar', with no
    arbitrary k truncating a dense neighborhood).

    Approximate exactly like top-k: a true neighbor assigned to an
    unprobed cell is missed (recall-tested); every RETURNED cosine is
    exact full-precision (exactness-tested). ``allowed`` adds the
    attribute pre-filter inside the probed-cell read (ss17), exactly
    as in ``ivf_index_query``."""
    return (
        _scored_candidates(spark, index_dir, queries, nprobe, allowed=allowed)
        .filter(F.col("cos") >= tau)
        .select("query_id", "neighbor_id", F.round("cos", 6).alias("score"))
        .orderBy("query_id", F.col("score").desc(), "neighbor_id")
    )


def ivf_candidates(spark: SparkSession, index_dir: str, queries: DataFrame,
                   nprobe: int = IVF_NPROBE, cand_k: int = TOP_K) -> DataFrame:
    """Per-query top-``cand_k`` candidates WITH embeddings —
    (query_id, qe, neighbor_id, emb) — served off the persisted index
    with partition-pruned cell reads. This is the candidate stage the
    MMR re-ranker (ss9) plugs in for its brute-force corpus scan: at
    corpus scale the scan reads only the probed cells' files."""
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), "neighbor_id")
    return (
        _scored_candidates(spark, index_dir, queries, nprobe, with_emb=True)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= cand_k)
        .select("query_id", "qe", "neighbor_id", F.col("ne").alias("emb"))
    )


def ivf_index_query(spark: SparkSession, index_dir: str, queries: DataFrame,
                    nprobe: int = IVF_NPROBE, topk: int = TOP_K,
                    allowed: DataFrame | None = None) -> DataFrame:
    """Top-k cosine neighbors for ``queries`` (``query_id``, ``qe``)
    against a built index — the shared ``_scored_candidates`` serve
    stage under the per-query WindowGroupLimit rank. ``allowed`` turns
    it into the FILTERED serve (ss16): the attribute predicate is a
    semi-join inside the probed-cell read, before the distance kernel
    (see ``_scored_candidates``)."""
    return rank_top_k(
        _scored_candidates(spark, index_dir, queries, nprobe, allowed=allowed),
        topk,
    )
