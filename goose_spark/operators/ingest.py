"""Incremental corpus ingestion — dedup-against-history + quality gate.

The one-shot dedup queries (dd1/dd2) answer "find the duplicates in this
corpus"; a production training-data pipeline instead ingests batches
continuously and must answer "is this NEW document a duplicate of
anything we already accepted?". This module is that incremental shape:

    new docs ──► quality gate (textlib metrics, JVM-side)
             ──► exact check : anti-join the fingerprint index
             ──► near check  : minhash bands vs the band index,
                               exact-Jaccard verify on candidates only
             ──► append accepted docs + update both indexes
                 (staged executor-side publish, Delta-commit shape)

Scale design (100 TB):
* The fingerprint index is (fp, doc_id) — one row per accepted doc; the
  exact check is a broadcast- or shuffle-anti-join on fp, never a scan
  of document bodies.
* The band index is (band, bkey, doc_id) — bands× rows per doc; the
  near check joins new docs' bands against it, so cost is
  O(new × colliding buckets), never new × corpus.
* Jaccard verification recomputes shingles only for the candidate pairs
  (bounded by band collisions), joining text from the corpus store.
* All appends are executor-side staged writes published with
  metadata-only renames; nothing row-shaped crosses the driver.
* Streaming form: ``ingest_stream`` wraps the same batch body in
  foreachBatch — the nightly/continuous ingest topology.

No reference analog (nilenso/goose is a job library); this extends the
LLM-pipeline operator family (SURVEY §2.5 north star).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from goose_spark.operators.dedup import _band_keys, _minhash_sig
from goose_spark.operators.textlib import normalized_fingerprint, with_shingles
from goose_spark.plans.guards import NARROW_ROW_CAP, bounded_broadcast
from goose_spark.streaming.commit import Publisher

#: Quality gate (tx3 buckets): accept medium+ docs.
MIN_CHARS = 100
#: Near-dup verify threshold (same as dd2).
JACCARD_T = 0.5
#: Broadcast-hint cap for every batch-bounded side in this module
#: (round-10 directive #2: the micro-batch convention is enforced by
#: ``plans.guards.bounded_broadcast``, not trusted — one oversized
#: backfill batch degrades to a shuffle instead of OOM-ing executors).
BROADCAST_CAP = NARROW_ROW_CAP


def anti_join_history(batch: DataFrame, history: DataFrame, keys,
                      n_batch_keys: int | None = None) -> DataFrame:
    """Drop batch rows whose key already exists in history, WITHOUT ever
    shuffling (or hash-building) the history side.

    A naive ``batch.join(history, keys, "left_anti")`` makes history the
    join's build side: Spark shuffles/hashes the FULL index every batch —
    at 100 TB of accumulated fingerprints that is the whole pipeline's
    cost. Inverted form: broadcast the (bounded, micro-batch-sized)
    batch key set, semi-scan history once to find the ≤|batch| colliding
    keys, then anti-join the batch against that tiny hit set. History is
    read exactly once, map-side only — no exchange on the index.

    Both broadcasts are guarded: an oversized batch (over
    ``BROADCAST_CAP``) falls back to the planner's shuffle strategy.
    Callers that already counted the batch pass ``n_batch_keys`` (an
    upper bound on the distinct key count) to skip the guard's count
    job.
    """
    keys = [keys] if isinstance(keys, str) else list(keys)
    probe = batch.select(*keys).distinct()
    hits = (
        history.select(*keys)
        .join(
            bounded_broadcast(probe, BROADCAST_CAP, n_rows=n_batch_keys,
                              label="anti_join_history probe"),
            keys, "left_semi",
        )
        .distinct()
    )
    # |hits| ≤ |probe|, so the same bound covers the hit set
    return batch.join(
        bounded_broadcast(hits, BROADCAST_CAP, n_rows=n_batch_keys,
                          label="anti_join_history hits"),
        keys, "left_anti",
    )


class CorpusIngest:
    """Accumulating corpus store under ``root``:

    corpus/        accepted documents (full rows)
    fingerprints/  (fp, doc_id) exact-dup index
    bands/         (band, bkey, doc_id) LSH index
    """

    def __init__(self, root: str):
        self.root = root
        for d in ("corpus", "fingerprints", "bands"):
            os.makedirs(os.path.join(root, d), exist_ok=True)
        # corpus rows and both indexes land under ONE commit manifest (a
        # crash between separate publishes would leave the dedup indexes
        # out of step with the corpus forever); roll any torn commit
        # forward before serving reads
        self._publisher = Publisher(root)
        self._publisher.recover()

    def _read(self, spark: SparkSession, name: str) -> DataFrame | None:
        import glob

        if not glob.glob(os.path.join(self.root, name, "*.parquet")):
            return None
        return spark.read.parquet(os.path.join(self.root, name))

    def corpus(self, spark: SparkSession) -> DataFrame | None:
        return self._read(spark, "corpus")

    def compact(self, spark: SparkSession, target_files: int = 4) -> dict:
        """OPTIMIZE analog for the corpus store: every ingest batch
        appends a few files to each of corpus/fingerprints/bands, and a
        long-running pipeline ends up scanning thousands of tiny files
        (the metadata cost dominates the read at scale). Rewrite each
        directory above ``target_files`` into ``target_files`` files
        and delete the originals — all three directories under ONE
        manifest, so a crash anywhere leaves a recoverable state
        (recover() finishes renames AND deletes; removed filenames are
        uuid-unique so replay is idempotent).

        ``coalesce`` not ``repartition``: compaction merges scan
        partitions read-side — zero shuffle. Single-writer contract,
        same as ``ingest_batch``. Returns per-dir file counts."""
        import glob as _glob

        stats: dict = {}
        items: list = []
        removes: list = []
        for name in ("corpus", "fingerprints", "bands"):
            files = sorted(_glob.glob(os.path.join(self.root, name, "*.parquet")))
            stats[name] = {"before": len(files)}
            if len(files) <= target_files:
                continue
            df = spark.read.parquet(*files).coalesce(target_files)
            items.append((df, name, ""))
            removes.extend(
                {"dest": name, "file": os.path.basename(f)} for f in files
            )
        if items:
            self._publisher.publish(items, removes=removes)
        for name in stats:
            stats[name]["after"] = len(
                _glob.glob(os.path.join(self.root, name, "*.parquet"))
            )
        return stats

    # ------------------------------------------------------------------

    def ingest_batch(self, spark: SparkSession, new_docs: DataFrame,
                     scrub_pii: bool = False,
                     benchmark_grams: DataFrame | None = None,
                     decon_n: int = 4) -> dict:
        """Run one ingest round; returns acceptance stats. ``new_docs``
        needs (doc_id, text) at minimum; all columns are kept.

        ``scrub_pii`` masks emails/phones (curation.scrub_text) BEFORE
        fingerprinting, so documents differing only in PII dedupe
        together and no raw PII ever reaches the corpus store.
        ``benchmark_grams`` — a DataFrame with one ``g`` column of
        ``decon_n``-token shingles (the held-out eval suite) — rejects
        any new doc sharing a gram with it (sp6's check, applied at the
        door instead of after the fact); rejects are counted as
        ``contaminated`` in the stats."""
        if scrub_pii:
            from goose_spark.operators.curation import scrub_text

            new_docs = new_docs.withColumn("text", scrub_text(F.col("text")))
        new_docs = new_docs.persist()
        pinned = [new_docs]  # every persist in this round, freed in finally
        try:
            total = new_docs.count()

            # 1. quality gate — pure column algebra, runs in the scan
            alpha = F.length(F.regexp_replace("text", r"[^A-Za-z]", ""))
            ok = (F.length("text") >= MIN_CHARS) & (
                alpha.cast("double") / F.length("text") >= 0.5
            )
            passed = new_docs.filter(ok)
            n_passed = passed.count()

            # 1b. decontamination at the door (sp6's gram check): any
            #     new doc sharing a decon_n-gram with the benchmark set
            #     is rejected before it can enter the corpus. The
            #     benchmark side is broadcast — eval suites are MBs.
            n_contaminated = 0
            if benchmark_grams is not None:
                from goose_spark.operators.textlib import with_ngrams

                # persist the gram set so the guard's count and the join
                # share one materialization (eval suites are MBs, but the
                # cap must not trust that — a caller handing a corpus-
                # sized frame here degrades to a shuffle, not an OOM)
                bg = benchmark_grams.select("g").distinct().persist()
                pinned.append(bg)
                hit = (
                    with_ngrams(passed.select("doc_id", "text"), decon_n)
                    .select("doc_id", F.explode("grams").alias("g"))
                    .join(bounded_broadcast(bg, BROADCAST_CAP,
                                            label="benchmark grams"),
                          "g", "left_semi")
                    .select("doc_id")
                    .distinct()
                )
                passed = passed.join(hit, "doc_id", "left_anti").persist()
                pinned.append(passed)
                n_contaminated = n_passed - passed.count()
                n_passed -= n_contaminated

            # 2. within-batch + against-history exact dedup on fp
            fp = passed.withColumn("fp", normalized_fingerprint(F.col("text")))
            w_first = F.row_number().over(Window.partitionBy("fp").orderBy("doc_id"))
            fp = fp.withColumn("_rn", w_first).filter(F.col("_rn") == 1).drop("_rn")
            idx = self._read(spark, "fingerprints")
            if idx is not None:
                # n_passed bounds the batch's distinct fps — skips the
                # guard's count job
                fp = anti_join_history(fp, idx, "fp", n_batch_keys=n_passed)
            fp = fp.persist()
            pinned.append(fp)
            exact_survivors = fp.count()

            # shared intermediates: bands + shingles of the batch, built
            # ONCE and reused by the self-check, the history check, and
            # the index publish
            new_bands = _band_keys(_minhash_sig(fp.select("doc_id", "text"))).persist()
            pinned.append(new_bands)
            new_sh = with_shingles(fp.select("doc_id", "text")).select("doc_id", "sh")

            # 3a. WITHIN-batch near-dup: band self-join over the new
            #     docs (runs on the first batch too, when no history
            #     exists) — a colliding pair verified by exact Jaccard
            #     keeps its min doc_id, same keeper rule as dd2
            self_cand = (
                new_bands.alias("a")
                .join(new_bands.alias("b"), ["band", "bkey"])
                .filter(F.col("a.doc_id") < F.col("b.doc_id"))
                .select(
                    F.col("a.doc_id").alias("keep_id"),
                    F.col("b.doc_id").alias("dup_id"),
                )
                .distinct()
            )
            a_sh = new_sh.select(F.col("doc_id").alias("keep_id"), F.col("sh").alias("sa"))
            b_sh = new_sh.select(F.col("doc_id").alias("dup_id"), F.col("sh").alias("sb"))
            inter_b = F.size(F.array_intersect("sa", "sb"))
            union_b = F.size("sa") + F.size("sb") - inter_b
            dup_ids = (
                self_cand.join(a_sh, "keep_id")
                .join(b_sh, "dup_id")
                .filter(inter_b.cast("double") / union_b >= JACCARD_T)
                .select(F.col("dup_id").alias("doc_id"))
                .distinct()
            )

            # 3b. against-history near-dup: batch bands vs the band
            #     index, Jaccard-verified against corpus text
            bands_idx = self._read(spark, "bands")
            if bands_idx is not None:
                # Broadcast the batch's bands: the band index (rows ∝
                # accepted corpus) is scanned map-side, never shuffled —
                # the same inversion as anti_join_history. new_bands is
                # persisted, so the guard's count reads the cache.
                cand = (
                    bands_idx.join(
                        bounded_broadcast(new_bands, BROADCAST_CAP,
                                          label="batch bands"),
                        ["band", "bkey"],
                    )
                    .select(
                        new_bands.doc_id.alias("new_id"),
                        bands_idx.doc_id.alias("old_id"),
                    )
                    .distinct()
                    .persist()  # reused: old-id probe + the verify join
                )
                pinned.append(cand)
                # Candidate old-ids are bounded by band collisions —
                # broadcast them (guarded) so the corpus text scan stays
                # map-side.
                corpus_sh = with_shingles(
                    self.corpus(spark)
                    .select("doc_id", "text")
                    .join(
                        bounded_broadcast(
                            cand.select(F.col("old_id").alias("doc_id")).distinct(),
                            BROADCAST_CAP,
                            label="candidate old ids",
                        ),
                        "doc_id",
                        "left_semi",
                    )
                ).select(F.col("doc_id").alias("old_id"), F.col("sh").alias("so"))
                q_sh = new_sh.select(F.col("doc_id").alias("new_id"), F.col("sh").alias("sn"))
                inter = F.size(F.array_intersect("sn", "so"))
                union = F.size("sn") + F.size("so") - inter
                hist_dups = (
                    cand.join(q_sh, "new_id")
                    .join(corpus_sh, "old_id")
                    .filter(inter.cast("double") / union >= JACCARD_T)
                    .select(F.col("new_id").alias("doc_id"))
                    .distinct()
                )
                dup_ids = dup_ids.unionByName(hist_dups).distinct()
            accepted = fp.join(dup_ids, "doc_id", "left_anti").persist()
            pinned.append(accepted)
            n_accepted = accepted.count()

            # 4. publish corpus rows + both indexes under ONE commit
            #    manifest — all three land or none do
            self._publisher.publish(
                [
                    (accepted.drop("fp"), "corpus", ""),
                    (accepted.select("fp", "doc_id"), "fingerprints", ""),
                    (new_bands.join(accepted.select("doc_id"), "doc_id"), "bands", ""),
                ]
            )
            return {
                "batch": total,
                "quality_rejected": total - n_passed - n_contaminated,
                "contaminated": n_contaminated,
                "exact_dups": n_passed - exact_survivors,
                "near_dups": exact_survivors - n_accepted,
                "accepted": n_accepted,
            }
        finally:
            for df_ in pinned:
                df_.unpersist()

    def ingest_stream(self, spark: SparkSession, docs_stream: DataFrame,
                      checkpoint: str | None = None,
                      scrub_pii: bool = False,
                      benchmark_grams: DataFrame | None = None):
        """Continuous form: the same batch body per micro-batch
        (foreachBatch — the nightly-ingest topology as a stream), with
        the same curation gates as the batch form."""
        return (
            docs_stream.writeStream.foreachBatch(
                lambda df, _eid: self.ingest_batch(
                    spark, df, scrub_pii=scrub_pii,
                    benchmark_grams=benchmark_grams,
                )
            )
            .option(
                "checkpointLocation",
                checkpoint or os.path.join(self.root, "checkpoint"),
            )
            .trigger(availableNow=True)
            .start()
        )
