"""The job ledger — an append-only parquet event log.

Replaces goose's broker storage (Redis lists/zsets of nippy blobs,
``src/goose/brokers/redis/commands.clj``) with an event-sourced columnar
log: every state transition appends a full job row stamped with a
monotonic ``seq``; the *current* state of a job is its max-seq row.

Layout under a ledger root:

    log/        append-only job rows (JOB_SCHEMA + seq) — streaming source
    scheduled/  parked scheduled/retrying rows awaiting run_at (the
                engine's sorted-set analog; rewritten per due-sweep)
    batches/    batch entity rows (event-sourced like the log)
    cron/       registry.parquet — cron entries + next-run state
                (atomic file swap on update, mirrors the WATCH/MULTI
                registration txn at src/goose/brokers/redis/cron.clj:38-50)
    checkpoint/ Structured Streaming checkpoints (the in-progress /
                preservation-queue analog — replay after crash recovers
                exactly the unacked micro-batch, replacing goose's
                orphan checker, src/goose/brokers/redis/orphan_checker.clj)

Scale notes (100 TB): ``log/`` becomes a Delta table or Kafka topic
partitioned by ``date(enqueued_at)`` × ``queue`` — the append/stream
semantics here are identical. ``scheduled/`` is partitioned by
run_at-hour buckets so a due-sweep rewrites only the due bucket, never
the full set.
"""

from __future__ import annotations

import contextlib
import os
import time
import uuid

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from goose_spark.schema import JOB_SCHEMA
from goose_spark.streaming.commit import Publisher, next_seq

_TS = pa.timestamp("us")
ARROW_JOB_FIELDS = [
    ("id", pa.string()),
    ("queue", pa.string()),
    ("execute_fn", pa.string()),
    ("args", pa.string()),
    ("status", pa.string()),
    ("priority", pa.int32()),
    ("enqueued_at", _TS),
    ("run_at", _TS),
    ("cron_name", pa.string()),
    ("batch_id", pa.string()),
    ("retry_count", pa.int32()),
    ("max_retries", pa.int32()),
    ("retry_queue", pa.string()),
    ("error", pa.string()),
    ("first_failed_at", _TS),
    ("last_retried_at", _TS),
    ("died_at", _TS),
    ("worker_id", pa.string()),
]
ARROW_LOG_SCHEMA = pa.schema(ARROW_JOB_FIELDS + [("seq", pa.int64())])
_TOMB_SCHEMA = pa.schema([("id", pa.string()), ("max_seq", pa.int64())])


def visible_parquet(directory: str) -> list[str]:
    """The parquet files of ``directory`` that Spark's parquet reader
    lists: names starting with "." (a hidden tmp write) or "_"
    (metadata) are skipped."""
    return [
        os.path.join(directory, f) for f in os.listdir(directory)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    ]


def _stream_committed_files(checkpoint: str) -> set[str] | None:
    """Basenames of every source file a streaming query has COMMITTED
    (its exactly-once horizon): union of the checkpoint's source
    file-log entries for batch ids ≤ the last id present in commits/.
    Returns None when the checkpoint has no committed batch yet.

    This reads Spark's streaming-checkpoint layout
    (``sources/0/<batchId>`` JSON-lines of {"path": ...},
    ``commits/<batchId>``) — the same metadata the source itself replays
    on restart, so a file listed here is durably part of a finished
    micro-batch and safe to fold out of the directory."""
    import json as _json
    from urllib.parse import unquote, urlparse

    commits = os.path.join(checkpoint, "commits")
    sources = os.path.join(checkpoint, "sources", "0")
    try:
        done = [int(f) for f in os.listdir(commits) if f.isdigit()]
    except OSError:
        return None
    if not done:
        return None
    last = max(done)
    out: set[str] = set()
    try:
        # Spark periodically folds its own source log into `<id>.compact`
        # files (fileSource.log.compactInterval) — read those too
        batch_files = [
            f for f in os.listdir(sources)
            if f.isdigit() or (f.endswith(".compact") and f.split(".")[0].isdigit())
        ]
    except OSError:
        return None
    for f in batch_files:
        if int(f.split(".")[0]) > last:
            continue
        try:
            with open(os.path.join(sources, f)) as fh:
                for line in fh:
                    line = line.strip()
                    if not line.startswith("{"):
                        continue  # the "v1" version header
                    p = _json.loads(line).get("path", "")
                    out.add(os.path.basename(unquote(urlparse(p).path)))
        except (OSError, ValueError):
            return None  # torn/unreadable source log — fold nothing
    return out


class Ledger:
    def __init__(self, root: str):
        self.root = root
        self.log_dir = os.path.join(root, "log")
        self.scheduled_dir = os.path.join(root, "scheduled")
        self.batches_dir = os.path.join(root, "batches")
        self.tombstones_dir = os.path.join(root, "tombstones")
        self.cron_path = os.path.join(root, "cron", "registry.parquet")
        self.checkpoint_dir = os.path.join(root, "checkpoint")
        self.commits_dir = os.path.join(root, "_commits")
        for d in (self.log_dir, self.scheduled_dir, self.batches_dir,
                  self.tombstones_dir, os.path.join(root, "cron"),
                  self.checkpoint_dir):
            os.makedirs(d, exist_ok=True)
        # multi-file publishes (append_df, compact, compact_log, purge)
        # commit through one manifest protocol; an open rolls any torn
        # commit forward before serving reads
        self._publisher = Publisher(root)
        self._publisher.recover()

    # ---- producer-side append (Spark-free, like the goose client) -------

    def append_rows(self, rows: list[dict]) -> None:
        """Atomically append job rows as ONE parquet file — the analog of
        goose's single LPUSH / MULTI enqueue (one file == one txn for the
        file-source consumer)."""
        if not rows:
            return
        base_seq = next_seq()
        cols = {name: [] for name, _ in ARROW_JOB_FIELDS}
        seqs = []
        for i, r in enumerate(rows):
            for name, _ in ARROW_JOB_FIELDS:
                cols[name].append(r.get(name))
            seqs.append(r.get("seq", base_seq + i))
        arrays = [pa.array(cols[name], type=typ) for name, typ in ARROW_JOB_FIELDS]
        arrays.append(pa.array(seqs, type=pa.int64()))
        self.append_table(pa.Table.from_arrays(arrays, schema=ARROW_LOG_SCHEMA))

    def append_table(self, table: pa.Table) -> None:
        """Publish ``table`` into ``log/`` as ONE ``{seq}-{uuid}.parquet``
        file: a hidden tmp write, then one atomic rename — the commit of
        every producer append and of each small micro-batch."""
        if table.num_rows == 0:
            return
        tmp = os.path.join(self.log_dir, f".tmp-{uuid.uuid4().hex}.parquet")
        pq.write_table(table.cast(ARROW_LOG_SCHEMA), tmp)
        os.replace(tmp, os.path.join(self.log_dir, f"{next_seq()}-{uuid.uuid4().hex}.parquet"))

    # ---- Spark-side distributed append ------------------------------------

    def append_df(self, df: DataFrame) -> tuple[list[str], int]:
        """Executor-side append: tasks write parquet parts to a staging
        dir; the driver publishes them into ``log/`` with O(#files)
        metadata renames (the Delta-commit shape — row data never
        funnels through the driver). Returns (published files, row count
        from parquet footers)."""
        entries = self._publisher.publish([(df, "log", "")])
        return (
            [os.path.join(self.log_dir, e["dst"]) for e in entries],
            sum(e["rows"] for e in entries),
        )

    def append_deletes_df(self, doomed: DataFrame) -> int:
        """Append ``doomed``'s deleted-status rows AND a full-delete
        tombstone per id as ONE commit (purge's unbounded delete): the
        log rows never land without the tombstones that stop the jobs'
        undelivered rows from executing. Returns the log rows written."""
        entries = self._publisher.publish([
            (doomed, "log", ""),
            (doomed.select("id", F.lit(self.TOMB_ALL).alias("max_seq")), "tombstones", ""),
        ])
        return sum(e["rows"] for e in entries if e["dest"] == "log")

    # ---- Spark-side reads -------------------------------------------------

    def log(self, spark: SparkSession) -> DataFrame:
        # batch readers see raw micro-batch files AND gen-* generations
        # (compact_log moves rows between the two; each row lives in
        # exactly one once the fold's deletes land)
        return spark.read.schema(self._spark_log_schema()).parquet(self.log_dir)

    def log_stream(self, spark: SparkSession) -> DataFrame:
        # pathGlobFilter excludes compact_log's gen-* generations: every
        # raw append is digit-leading ({seq}-{uuid}.parquet), so the
        # stream consumes exactly the files generations are folded FROM —
        # a fold is invisible to the source (the folded files were
        # already committed in its checkpoint; the generation never
        # matches the glob), which is what keeps the per-trigger listing
        # cost bounded instead of growing with ledger age.
        return (
            spark.readStream.schema(self._spark_log_schema())
            .option("maxFilesPerTrigger", 512)
            .option("pathGlobFilter", "[0-9]*.parquet")
            .parquet(self.log_dir)
        )

    def state(self, spark: SparkSession) -> DataFrame:
        """Current job state = max-seq row per id. At scale this is a
        materialized Delta MERGE target; here a window over the log."""
        w = Window.partitionBy("id").orderBy(F.col("seq").desc())
        return (
            self.log(spark)
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    def latest_rows(self, ids, min_seq: int) -> dict[str, tuple[int, str]]:
        """``{id: (seq, status)}`` of each listed job's latest log row
        with ``seq >= min_seq`` — a bounded, driver-side point lookup
        into the same files ``log()`` reads (one Arrow dataset scan, no
        Spark job). Agrees with ``state()`` for every id whose latest
        row is at or after ``min_seq``; ids with no such row are absent.

        The filter is pushed into the scan: parquet ``seq`` stats skip
        row groups older than ``min_seq``, and only ``id``/``seq``/
        ``status`` are read. Past one footer read per file, cost follows
        the age of ``min_seq`` and memory the matched rows — never the
        size of the log."""
        import pyarrow.compute as pc
        import pyarrow.dataset as ds

        ids = pc.unique(pa.array(ids, type=pa.string()))
        files = visible_parquet(self.log_dir)
        if not files or len(ids) == 0:
            return {}
        tbl = ds.dataset(files, schema=ARROW_LOG_SCHEMA, format="parquet").to_table(
            columns=["id", "seq", "status"],
            filter=(ds.field("seq") >= int(min_seq)) & ds.field("id").isin(ids),
        )
        out: dict[str, tuple[int, str]] = {}
        for i, s, st in zip(tbl["id"].to_pylist(), tbl["seq"].to_pylist(),
                            tbl["status"].to_pylist()):
            if i not in out or s > out[i][0]:
                out[i] = (s, st)
        return out

    def mark(self) -> int:
        """An as-of cursor for time travel: every row appended after this
        call carries a larger ``seq``. Issued through ``next_seq`` (ns
        epoch + in-process tiebreak) so the cursor also exceeds every
        seq THIS process has already handed out — a bare clock read
        could trail rows appended microseconds earlier."""
        return next_seq()

    def compaction_floor(self) -> int:
        """Oldest seq time travel can reach: 0 until the first
        compaction, then the compacting commit's seq."""
        try:
            with open(os.path.join(self.commits_dir, "COMPACTION")) as fh:
                return int(fh.read().strip() or 0)
        except OSError:
            return 0
        except ValueError as exc:
            raise ValueError(
                "corrupt COMPACTION marker in "
                f"{self.commits_dir}: {exc}; remove the file to reset "
                "the time-travel floor to 0 (all history readable)"
            ) from exc

    def state_as_of(self, spark: SparkSession, seq: int | None = None,
                    ts=None) -> DataFrame:
        """Job state as of a log sequence or wall-clock instant — the
        Delta ``VERSION AS OF`` / ``TIMESTAMP AS OF`` read over the
        seq-stamped log (seq is ns-epoch, so a datetime converts
        directly). The seq predicate reaches the parquet scan, so
        row-group min/max stats prune files newer than the cutoff.

        History travels back only to the last compaction: ``compact``
        collapses superseded rows the way VACUUM expires Delta versions,
        and like Delta, traveling past that horizon raises (silently
        returning wrong history would be worse than refusing)."""
        if (seq is None) == (ts is None):
            raise ValueError("pass exactly one of seq= or ts=")
        if ts is not None:
            import datetime as _dt

            if isinstance(ts, _dt.datetime):
                if ts.tzinfo is None:
                    # naive datetimes are UTC everywhere in this module
                    # (expired_batch_ids, compact(now=)); timestamp()
                    # would read them as LOCAL time
                    ts = ts.replace(tzinfo=_dt.timezone.utc)
                seq = int(ts.timestamp() * 1_000_000_000)
            else:
                seq = int(ts * 1_000_000_000)
        floor = self.compaction_floor()
        if seq < floor:
            raise ValueError(
                f"as-of cursor {seq} predates the last compaction "
                f"({floor}); that history is vacuumed"
            )
        w = Window.partitionBy("id").orderBy(F.col("seq").desc())
        return (
            self.log(spark)
            .filter(F.col("seq") <= F.lit(int(seq)))
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    @staticmethod
    def _spark_log_schema():
        from pyspark.sql import types as T

        return T.StructType(JOB_SCHEMA.fields + [T.StructField("seq", T.LongType(), False)])

    def snapshot(self, spark: SparkSession, dest: str) -> DataFrame:
        """Materialize the current state view to ``dest``, partitioned by
        status — the console/API read path at scale. Status is the most
        selective console predicate (dead-jobs page, enqueued-per-queue
        page, scheduler due-scan), so partitioning by it turns those
        queries into partition-pruned scans that never touch the
        success-row bulk. Returns a reader over the snapshot; assert
        pruning via plans.inspect (PartitionFilters on status).

        At 100 TB this is the nightly materialization of the Delta MERGE
        target; `status` stays low-cardinality (6 values) so the
        partition count is bounded regardless of job volume."""
        self.state(spark).write.mode("overwrite").partitionBy("status").parquet(dest)
        return spark.read.parquet(dest)

    # ---- batch entity reads ------------------------------------------------

    def batches_state(self) -> dict[str, dict]:
        """Latest event-sourced row per batch id. O(batches) driver-side
        pyarrow — the analog of goose's per-batch hash GETs."""
        rows: dict[str, dict] = {}
        for f in sorted(os.listdir(self.batches_dir)):
            if not f.endswith(".parquet"):
                continue
            for r in pq.read_table(os.path.join(self.batches_dir, f)).to_pylist():
                cur = rows.get(r["id"])
                if cur is None or r["seq"] > cur["seq"]:
                    rows[r["id"]] = r
        return rows

    def expired_batch_ids(self, now=None) -> list[str]:
        """Terminal batches past their OWN linger — parity with goose's
        per-batch EXPIRE (src/goose/brokers/redis/batch.clj:136-160: the
        batch hash + job sets get the batch's linger-sec after each
        terminal callback, not a global retention). The terminal row's
        ``seq`` is the ns-clock terminal timestamp."""
        import datetime as _dt

        now_ns = (
            time.time_ns()
            if now is None
            else int(now.replace(tzinfo=_dt.timezone.utc).timestamp() * 1e9)
        )
        out = []
        for bid, row in self.batches_state().items():
            if row["status"] == "in-progress":
                continue
            linger = row.get("linger_sec")
            if linger is None:
                continue
            if row["seq"] + int(linger) * 1_000_000_000 <= now_ns:
                out.append(bid)
        return sorted(out)

    # ---- compaction (retention / VACUUM analog) ----------------------------

    def compact(self, spark: SparkSession, drop_terminal_before=None,
                apply_batch_linger: bool = True, now=None) -> dict:
        """Rewrite the log to current-state rows only (one row per job),
        optionally dropping terminal rows (success/dead/deleted) older
        than ``drop_terminal_before`` — goose's key-expiry/retention
        (EXPIRE on batch keys, ZREMRANGEBYSCORE retention) as a
        compaction job. At 100 TB this is Delta OPTIMIZE + VACUUM per
        date partition; here: write-new-then-swap on the log directory.

        ``apply_batch_linger`` additionally drops every job row belonging
        to a terminal batch past that batch's OWN ``linger_sec`` (and the
        batch's entity rows) — the per-batch EXPIRE of
        src/goose/brokers/redis/batch.clj:136-160. A 0-linger batch
        vanishes at the first compaction after its callback; a long-linger
        batch in the same ledger survives.

        Safe to run only while no worker holds the ledger (single-writer
        rule — same constraint goose's purge APIs have).

        Executor-side rewrite: the state view is written distributed to a
        staging dir, then published with metadata-only renames (the
        OPTIMIZE-commit shape) — row data never funnels through the
        driver; ``rows_after`` comes from parquet footers."""
        import glob

        state = self.state(spark)
        if drop_terminal_before is not None:
            keep = ~(
                F.col("status").isin("success", "dead", "deleted")
                & (F.coalesce(F.col("died_at"), F.col("enqueued_at")) < F.lit(drop_terminal_before))
            )
            state = state.filter(keep)
        expired = self.expired_batch_ids(now) if apply_batch_linger else []
        if expired:
            # anti-join, not isin(): the expired set is O(batches) and a
            # long-lived ledger can hold many — keep it off the plan's
            # literal list and let Spark pick the join strategy
            exp_df = spark.createDataFrame([(b,) for b in expired], "batch_id string")
            state = state.join(exp_df, "batch_id", "left_anti")
        staged = self._publisher.stage([(state, "log", "")])
        old_files = glob.glob(os.path.join(self.log_dir, "*.parquet"))
        floor = next_seq()
        # one manifest = the whole OPTIMIZE txn: the compacted parts land
        # FIRST, the superseded files go after (a crash between the two
        # shows duplicate history rows, which the max-seq state view
        # already collapses — never missing rows)
        entries = self._publisher.commit(staged, removes=[
            {"dest": "log", "file": os.path.basename(f)} for f in old_files
        ])
        # advance the time-travel horizon: versions before this commit
        # are vacuumed (state_as_of refuses older cursors)
        marker = os.path.join(self.commits_dir, "COMPACTION")
        tmp_m = marker + f".tmp-{uuid.uuid4().hex}"
        with open(tmp_m, "w") as fh:
            fh.write(str(floor))
        os.replace(tmp_m, marker)
        if expired:
            # drop the expired batches' entity rows too (the EXPIRE hits
            # the batch hash itself in the reference)
            gone = set(expired)
            for f in sorted(os.listdir(self.batches_dir)):
                if not f.endswith(".parquet"):
                    continue
                p = os.path.join(self.batches_dir, f)
                tbl = pq.read_table(p)
                keep_rows = [r for r in tbl.to_pylist() if r["id"] not in gone]
                if len(keep_rows) == len(tbl):
                    continue
                if keep_rows:
                    tmp = p + ".tmp"
                    pq.write_table(pa.Table.from_pylist(keep_rows, schema=tbl.schema), tmp)
                    os.replace(tmp, p)
                else:
                    os.remove(p)
        return {
            "files_before": len(old_files),
            "rows_after": sum(e["rows"] for e in entries),
            "expired_batches": len(expired),
        }

    # ---- live log-file compaction (generational fold) ----------------------

    def compact_log(self, spark: SparkSession, checkpoints: list[str],
                    min_files: int = 64, keep_recent: int = 8,
                    target_files: int = 1, max_files: int = 1024,
                    publish_lock=None) -> dict:
        """Fold raw micro-batch log files into larger ``gen-*`` parquet
        generations WHILE consumers run — the OPTIMIZE the corpus store
        already has (``CorpusIngest.compact``), applied to the job
        ledger. Rationale (SCALE.md §soak): a file-source stream re-lists
        the log directory every trigger, so per-trigger cost grows with
        the ledger's lifetime file count; the fold keeps the directory at
        O(generations + recent files) forever.

        Transparent to every stream whose checkpoint is passed in
        ``checkpoints``: only files recorded as COMMITTED by ALL of them
        are folded (read from the checkpoint's source file-log up to its
        last committed batch), the generation file name (``gen-…``) never
        matches ``log_stream``'s ``[0-9]*.parquet`` glob, and rows keep
        their original seqs, so batch reads (`log`/`state`/`state_as_of`)
        and the time-travel floor are unchanged. A stream NOT listed here
        (or one restarted with a FRESH checkpoint) must bootstrap from
        the batch read — same contract as ``compaction_floor``.

        Crash-safe under the existing manifest protocol: generation
        publish + raw-file deletes are one commit; a crash in between
        leaves duplicate (id, seq) rows that the max-seq state view
        collapses and the next Ledger open's roll-forward removes.
        Always leaves the ``keep_recent`` newest raw files unfolded.
        Returns fold stats; a no-op (too few eligible files) reports
        ``folded: 0``.

        Latency shape: the fold is TWO phases. The BUILD (listing,
        eligibility, Spark read of the candidate files into a staged
        generation) touches only immutable committed raw files and
        runs without any lock; the PUBLISH (manifest write + renames +
        raw-file deletes — the only step a concurrent driver-side
        batch read can observe) runs under ``publish_lock`` when one
        is passed, and is file-metadata cheap. Callers that must
        serialize with a micro-batch (the worker ticker) pass their
        micro-batch lock as ``publish_lock`` instead of wrapping the
        whole call: the soak measured ~6.3 s trigger stalls when the
        full fold held the lock; the publish-only critical section is
        milliseconds and stays flat as the log grows. ``max_files``
        bounds one fold's build cost; an over-long backlog drains
        across successive ticks, oldest files first.
        """
        raw = sorted(
            f for f in os.listdir(self.log_dir)
            if f.endswith(".parquet") and not f.startswith("gen-")
            and not f.startswith(".")
        )
        eligible = set(raw[:-keep_recent] if keep_recent else raw)
        for ck in checkpoints:
            committed = _stream_committed_files(ck)
            if committed is None:  # stream has no commits yet — fold nothing
                return {"files": len(raw), "folded": 0, "generations": 0}
            eligible &= committed
        cand = sorted(eligible)[:max_files]
        if len(cand) < min_files:
            return {"files": len(raw), "folded": 0, "generations": 0}

        df = spark.read.schema(self._spark_log_schema()).parquet(
            *[os.path.join(self.log_dir, f) for f in cand]
        ).coalesce(target_files)
        staged = self._publisher.stage([(df, "log", "gen-")])
        with publish_lock if publish_lock is not None else contextlib.nullcontext():
            entries = self._publisher.commit(staged, removes=[
                {"dest": "log", "file": f} for f in cand
            ])
        return {
            "files": len(raw),
            "folded": len(cand),
            "generations": len(entries),
            "rows": sum(e["rows"] for e in entries),
        }

    # ---- deletion tombstone index -----------------------------------------
    #
    # Deleting an undelivered job (console delete / purge,
    # api/enqueued_jobs.clj:42-55) must also prevent its execution: the
    # reference removes the element from the Redis list; a log source
    # cannot un-append, so deletions are recorded in a side index the
    # worker anti-joins per micro-batch. The index is O(deletions) tiny
    # parquet files — never a log scan; compaction may clear entries whose
    # log rows were physically dropped.

    #: "suppress every row" sentinel for delete tombstones; supersession
    #: tombstones carry the superseded row's seq instead
    TOMB_ALL = 1 << 62

    def add_tombstones(self, job_ids: list[str], max_seq: int | None = None) -> None:
        """``max_seq=None`` → full delete (suppress the job entirely).
        An explicit max_seq records a SUPERSESSION: only rows with
        ``seq <= max_seq`` are suppressed — the re-emit analog of
        goose's atomic LREM+RPUSH (commands.clj:145-164), where the
        original list element vanishes the instant the front copy
        appears. Without it, prioritising a not-yet-consumed enqueued
        job would execute both the original and the re-emitted row."""
        if not job_ids:
            return
        self.add_supersessions(
            [(j, self.TOMB_ALL if max_seq is None else max_seq) for j in job_ids]
        )

    def add_supersessions(self, pairs: list[tuple[str, int]]) -> None:
        if not pairs:
            return
        table = pa.Table.from_pydict(
            {
                "id": pa.array([p[0] for p in pairs], type=pa.string()),
                "max_seq": pa.array([p[1] for p in pairs], type=pa.int64()),
            }
        )
        tmp = os.path.join(self.tombstones_dir, f".tmp-{uuid.uuid4().hex}.parquet")
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(self.tombstones_dir, f"{next_seq()}.parquet"))

    def tombstoned_ids(self, spark: SparkSession) -> DataFrame | None:
        """(id, tomb_max_seq) — suppress a job's rows with seq <= the
        max recorded tombstone (a delete dominates any supersession)."""
        if not visible_parquet(self.tombstones_dir):
            return None
        return (
            spark.read.parquet(self.tombstones_dir)
            .groupBy("id")
            .agg(F.max("max_seq").alias("tomb_max_seq"))
        )

    def live_log_rows(self, files: list[str]) -> pa.Table:
        """The rows of the given log files that the deletion index lets
        execute, read with pyarrow (no Spark job): the driver-side form
        of the ``tombstoned_ids`` anti-join. A row is dropped when its
        ``seq`` is at or below the largest tombstone ``max_seq`` of its
        id; only tombstones of the read ids are kept past the scan."""
        import pyarrow.compute as pc
        import pyarrow.dataset as ds

        rows = ds.dataset(files, schema=ARROW_LOG_SCHEMA, format="parquet").to_table()
        tomb_files = visible_parquet(self.tombstones_dir)
        if not tomb_files or rows.num_rows == 0:
            return rows
        tombs = (
            ds.dataset(tomb_files, schema=_TOMB_SCHEMA, format="parquet")
            .to_table(filter=ds.field("id").isin(pc.unique(rows["id"])))
            .group_by("id")
            .aggregate([("max_seq", "max")])
        )
        cap = pc.take(tombs["max_seq_max"], pc.index_in(rows["id"], value_set=tombs["id"]))
        return rows.filter(pc.or_kleene(pc.is_null(cap), pc.greater(rows["seq"], cap)))

    # ---- scheduled store (sorted-set analog) ------------------------------

    def scheduled_files(self, due_before=None) -> list[str]:
        """Parked-store files, optionally pruned to run_at-hour buckets
        that can contain rows due before ``due_before`` (the sorted-set
        ZRANGEBYSCORE prune): a file named ``h<YYYYMMDDHH>-…`` holds only
        rows whose run_at falls in that hour, so buckets beyond the due
        horizon are skipped without being opened. Legacy un-bucketed
        names are always read."""
        out = []
        horizon = due_before.strftime("%Y%m%d%H") if due_before is not None else None
        for f in os.listdir(self.scheduled_dir):
            if not f.endswith(".parquet"):
                continue
            if horizon is not None and f.startswith("h"):
                bucket = f[1:11]
                if bucket.isdigit() and bucket > horizon:
                    continue
            out.append(os.path.join(self.scheduled_dir, f))
        return out

    def park(self, table: pa.Table) -> None:
        """Park rows bucketed by run_at hour — one file per (batch,
        bucket). The due-sweep then reads only due buckets; at 100 TB
        this is the partition layout, not an optimization flag."""
        import pyarrow.compute as pc

        if table.num_rows == 0:
            return
        hours = pc.strftime(table["run_at"], format="%Y%m%d%H")
        # rows with no run_at (shouldn't happen for parked states) land in
        # an always-read legacy-named file
        keys = [h if h is not None else "" for h in hours.to_pylist()]
        for bucket in sorted(set(keys)):
            idx = [i for i, k in enumerate(keys) if k == bucket]
            sub = table.take(idx)
            name = (f"h{bucket}-" if bucket else "") + f"{next_seq()}.parquet"
            tmp = os.path.join(self.scheduled_dir, f".tmp-{uuid.uuid4().hex}.parquet")
            # bounded row groups keep every park file splittable by
            # pop_due's row-group fallback — a single monolithic row
            # group would force the whole file into driver memory
            pq.write_table(sub, tmp, row_group_size=self.PARK_ROW_GROUP)
            os.replace(tmp, os.path.join(self.scheduled_dir, name))

    # rows per row group in park files; pop_due can therefore split any
    # park file at ≤ this granularity when enforcing its pop limit
    PARK_ROW_GROUP = 50_000

    @staticmethod
    def _scheduled_sort_key(path: str) -> tuple[str, str]:
        """Oldest hour bucket first (due rows live in the oldest
        buckets), then file seq within a bucket. Legacy un-bucketed
        files sort first — they may hold arbitrarily old rows."""
        f = os.path.basename(path)
        if f.startswith("h") and f[1:11].isdigit():
            return (f[1:11], f)
        return ("", f)

    def pop_due(self, now, limit: int) -> tuple[pa.Table | None, list[str], bool]:
        """Bounded pop from the scheduled store — the engine's
        ``ZRANGEBYSCORE … LIMIT 0 <pop-limit>`` (reference:
        src/goose/brokers/redis/commands.clj:219-228, pop limit
        src/goose/defaults.clj:49). Returns ``(rows, consumed_files,
        more)``:

        * ``rows`` — ALL rows of the consumed files (due and not-yet-due
          alike; the caller splits and re-parks survivors), at most
          ~``limit`` plus one row-group of slack. Never the whole
          backlog: whole files are taken oldest-bucket-first until the
          row budget is met, and a file that would blow the budget on
          its own is split at row-group granularity — the head row
          groups are consumed, the tail is streamed row-group-by-
          row-group into a replacement file without ever being
          materialized as one table.
        * ``consumed_files`` — files the caller must remove via
          ``replace_scheduled`` after re-parking survivors.
        * ``more`` — unconsumed candidate files remain (the caller
          should pop again: goose re-polls immediately while due jobs
          are found, scheduler.clj:36-48).

        Parquet ``run_at`` min-stats prune files inside the current hour
        bucket whose earliest row is still in the future — they are
        skipped, not consumed, and do not set ``more``."""
        files = sorted(self.scheduled_files(due_before=now), key=self._scheduled_sort_key)
        chosen: list[pa.Table] = []
        consumed: list[str] = []
        total = 0
        more = False
        now_ts = pd.Timestamp(now) if not isinstance(now, pd.Timestamp) else now
        for path in files:
            try:
                pf = pq.ParquetFile(path)
            except (OSError, pa.ArrowInvalid):
                continue  # racing writer/compactor; next sweep sees it
            meta = pf.metadata
            if meta.num_rows == 0:
                consumed.append(path)  # zero-row husk: just drop it
                continue
            if total >= limit:
                more = True
                break
            # min(run_at) stats prune within the due hour bucket
            try:
                col = meta.schema.to_arrow_schema().get_field_index("run_at")
                mins = [
                    meta.row_group(g).column(col).statistics.min
                    for g in range(meta.num_row_groups)
                    if meta.row_group(g).column(col).statistics is not None
                ]
                if mins and min(m for m in mins if m is not None) > now_ts:
                    continue  # wholly future: skip unread, leave in place
            except Exception:  # noqa: BLE001 — stats are an optimization only
                pass
            if total + meta.num_rows <= limit or total == 0:
                if total == 0 and meta.num_rows > limit and meta.num_rows > self.PARK_ROW_GROUP:
                    # oversized head file: consume head row groups up to
                    # the limit, stream the tail into a replacement file
                    taken, g = [], 0
                    while g < meta.num_row_groups and sum(t.num_rows for t in taken) < limit:
                        taken.append(pf.read_row_group(g))
                        g += 1
                    if g < meta.num_row_groups:
                        base = os.path.basename(path)
                        prefix = base[:12] if base.startswith("h") and base[1:11].isdigit() else ""
                        tmp = os.path.join(self.scheduled_dir, f".tmp-{uuid.uuid4().hex}.parquet")
                        writer = pq.ParquetWriter(tmp, pf.schema_arrow)
                        try:
                            for gg in range(g, meta.num_row_groups):
                                writer.write_table(pf.read_row_group(gg))
                        finally:
                            writer.close()
                        os.replace(
                            tmp,
                            os.path.join(self.scheduled_dir, f"{prefix}{next_seq()}.parquet"),
                        )
                        more = True
                    chosen.extend(taken)
                    total += sum(t.num_rows for t in taken)
                    consumed.append(path)
                else:
                    chosen.append(pf.read())
                    total += meta.num_rows
                    consumed.append(path)
            else:
                more = True
                break
        if not chosen:
            return None, consumed, False
        return pa.concat_tables(chosen, promote_options="default"), consumed, more

    def read_scheduled(self, files: list[str] | None = None) -> pa.Table | None:
        if files is None:
            files = self.scheduled_files()
        if not files:
            return None
        return pa.concat_tables([pq.read_table(f) for f in files], promote_options="default")

    def replace_scheduled(self, remaining: pa.Table | None, old_files: list[str]) -> None:
        """Swap the scheduled set: write survivors, drop consumed files.
        Single-writer (the worker's foreachBatch) — same serialization
        goose gets from its Redis txn (commands.clj:230-237)."""
        if remaining is not None and remaining.num_rows > 0:
            self.park(remaining)
        for f in old_files:
            os.remove(f)
