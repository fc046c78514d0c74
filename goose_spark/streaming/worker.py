"""Worker — the Structured Streaming consumer (W1–W12 in SURVEY §2.2).

One streaming query replaces goose's whole worker fleet:

* **Reliable dequeue (W1/W10)**: the file-source checkpoint is the
  in-progress/preservation queue. A crash mid-batch replays exactly the
  unacked micro-batch on restart — the orphan checker
  (``src/goose/brokers/redis/orphan_checker.clj:9-40``) becomes a no-op.
  Same at-least-once contract as the reference (ADR reliability.md).
* **Execution (W2/W3)**: the registered job fn runs row by row in the
  driver for a bounded batch of at most ``SMALL_BATCH_ROWS`` rows (a
  small micro-batch or a due-sweep chunk), on up to
  ``defaultParallelism`` threads, as goose runs job fns on in-process
  worker threads (``worker.clj:81-87``); above that bound, or when the
  batch's job fns would hold the driver's CPU (the GIL) longer than
  ``_DRIVER_CPU_S``, ``mapInPandas`` runs it on executors, with Arrow
  batches moving the rows.
* **Retry/bury (W5/W6)**: failure-state fields and the
  ``20 + rand(20)·(n+1) + n⁴`` backoff mirror ``src/goose/retry.clj``.
* **Scheduler (W7)**: scheduled/retrying rows are parked in the
  scheduled store (the zset analog) and swept by ``run_at <= now`` each
  trigger — the event-time filter replaces ZRANGEBYSCORE polling.
* **Cron (W8)**: a per-trigger tick materializes due entries from the
  registry and re-arms ``next_run_at``; exactly one missed occurrence is
  backfilled (cron-jobs.md ADR parity).
* **Batch machine (B2–B4)**: per-batch counters derive the terminal
  status (``src/goose/batch.clj:40-46``); the single-threaded
  foreachBatch callback gives the same exactly-one-callback guarantee
  goose gets from its MULTI txn (batch-jobs.md ADR).
* **Priority (P8 delta)**: due/replayed jobs carry ``priority=1`` and
  each micro-batch executes in ``priority DESC, enqueued_at`` order —
  bounded-staleness front-of-queue (SURVEY §7.4.1).
"""

from __future__ import annotations

import json
import os
import time
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime, timezone
from typing import Callable, Iterator

import pyarrow as pa
import pyarrow.parquet as pq
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from goose_spark.functions import cron as cronlib
from goose_spark.functions.backoff import default_retry_delay_sec, max_retries_exceeded
from goose_spark.schema import (
    PRIORITY_FRONT,
    STATUS_DEAD,
    STATUS_ENQUEUED,
    STATUS_IN_PROGRESS,
    STATUS_RETRYING,
    STATUS_SCHEDULED,
    STATUS_SUCCESS,
    batch_status,
)
from goose_spark.streaming.ledger import ARROW_LOG_SCHEMA, Ledger, next_seq, visible_parquet


def _now() -> datetime:
    return datetime.now(timezone.utc).replace(tzinfo=None)


# Vectorized analog of goose's redis-scheduled-jobs-pop-limit (50,
# src/goose/defaults.clj:49): bounds rows materialized per due-sweep pop.
DEFAULT_SCHEDULE_POP_LIMIT = 10_000

# Execution fan-out of a driver-built frame (a small micro-batch or a
# due-sweep chunk): one chunk per this many rows, run on at most
# defaultParallelism driver threads (or, above SMALL_BATCH_ROWS,
# mapInPandas tasks) — 250 quick jobs take 4, not 32.
ROWS_PER_TASK = 64

# Driver placement bound. A micro-batch (by its parquet footer rows,
# with a deletion index of at most as many) or a due-sweep chunk of at
# most this many rows runs in the driver: pyarrow reads the batch, the
# job fns execute on driver threads and the outcome commits as one
# file — no Spark job. Larger ones run through mapInPandas on executors
# and the executor-side commit (_commit_distributed); 0 sends every
# batch there. Read at call time.
SMALL_BATCH_ROWS = 10_000

# Driver CPU budget of one bounded batch's job fns, in seconds. Driver
# threads overlap a job fn's waits but not its Python CPU (the GIL);
# mapInPandas spreads that over executor processes for about the fixed
# cost of one execution job, 0.42-0.52 s measured (ROADMAP direction
# 6). A driver batch hands the chunks it has not started to mapInPandas
# once its finished chunks used this much thread CPU, and a frame of
# more than one chunk that would use more, at the CPU per row of the
# last driver batch, goes there but for its first chunk, which runs in
# the driver meanwhile and renews that estimate. Either way the outcome
# still commits as one driver-written file.
_DRIVER_CPU_S = 0.5

# Footer-count routing reads at most this many parquet footers per
# directory it sizes (a micro-batch's files, the deletion index); past
# it the batch takes the distributed path.
_FOOTER_FILES_MAX = 256


def _footer_rows(paths: list[str]) -> int | None:
    """Row count of parquet files from their footers: O(files) metadata
    reads, no Spark job. None = couldn't tell cheaply (more than
    ``_FOOTER_FILES_MAX`` files, or one unreadable)."""
    if len(paths) > _FOOTER_FILES_MAX:
        return None
    n = 0
    for path in paths:
        try:
            n += pq.ParquetFile(path).metadata.num_rows
        except OSError:
            return None
    return n


def _coerce_log_pdf(pdf: "pd.DataFrame") -> "pd.DataFrame":
    """pandas → Spark-log-schema dtype coercion: a toPandas()/pyarrow
    round-trip renders nullable int columns as float64 with NaN, which
    BOTH createDataFrame paths reject against IntegerType (Arrow refuses
    the unsafe float→int cast, the row-based fallback refuses the NaN
    object — found by the round-10 soak: one mixed retry/fresh batch
    kills the stream).

    Coercion target is OBJECT dtype holding python ints + None — not a
    nullable extension array. Round 11's stress soak found why: when
    the Arrow upload inside ``createDataFrame`` is interrupted (e.g.
    ``query.stop()`` lands mid-batch → ClosedByInterruptException),
    PySpark retries on the NON-Arrow row path, and an Int32 extension
    array degrades to float NaN there — resurrecting the exact crash
    the round-10 fix addressed, but only on the fallback path. Object
    ints + None satisfy BOTH paths (Arrow casts them per the explicit
    schema; the row verifier accepts int/None), so an interrupted batch
    completes instead of killing the query. The column list is DERIVED
    from the integer-typed fields of the log schema, so a new nullable
    int column added to JOB_SCHEMA later is covered automatically."""
    for name in _int_log_fields():
        if name in pdf.columns and pdf[name].dtype.kind in ("f", "O"):
            col = pdf[name]
            # explicit object dtype up front — Series.map would re-infer
            # int+None back to float64/NaN before any astype(object)
            pdf = pdf.assign(
                **{
                    name: pd.Series(
                        [None if pd.isna(v) else int(v) for v in col],
                        index=col.index,
                        dtype=object,
                    )
                }
            )
    return pdf


def _int_log_fields() -> tuple[str, ...]:
    """Column names of every integer field of the ledger log schema —
    cached, it never changes within a process. (Names only: the
    coercion target is object dtype holding python ints + None; a
    per-field extension dtype here would invite reintroducing the
    non-Arrow-fallback crash this replaced.)"""
    global _INT_LOG_FIELDS
    if _INT_LOG_FIELDS is None:
        from pyspark.sql import types as T

        from goose_spark.streaming.ledger import Ledger

        _INT_LOG_FIELDS = tuple(
            f.name
            for f in Ledger._spark_log_schema().fields
            if isinstance(f.dataType, (T.IntegerType, T.LongType))
        )
    return _INT_LOG_FIELDS


_INT_LOG_FIELDS: tuple[str, ...] | None = None


def _make_executor(retry_delay_fn: Callable[[int], int] | None, worker_id: str,
                   middlewares: tuple = (), error_handler: str | None = None,
                   death_handler: str | None = None,
                   skip_dead_queue: bool = False):
    """Build the execution fn (W3/W4/W5/W6): it maps pandas frames of
    job rows to full outcome rows, resolving fns via the registry. The
    worker calls it directly on driver threads for a batch of at most
    ``SMALL_BATCH_ROWS`` rows (so middlewares and handlers must be
    thread-safe, as under goose's worker threads); above that, or past
    ``_DRIVER_CPU_S``, it is the ``mapInPandas`` fn, serialized to
    executors. Column-wise output assembly (no per-row .loc mutation)
    keeps the Python side ~10× faster per batch.

    ``middlewares`` composes around the execute call exactly like
    goose's chain (src/goose/brokers/redis/worker.clj:46-55): each is
    ``mw(next_fn) -> fn(job_dict)``; the first listed runs outermost.
    The retry wrapper stays outside the chain (it owns failure state),
    matching the reference composition order.

    ``error_handler`` / ``death_handler`` are registry fn names (the
    engine's fn-symbol form of retry.clj:47-53 error/death-handler-fn-
    sym) called as ``handler(job_dict, error_str)`` on a non-final
    failure / on death respectively, where the job runs; a handler exception
    is swallowed (it must never corrupt the outcome row, matching
    goose's log-and-continue handlers). ``skip_dead_queue``
    (retry.clj:55): a dying job's terminal row is written as 'deleted'
    instead of 'dead' — executed and accounted, but it never enters the
    dead queue surfaces.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import json as _json

        from goose_spark.functions.registry import execute, resolve

        def call(job: dict):
            return execute(job["execute_fn"], job["args"])

        chain = call
        for mw in reversed(middlewares):
            chain = mw(chain)

        def _handle(handler_name, job, err):
            if handler_name is None:
                return
            try:
                resolve(handler_name)(job, err)
            except Exception:  # noqa: BLE001 — handlers never break outcomes
                pass

        delay_fn = retry_delay_fn or default_retry_delay_sec
        for pdf in batches:
            now = pd.Timestamp(_now())
            n_rows = len(pdf)
            status = []
            error = list(pdf["error"])
            first_failed = list(pdf["first_failed_at"])
            last_retried = list(pdf["last_retried_at"])
            died = list(pdf["died_at"])
            run_at = list(pdf["run_at"])
            retry_count = list(pdf["retry_count"])
            queue = list(pdf["queue"])
            fns = list(pdf["execute_fn"])
            args = list(pdf["args"])
            max_retries = list(pdf["max_retries"])
            retry_queue = list(pdf["retry_queue"])
            ids = list(pdf["id"])
            enqueued_at = list(pdf["enqueued_at"])
            for i in range(n_rows):
                job = {
                    "id": ids[i],
                    "execute_fn": fns[i],
                    "args": args[i],
                    "queue": queue[i],
                    "retry_count": retry_count[i],
                    "enqueued_at": enqueued_at[i],
                    "run_at": run_at[i],
                }
                try:
                    chain(job)
                    status.append(STATUS_SUCCESS)
                except Exception as exc:  # noqa: BLE001 — job errors are data
                    n = 0 if pd.isna(retry_count[i]) else int(retry_count[i])
                    # failure-state parity: src/goose/retry.clj:79-91
                    error[i] = f"{type(exc).__name__}: {exc}"
                    if pd.isna(first_failed[i]):
                        first_failed[i] = now
                    if max_retries_exceeded(n, int(max_retries[i])):
                        # death path (retry.clj:51-55): death-handler,
                        # then dead-queue entry unless skipped. Batch
                        # members skip the dead queue too (goose's
                        # skip-dead-queue omits them from the global
                        # dead SET while the batch's own dead-set still
                        # counts the death, batch.clj) — batch counting
                        # keys on died_at, not on the 'dead' status, so
                        # a 'deleted' row still registers as a death.
                        _handle(death_handler, job, error[i])
                        status.append("deleted" if skip_dead_queue else STATUS_DEAD)
                        died[i] = now
                        run_at[i] = pd.NaT
                    else:
                        _handle(error_handler, job, error[i])
                        status.append(STATUS_RETRYING)
                        retry_count[i] = n + 1
                        last_retried[i] = now
                        run_at[i] = now + pd.Timedelta(seconds=delay_fn(n))
                        if not pd.isna(retry_queue[i]):
                            # retry on alternate queue (retry.clj:68-72)
                            queue[i] = retry_queue[i]
            base = next_seq()
            out = pdf.copy()
            out["status"] = status
            out["error"] = error
            out["first_failed_at"] = first_failed
            out["last_retried_at"] = last_retried
            out["died_at"] = died
            out["run_at"] = run_at
            out["retry_count"] = pd.array(retry_count, dtype="Int32")
            out["queue"] = queue
            out["worker_id"] = worker_id
            out["seq"] = [base + i for i in range(n_rows)]
            yield out

    return run


class Worker:
    """Consumes the ledger log; executes; appends transition rows.

    ``process_available()`` = one availableNow streaming pass (tests,
    drain-then-stop). ``run_loop()`` = repeated passes + timer ticks,
    goose's long-poll loop shape (consumer.clj:12-21)."""

    def __init__(self, spark: SparkSession, ledger: Ledger | str,
                 worker_id: str = "worker-1",
                 rand_int: Callable[[int], int] | None = None,
                 retry_delay_fn: Callable[[int], int] | None = None,
                 metrics=None, middlewares: tuple = (),
                 emit_in_progress: bool = False,
                 queues: list[str] | None = None,
                 scheduler_role: bool | None = None,
                 error_handler: str | None = None,
                 death_handler: str | None = None,
                 skip_dead_queue: bool = False,
                 schedule_pop_limit: int = DEFAULT_SCHEDULE_POP_LIMIT,
                 now_fn: Callable[[], datetime] | None = None):
        import threading

        self.spark = spark
        # Injectable clock for every DRIVER-side time decision (due-sweep
        # cutoffs, cron tick, latency bases). Tests freeze it so cron
        # materialization never races a real minute boundary (the one
        # mid-round flake of r12); outcome stamps keep the real clock —
        # they are data, not scheduling decisions.
        self._now = now_fn or _now
        self.ledger = ledger if isinstance(ledger, Ledger) else Ledger(ledger)
        self.worker_id = worker_id
        # Per-pop bound on the due-sweep (W7). Goose pops 50 jobs per
        # poll (defaults.clj:49) because its unit of work is one Redis
        # round-trip per job; the engine's unit is one Arrow batch, so
        # the default bounds a pop at 10k rows (a few MB of driver
        # memory) instead. Set 50 for strict reference parity — the
        # drain loop still clears any backlog either way, it just takes
        # more iterations.
        self.schedule_pop_limit = max(1, int(schedule_pop_limit))
        # retry.clj:47-55 handler parity: registry fn names called where
        # the job runs, on failure/death; skip_dead_queue writes dying
        # jobs as 'deleted' (no dead-queue entry). Validated at
        # construction (specs.clj:124-128 handler fn-sym + arity specs) —
        # a typo'd handler name must fail the worker at startup, not be
        # silently swallowed at the first job failure.
        from goose_spark.specs import validate_worker_handlers

        validate_worker_handlers(error_handler, death_handler, skip_dead_queue)
        self.error_handler = error_handler
        self.death_handler = death_handler
        self.skip_dead_queue = skip_dead_queue
        # Queue binding (worker.clj:27,43 `:queue` opt): a scoped worker
        # consumes/sweeps ONLY its queues, with its own checkpoint under
        # checkpoint/<queue-group> so multiple scoped workers can share a
        # ledger — the per-queue worker-fleet topology of the reference.
        # None = consume everything (single-fleet default).
        self.queues = sorted(queues) if queues else None
        if self.queues:
            self.checkpoint_dir = os.path.join(
                self.ledger.root, "checkpoint-q-" + "-".join(self.queues)
            )
            os.makedirs(self.checkpoint_dir, exist_ok=True)
        else:
            self.checkpoint_dir = self.ledger.checkpoint_dir
        # Scheduler role: the scheduled store and cron registry are
        # single-writer (the reference serializes them through Redis
        # WATCH/MULTI); in a multi-fleet topology exactly one instance
        # must own the due-sweep + cron tick. Default: the unscoped
        # worker owns it, queue-scoped workers don't (their scheduled
        # jobs come back as front-priority enqueued rows via the owner's
        # sweep, same as goose's broker-side scheduler).
        self.scheduler_role = (queues is None) if scheduler_role is None else scheduler_role
        # Serializes the micro-batch body with the continuous-mode timer
        # thread: batch terminal transitions and due-sweeps must not
        # interleave, or both threads can derive + append the same batch
        # terminal row and double-fire the callback (goose gets this from
        # its single MULTI txn, batch.clj). RLock: _execute_bounded runs
        # under it from both the stream path and the sweep path.
        self._lock = threading.RLock()
        if retry_delay_fn is None and rand_int is not None:
            retry_delay_fn = lambda n: default_retry_delay_sec(n, rand_int)  # noqa: E731
        self.retry_delay_fn = retry_delay_fn
        # Pluggable metrics backend (streaming/metrics.py Metrics
        # protocol — goose's metrics-plugin, metrics.clj:35-42); None
        # behaves as a disabled backend (the nil extension, clj:45-50)
        self.metrics = metrics
        self.middlewares = tuple(middlewares)  # user middlewares (W4)
        # W1 console parity: stamp in_progress rows before executing, so a
        # crash leaves visibly in-flight jobs in the state view until the
        # checkpoint replay finishes them (goose's in-progress queue is
        # observable the same way). Off by default — it costs one extra
        # ledger append per micro-batch.
        self.emit_in_progress = emit_in_progress
        self.executions = 0
        # job-fn CPU seconds per row of the last driver-executed frame
        # (see _DRIVER_CPU_S)
        self._cpu_s_per_row = 0.0
        # W9: process registry + heartbeat (heartbeat.clj:22-33) — the
        # console's workers view. Registered on construction; re-beaten
        # by every timer tick; deregistered by Handle.stop.
        from goose_spark.streaming.heartbeat import ProcessRegistry

        self.registry = ProcessRegistry(self.ledger.root)
        self.registry.register(self.worker_id, self.queues)

    # ------------------------------------------------------------------
    # streaming entry points
    # ------------------------------------------------------------------

    def process_available(self) -> None:
        """One exactly-once-checkpointed pass over all unconsumed log rows
        (trigger=availableNow), then a timer tick."""
        stream = self.ledger.log_stream(self.spark)
        query = (
            stream.writeStream.foreachBatch(self._for_each_batch)
            .option("checkpointLocation", self.checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
        self.tick()

    def run_loop(self, passes: int, sleep_sec: float = 0.0) -> None:
        import time as _t

        for _ in range(passes):
            self.process_available()
            if sleep_sec:
                _t.sleep(sleep_sec)

    def start(self, trigger_sec: float = 0.25,
              compact_log_every_sec: float | None = None,
              compact_checkpoints: list[str] | None = None):
        """Continuous mode: a long-running streaming query (processingTime
        trigger) plus a driver-side timer thread for the scheduler/cron
        sweeps — the engine's shape of goose's N-threads-plus-scheduler
        worker process (worker.clj:81-87). Returns a handle with
        ``stop()`` for graceful shutdown (W11: stop consuming, let the
        open micro-batch drain, checkpoint commits the ack).

        Default trigger 0.25 s per the measured curve in BASELINE.md
        § trigger-interval: per-batch fixed cost floors latency, so the
        smallest practical trigger wins p50/p99 with no throughput
        penalty (batch size self-adjusts under load).

        ``compact_log_every_sec`` turns on the periodic generational log
        fold (``Ledger.compact_log``) from the timer thread — the knob
        that keeps per-trigger file-listing cost flat over a long run
        (SCALE.md §soak). ``compact_checkpoints`` lists EVERY streaming
        checkpoint reading this ledger's log (the fold only touches
        files committed by all of them); defaults to this worker's own."""
        import threading
        import time as _t

        stream = self.ledger.log_stream(self.spark)
        query = (
            stream.writeStream.foreachBatch(self._for_each_batch)
            .option("checkpointLocation", self.checkpoint_dir)
            .trigger(processingTime=f"{trigger_sec} seconds")
            .start()
        )
        stop_flag = threading.Event()

        def ticker():
            last_fold = _t.monotonic()
            while not stop_flag.wait(trigger_sec):
                try:
                    self.tick()
                except Exception:  # noqa: BLE001 — keep the timer alive
                    pass
                if (
                    compact_log_every_sec
                    and _t.monotonic() - last_fold >= compact_log_every_sec
                ):
                    last_fold = _t.monotonic()
                    try:
                        # The fold's PUBLISH (raw-file deletes) must
                        # hold the micro-batch lock: the fold's
                        # committed-files rule makes it invisible to the
                        # STREAMING read, but _for_each_batch also runs
                        # driver-side BATCH reads over the log dir
                        # (tombstone anti-join, batch callbacks, due
                        # sweep) whose file listing resolves at plan
                        # time — a fold deleting a listed raw file
                        # mid-batch kills the stream with
                        # FAILED_READ_FILE (found by the round-11
                        # 750 jobs/s stress soak at minute 14). Only
                        # the publish is serialized (publish_lock):
                        # the BUILD reads immutable committed files and
                        # runs lock-free, so triggers stall for a file
                        # rename+delete, not the whole Spark fold (the
                        # r11 shape stalled every trigger ~6.3 s).
                        self.ledger.compact_log(
                            self.spark,
                            compact_checkpoints or [self.checkpoint_dir],
                            publish_lock=self._lock,
                        )
                    except Exception:  # noqa: BLE001 — fold is best-effort
                        pass

        thread = threading.Thread(target=ticker, daemon=True)
        thread.start()

        worker = self

        class Handle:
            def stop(self, timeout: float = 30.0) -> None:
                stop_flag.set()
                try:
                    query.stop()
                    query.awaitTermination(int(timeout))
                finally:
                    # cleanup must run even if the query terminated with
                    # an error (an un-deregistered worker would keep its
                    # queues claimed and its heartbeat row live forever)
                    thread.join(timeout)
                    try:
                        worker.tick()  # final sweep after the stream drains
                    finally:
                        worker.registry.deregister(worker.worker_id)

            @property
            def streaming_query(self):
                return query

        return Handle()

    # ------------------------------------------------------------------
    # micro-batch body
    # ------------------------------------------------------------------

    def _batch_files(self, epoch_id: int) -> tuple[list[str], int] | None:
        """The local paths of a file-source micro-batch's files and their
        parquet footer row sum — O(batch files) driver-side metadata
        reads, no Spark job. The file list comes from the streaming
        source log (``checkpoint/sources/0/<batchId>``, the committed
        manifest the file source itself replays from —
        ``DataFrame.inputFiles()`` is empty on streaming batch frames).
        None = couldn't tell cheaply (no log entry, non-local files, see
        ``_footer_rows``) → caller takes the fully distributed path."""
        from urllib.parse import unquote, urlparse

        src_dir = os.path.join(self.checkpoint_dir, "sources", "0")
        path = os.path.join(src_dir, str(epoch_id))
        if not os.path.exists(path):
            path = os.path.join(src_dir, f"{epoch_id}.compact")
            if not os.path.exists(path):
                return None
        files = []
        try:
            with open(path) as fh:
                for line in fh:
                    line = line.strip()
                    if not line or line.startswith("v"):
                        continue
                    entry = json.loads(line)
                    # compacted logs carry ALL prior batches' entries
                    if entry.get("batchId") == epoch_id:
                        files.append(entry["path"])
        except (OSError, ValueError, KeyError):
            return None
        paths = []
        for uri in files:
            parsed = urlparse(uri)
            if parsed.scheme not in ("", "file"):
                return None
            paths.append(unquote(parsed.path) if parsed.scheme else uri)
        n = _footer_rows(paths)
        return None if n is None else (paths, n)

    def _for_each_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        # Small batches (the steady state of a low-latency trigger) run
        # in the driver with no Spark job: pyarrow reads the batch's own
        # files, the park/queue splits happen in pandas, the jobs execute
        # here and the outcome commits as one file — vs the distributed
        # branch's jobs (tombstone join, park collect, execution, staged
        # write, read-back summary) whose fixed costs floor per-batch
        # latency. Bounded by SMALL_BATCH_ROWS (10k ≈ a few MB): large
        # batches — the 100 TB shape — keep the fully distributed path,
        # so this is a latency optimization with a hard ceiling, not a
        # driver funnel. The deletion index the batch is filtered against
        # must fit the same bound: purge() can make it unbounded, and the
        # driver reads all of it.
        start = time.perf_counter()
        batch = self._batch_files(epoch_id)
        if batch is not None and 0 < batch[1] <= SMALL_BATCH_ROWS:
            tombs = _footer_rows(visible_parquet(self.ledger.tombstones_dir))
            if tombs is not None and tombs <= SMALL_BATCH_ROWS:
                with self._lock:
                    self._process_batch_local(batch[0])
                if self.metrics is not None and self.metrics.enabled():
                    # Spark never runs this batch's frame, so its own
                    # progress reports 0 input rows for it
                    self.metrics.record_micro_batch(
                        batch[1], (time.perf_counter() - start) * 1000
                    )
                return
        rows = batch_df.persist()
        try:
            with self._lock:
                # deletion guard (api/enqueued_jobs.clj:42-55): jobs
                # tombstoned after enqueue must not execute — anti-join the
                # O(deletions) side index, broadcast (it is tiny by
                # construction, never the log)
                rows_all = rows
                dead_ids = self.ledger.tombstoned_ids(self.spark)
                if dead_ids is not None:
                    # the deletion index is O(deletions) — usually tiny —
                    # but purge() can make it unbounded, so let Spark pick
                    # the join strategy (AQE/autoBroadcastJoinThreshold)
                    # instead of forcing a driver-side broadcast collect.
                    # Seq-bounded: a supersession tombstone (prioritise's
                    # LREM half) drops only the job's OLDER rows; a delete
                    # tombstone (max_seq=TOMB_ALL) drops them all.
                    rows_all = (
                        rows_all.join(dead_ids, "id", "left")
                        .filter(
                            F.col("tomb_max_seq").isNull()
                            | (F.col("seq") > F.col("tomb_max_seq"))
                        )
                        .drop("tomb_max_seq")
                    )
                rows_live = rows_all
                if self.queues:
                    # queue binding (worker.clj:27): scoped workers only
                    # execute their queues; others' rows pass by unconsumed
                    # semantically (their own checkpoint group owns them)
                    rows_live = rows_live.filter(F.col("queue").isin(self.queues))
                else:
                    claimed = self._other_fleets_queues()
                    if claimed:
                        rows_live = rows_live.filter(
                            ~F.col("queue").isin(claimed)
                        )
                runnable = rows_live.filter(F.col("status") == STATUS_ENQUEUED)
                # the scheduler-role holder is the store's single writer:
                # it parks every queue's scheduled/retrying rows (the
                # sweep re-routes other fleets' due rows via the log);
                # non-owners park only what they consume. Double-parks
                # (owner + scoped worker seeing the same row) collapse at
                # sweep time via the per-id latest-seq dedup.
                park_src = rows_all if self.scheduler_role else rows_live
                to_park = park_src.filter(F.col("status").isin(STATUS_SCHEDULED, STATUS_RETRYING))
                park_tbl = self._to_arrow(to_park)
                self.ledger.park(park_tbl)
                self._execute_and_log(runnable)
        finally:
            rows.unpersist()

    def _other_fleets_queues(self) -> list[str]:
        """Queues claimed by scoped fleets — an unscoped worker must NOT
        consume them (both read the same log on separate checkpoints, so
        consuming here would run every claimed-queue job twice).
        O(workers) registry read per micro-batch, never O(jobs)."""
        return sorted(self.registry.claimed_queues(exclude_worker=self.worker_id))

    def _process_batch_local(self, files: list[str]) -> None:
        """Micro-batch body in the driver (same semantics as the
        distributed branch): pyarrow reads the batch's files minus the
        tombstoned rows, pandas splits park / queue / runnable, and
        ``_execute_bounded`` runs the jobs in this process."""
        pdf = self.ledger.live_log_rows(files).to_pandas()
        if len(pdf) == 0:
            return
        if self.queues:
            live = pdf[pdf["queue"].isin(self.queues)]
        else:
            claimed = self._other_fleets_queues()
            live = pdf[~pdf["queue"].isin(claimed)] if claimed else pdf
        park_src = pdf if self.scheduler_role else live
        to_park = park_src[park_src["status"].isin((STATUS_SCHEDULED, STATUS_RETRYING))]
        if len(to_park):
            self.ledger.park(
                pa.Table.from_pandas(to_park, schema=ARROW_LOG_SCHEMA, preserve_index=False)
            )
        runnable = live[live["status"] == STATUS_ENQUEUED]
        if len(runnable):
            self._execute_bounded(runnable)

    def tick(self) -> None:
        """Timer sweep: due scheduled/retrying jobs + due cron entries.
        Mirrors the scheduler poll (scheduler.clj:22-48) and cron tick
        (cron.clj:57-103); runs between micro-batches (serialized with
        the stream's foreachBatch via the worker lock)."""
        with self._lock:
            self.registry.beat(self.worker_id)
            if self.scheduler_role:
                self._sweep_due()
                self._cron_tick()

    # ------------------------------------------------------------------

    def _execute_bounded(self, pdf: pd.DataFrame) -> None:
        """Execute a driver-built frame of runnable rows (a small
        micro-batch or a due-sweep chunk) in priority order (P8, applied
        in pandas). A frame of at most SMALL_BATCH_ROWS rows commits as
        one driver-written file; its job fns run on driver threads
        (``_run_local``) when their estimated CPU fits _DRIVER_CPU_S
        (else only the first chunk does), and the rows left past that
        budget run on the executors, whose outcome comes back to the
        same commit. A
        larger frame takes _execute_and_log's executor-side commit.
        Rows sent to the executors are sliced contiguously by
        createDataFrame, so the narrow coalesce keeps their order and no
        repartition shuffle runs; fan-out is ceil(rows / ROWS_PER_TASK)
        tasks."""
        pdf = pdf.sort_values(["priority", "enqueued_at"], ascending=[False, True])

        def frame(rows: pd.DataFrame) -> DataFrame:
            return self.spark.createDataFrame(
                _coerce_log_pdf(rows), schema=self.ledger._spark_log_schema()
            )

        def width(rows: pd.DataFrame) -> int:
            return max(1, min(self.spark.sparkContext.defaultParallelism,
                              -(-len(rows) // ROWS_PER_TASK)))

        if len(pdf) > SMALL_BATCH_ROWS:
            self._execute_and_log(frame(pdf), width=width(pdf))
            return
        exec_start = time.perf_counter()
        if self.emit_in_progress:
            # in-progress stamp: one file whose fresh seqs stay below the
            # outcome rows' later time base, so the outcome remains each
            # job's latest row
            base = next_seq()
            marked = pdf.assign(
                status=STATUS_IN_PROGRESS,
                worker_id=self.worker_id,
                seq=[base + i for i in range(len(pdf))],
            )
            self.ledger.append_table(
                pa.Table.from_pandas(marked, schema=ARROW_LOG_SCHEMA, preserve_index=False)
            )

        def on_executors(rows: pd.DataFrame) -> pa.Table:
            df = frame(rows)
            return self._to_arrow(
                df.coalesce(width(rows)).mapInPandas(self._executor(), schema=df.schema)
            )

        # The driver's share: the whole frame, or only its first chunk
        # when the last driver batch's CPU per row says the frame would
        # pass _DRIVER_CPU_S. That chunk runs beside the executors' job,
        # so the estimate follows job fns whose cost changes.
        share = len(pdf) if len(pdf) * self._cpu_s_per_row <= _DRIVER_CPU_S else ROWS_PER_TASK
        outs = []
        with ThreadPoolExecutor(1, thread_name_prefix="goose-share") as pool:
            driver = pool.submit(self._run_local, pdf.iloc[:share])
            if share < len(pdf):
                outs.append(on_executors(pdf.iloc[share:]))
            local, rest = driver.result()
        outs.append(local)
        if len(rest):
            outs.append(on_executors(rest))
        out_tbl = pa.concat_tables(outs)
        self.executions += out_tbl.num_rows
        # one parquet file per micro-batch == the ack/commit txn
        self.ledger.append_table(out_tbl)
        # park retry outcomes immediately so the next tick can sweep them
        # (the stream will also redeliver them; the sweep dedupes by seq)
        retrying = out_tbl.filter(
            pa.compute.equal(out_tbl["status"], pa.scalar(STATUS_RETRYING))
        )
        self.ledger.park(retrying)
        if self.metrics is not None and self.metrics.enabled():
            # metrics middleware position parity (worker.clj:46-55)
            self.metrics.record_outcomes(
                out_tbl["status"].to_pylist(),
                (time.perf_counter() - exec_start) * 1000,
            )
            from goose_spark.streaming.metrics import latency_classes_ms

            lat_pdf = out_tbl.select(
                ["status", "retry_count", "cron_name", "run_at",
                 "enqueued_at", "last_retried_at"]
            ).to_pandas()
            self.metrics.record_latency_classes(latency_classes_ms(lat_pdf, self._now()))
        self._batch_callbacks(out_tbl)

    def _executor(self):
        return _make_executor(self.retry_delay_fn, self.worker_id, self.middlewares,
                              error_handler=self.error_handler,
                              death_handler=self.death_handler,
                              skip_dead_queue=self.skip_dead_queue)

    def _run_local(self, pdf: pd.DataFrame) -> tuple[pa.Table, pd.DataFrame]:
        """Run the job fns in this process on ``pdf`` (already in priority
        order): its outcome rows, and the rows left for the executors.
        Chunks of ``ROWS_PER_TASK`` rows run on at most
        ``defaultParallelism`` threads, taken in priority order — goose's
        worker-thread pool (``worker.clj:81-87``) — so a job fn that
        waits on I/O keeps the fan-out the ``mapInPandas`` tasks gave it.
        Once the finished chunks' thread CPU time passes
        ``_DRIVER_CPU_S``, the chunks not yet started are left; the CPU
        per row of the chunks run here sets ``_cpu_s_per_row`` for the
        next routing decision."""
        run = self._executor()
        spent = []  # thread CPU seconds of each finished chunk

        def run_chunk(chunk):
            if sum(spent) > _DRIVER_CPU_S:
                return None  # left for the executors
            cpu = time.thread_time()
            out = next(run(iter([chunk])))
            spent.append(time.thread_time() - cpu)
            return out

        chunks = [pdf.iloc[i:i + ROWS_PER_TASK] for i in range(0, len(pdf), ROWS_PER_TASK)]
        threads = min(len(chunks), self.spark.sparkContext.defaultParallelism)
        with ThreadPoolExecutor(max(1, threads), thread_name_prefix="goose-job") as pool:
            outs = list(pool.map(run_chunk, chunks))
        rest = [chunk for chunk, out in zip(chunks, outs) if out is None]
        out_tbl = pa.Table.from_pandas(
            pd.concat([out for out in outs if out is not None]),
            schema=ARROW_LOG_SCHEMA, preserve_index=False,
        )
        self._cpu_s_per_row = sum(spent) / out_tbl.num_rows
        return out_tbl, pd.concat(rest) if rest else pdf.iloc[:0]

    def _execute_and_log(self, df: DataFrame, width: int | None = None) -> None:
        """Execute job rows on executors (``mapInPandas``) and commit the
        outcome as executor-written parts. ``width`` set means ``df`` is
        already in priority order (``_execute_bounded``) and runs on
        ``width`` tasks."""
        if width is None and df.isEmpty():
            return
        import time as _time

        _exec_start = _time.perf_counter()
        if width is None:
            # bounded-staleness priority (P8): front-priority rows first.
            # sortWithinPartitions (not a global orderBy): priority is
            # already an approximation per SURVEY §7.4.1, and a global
            # sort would add a range-sampling pass + full shuffle per
            # micro-batch. Width follows the cluster (defaultParallelism),
            # not a constant — on local[32] this is 32; on a
            # 1000-executor cluster it is the fleet's task slots.
            ordered = df.repartition(
                self.spark.sparkContext.defaultParallelism
            ).sortWithinPartitions(F.col("priority").desc(), F.col("enqueued_at"))
        else:
            # narrow coalesce keeps the caller's order and skips the
            # repartition shuffle stage entirely
            ordered = df.coalesce(width)
        if self.emit_in_progress:
            # executor-side in-progress stamp: same staged-append as the
            # outcome commit; the seq (fresh time base + per-id hash
            # offset) stays below the outcome row's later time base, so
            # the outcome remains the job's latest row
            marked_df = (
                ordered.withColumn("status", F.lit(STATUS_IN_PROGRESS))
                .withColumn("worker_id", F.lit(self.worker_id))
                .withColumn(
                    "seq",
                    F.lit(next_seq()) + F.pmod(F.xxhash64("id"), F.lit(1_000_000)),
                )
            )
            self.ledger.append_df(marked_df)
        outcome = ordered.mapInPandas(self._executor(), schema=df.schema)
        self._commit_distributed(outcome, _exec_start)

    def _commit_distributed(self, outcome: DataFrame, exec_start: float) -> None:
        """Executor-side ack/commit: tasks write outcome parts in parallel,
        the driver promotes them into log/ with metadata-only renames (the
        shape of a Delta transaction commit — data moves executor→disk,
        never executor→driver). Post-commit bookkeeping (counters, retry
        parking, batch callbacks) re-reads the committed files distributed
        and collects only bounded summaries."""
        import time as _time

        moved, _ = self.ledger.append_df(outcome)
        if not moved:
            return
        out = self.spark.read.schema(self.ledger._spark_log_schema()).parquet(*moved)
        # one summary scan: (status × batch_id × latency-class) counts +
        # mean wait — cardinality is bounded by 4 statuses × touched
        # batches × 4 classes, never by job volume
        retried = F.coalesce(F.col("retry_count"), F.lit(0)) > 0
        lcls = (
            F.when(retried, "retry")
            .when(F.col("cron_name").isNotNull(), "cron")
            .when(F.col("run_at").isNotNull(), "scheduled")
            .otherwise("execution")
        )
        basis = (
            F.when(retried, F.coalesce("last_retried_at", "run_at", "enqueued_at"))
            .when(F.col("run_at").isNotNull(), F.col("run_at"))
            .otherwise(F.col("enqueued_at"))
        )
        wait_ms = (F.lit(self._now()).cast("double") - basis.cast("double")) * 1000
        summary = (
            out.groupBy("status", "batch_id", lcls.alias("_lcls"))
            .agg(F.count("*").alias("n"), F.avg(wait_ms).alias("avg_wait_ms"))
            .collect()
        )
        status_counts: dict[str, int] = {}
        touched_set = set()
        lat_sum: dict[str, float] = {}
        lat_n: dict[str, int] = {}
        for r in summary:
            status_counts[r["status"]] = status_counts.get(r["status"], 0) + int(r["n"])
            if r["batch_id"] is not None:
                touched_set.add(r["batch_id"])
            if r["avg_wait_ms"] is not None:
                lat_sum[r["_lcls"]] = lat_sum.get(r["_lcls"], 0.0) + r["avg_wait_ms"] * int(r["n"])
                lat_n[r["_lcls"]] = lat_n.get(r["_lcls"], 0) + int(r["n"])
        n_rows = int(sum(status_counts.values()))
        if n_rows == 0:
            return
        self.executions += n_rows
        # park retry outcomes immediately so the next tick can sweep them
        # (the stream will also redeliver them; the sweep dedupes by seq)
        if status_counts.get(STATUS_RETRYING):
            self.ledger.park(
                self._to_arrow(out.filter(F.col("status") == STATUS_RETRYING))
            )
        if self.metrics is not None and self.metrics.enabled():
            self.metrics.record_outcome_counts(
                {s: int(c) for s, c in status_counts.items()},
                (_time.perf_counter() - exec_start) * 1000,
            )
            self.metrics.record_latency_classes(
                {c: lat_sum[c] / lat_n[c] for c in lat_sum if lat_n.get(c)}
            )
        self._run_batch_callbacks(sorted(touched_set))

    @staticmethod
    def _to_arrow(df: DataFrame) -> pa.Table:
        """Micro-batch → arrow (bounded by maxFilesPerTrigger; at 100 TB
        this would be a distributed Delta append instead)."""
        return pa.Table.from_pandas(df.toPandas(), schema=ARROW_LOG_SCHEMA, preserve_index=False)

    # ------------------------------------------------------------------
    # scheduler sweep (W7)
    # ------------------------------------------------------------------

    def _sweep_due(self) -> None:
        """Drain due parked rows in bounded chunks. Each pop materializes
        at most ``schedule_pop_limit`` rows (plus one row-group of
        slack) in driver memory — never the whole backlog — and the loop
        re-pops immediately while due jobs are found, exactly goose's
        scheduler: pop ≤50 (defaults.clj:49, commands.clj:219-228), poll
        again without sleeping when the pop was non-empty
        (scheduler.clj:36-48). A mass-retry wave all due "now" therefore
        drains in O(wave/limit) bounded iterations instead of one
        unbounded ``to_pandas()``."""
        while self._sweep_due_chunk():
            pass

    def _sweep_due_chunk(self) -> bool:
        # run_at-hour bucket prune + parquet min-stats prune: only files
        # whose bucket can hold rows due by now are opened. A stale
        # parked row whose job was since re-parked into a later bucket
        # fails the latest-seq guard below, so per-bucket sweeping stays
        # exactly-once.
        tbl, files, more = self.ledger.pop_due(self._now(), self.schedule_pop_limit)
        if tbl is None or tbl.num_rows == 0:
            if files:  # zero-row husk files: drop them
                self.ledger.replace_scheduled(None, files)
            return False
        # latest parked row per id (a retry may re-park the same id)
        pdf = tbl.to_pandas().sort_values("seq").drop_duplicates("id", keep="last")
        # stale-guard: a parked row is live only if it is STILL the job's
        # latest ledger row (redelivered history must never re-execute).
        # Log rows older than the oldest popped row cannot change that
        # answer, so the lookup is a seq-pruned Arrow scan for the
        # ≤pop-limit popped ids — no Spark job, and its cost follows the
        # age of the oldest popped row, not the size of the log.
        latest = self.ledger.latest_rows(pdf["id"], int(pdf["seq"].min()))
        live_mask = pdf.apply(
            lambda r: latest.get(r["id"], (None, None))[0] == r["seq"]
            and latest[r["id"]][1] in (STATUS_SCHEDULED, STATUS_RETRYING),
            axis=1,
        )
        pdf = pdf[live_mask]
        if len(pdf) == 0:
            self.ledger.replace_scheduled(None, files)
            return more
        due_mask = pdf["run_at"] <= pd.Timestamp(self._now())
        due, remaining = pdf[due_mask], pdf[~due_mask]
        remaining_tbl = pa.Table.from_pandas(remaining, schema=ARROW_LOG_SCHEMA, preserve_index=False)
        self.ledger.replace_scheduled(remaining_tbl if len(remaining) else None, files)
        if len(due) == 0:
            return more
        # due jobs jump the queue (front-enqueue parity, commands.clj:145-160)
        due = due.copy()
        due["priority"] = PRIORITY_FRONT
        due["status"] = STATUS_ENQUEUED
        # Consume-split: the sweeping owner executes only queues IT
        # consumes; due rows for other fleets' queues go back into the
        # log as fresh front-priority enqueued rows, which the owning
        # fleet's stream picks up on its own checkpoint — "come back as
        # enqueued rows", the broker-side scheduler shape of the
        # reference (scheduler.clj:22-48). Executing them here would
        # double-run them (the owning fleet also consumes the log).
        if self.queues:
            consume_mask = due["queue"].isin(self.queues)
        else:
            claimed = self.registry.claimed_queues(exclude_worker=self.worker_id)
            consume_mask = ~due["queue"].isin(sorted(claimed))
        mine, theirs = due[consume_mask], due[~consume_mask]
        if len(theirs):
            theirs = theirs.copy()
            base = next_seq()
            theirs["seq"] = [base + i for i in range(len(theirs))]
            self.ledger.append_table(
                pa.Table.from_pandas(
                    theirs, schema=ARROW_LOG_SCHEMA, preserve_index=False
                )
            )
        if len(mine):
            # the chunk is a bounded driver-built frame — right-sized
            # like a small micro-batch, not a fixed 32-task shuffle
            self._execute_bounded(mine)
        return more

    # ------------------------------------------------------------------
    # cron tick (W8)
    # ------------------------------------------------------------------

    def _cron_tick(self) -> None:
        path = self.ledger.cron_path
        if not os.path.exists(path):
            return
        tbl = pq.read_table(path)
        if tbl.num_rows == 0:
            return
        now = self._now()
        # vectorized due-scan: the common tick (nothing due) costs one
        # Arrow compare over the registry, NOT a Python loop — the
        # per-entry Python below runs only over entries actually firing
        import pyarrow.compute as pc

        due_mask = pc.and_kleene(
            pc.is_valid(tbl["next_run_at"]),
            pc.less_equal(tbl["next_run_at"], pa.scalar(now, type=pa.timestamp("us"))),
        )
        if pc.sum(due_mask).as_py() in (0, None):
            return
        entries = tbl.to_pylist()
        changed = False
        import uuid as _uuid

        new_jobs: list[dict] = []
        for e in entries:
            nxt = e["next_run_at"]
            if nxt is None or nxt > now:
                continue
            # backfill exactly ONE missed occurrence (cron-jobs.md ADR):
            # stamp the most recent due occurrence, not every missed one
            occurrence = cronlib.prev_run(e["cron_schedule"], e["timezone"], now)
            new_jobs.append(
                {
                    "id": str(_uuid.uuid4()),
                    "queue": e["queue"],
                    "execute_fn": e["execute_fn"],
                    "args": e["args"],
                    "status": STATUS_ENQUEUED,
                    "priority": PRIORITY_FRONT,
                    "enqueued_at": occurrence,  # cron-run-at stamp (cron.clj:83-87)
                    "cron_name": e["cron_name"],
                    "max_retries": 27,
                }
            )
            e["last_run_at"] = occurrence
            e["next_run_at"] = cronlib.next_run(e["cron_schedule"], e["timezone"], now)
            changed = True
        if new_jobs:
            self.ledger.append_rows(new_jobs)
        if changed:
            schema = pq.read_schema(path)
            tmp = path + f".tmp-{_uuid.uuid4().hex}"
            pq.write_table(pa.Table.from_pylist(entries, schema=schema), tmp)
            os.replace(tmp, path)

    # ------------------------------------------------------------------
    # batch state machine (B2–B4)
    # ------------------------------------------------------------------

    def _batch_callbacks(self, outcomes: pa.Table) -> None:
        if outcomes.num_rows == 0:
            return
        pdf = outcomes.to_pandas()
        self._run_batch_callbacks(sorted(set(pdf["batch_id"].dropna())))

    def _run_batch_callbacks(self, touched: list[str]) -> None:
        if not touched:
            return
        state = self.ledger.state(self.spark)
        counts = (
            state.filter(F.col("batch_id").isin(touched))
            .groupBy("batch_id")
            .agg(
                F.sum(F.when(F.col("status").isin(STATUS_ENQUEUED, "in_progress", STATUS_SCHEDULED), 1).otherwise(0)).alias("enq"),
                F.sum(F.when(F.col("status") == STATUS_RETRYING, 1).otherwise(0)).alias("retrying"),
                F.sum(F.when(F.col("status") == STATUS_SUCCESS, 1).otherwise(0)).alias("success"),
                # died_at, not status: a member that died under
                # skip_dead_queue is written 'deleted' (off the dead-queue
                # surfaces) but its death still counts toward the batch's
                # terminal status, exactly goose's batch dead-set
                F.sum(F.when(F.col("died_at").isNotNull(), 1).otherwise(0)).alias("dead"),
            )
            .collect()
        )
        batches = self._batches_state()
        for r in counts:
            derived = batch_status(int(r["enq"]), int(r["retrying"]), int(r["success"]), int(r["dead"]))
            current = batches.get(r["batch_id"])
            if current is None or current["status"] != "in-progress" or derived == "in-progress":
                continue
            # terminal transition — exactly-one callback (batch.clj:73-99):
            # foreachBatch is single-threaded per ledger, same guarantee as
            # goose's atomic SMOVE+SCARD txn
            current = dict(current)
            current["status"] = derived
            current["seq"] = next_seq()
            self._append_batch_update(current)
            if self.metrics is not None and self.metrics.enabled():
                # batch terminal metrics (metrics.clj:15-20): counter on
                # the derived status + create→terminal completion time
                created = current.get("created_at")
                comp_ms = (
                    (self._now() - created).total_seconds() * 1000
                    if created is not None else None
                )
                self.metrics.record_batch_terminal(derived, comp_ms)
            if current.get("callback_fn"):
                self.ledger.append_rows(
                    [
                        {
                            "id": f"callback-{current['id']}",
                            "queue": current["queue"],
                            "execute_fn": current["callback_fn"],
                            "args": json.dumps([current["id"], derived]),
                            "status": STATUS_ENQUEUED,
                            "priority": PRIORITY_FRONT,
                            "enqueued_at": self._now(),
                            "max_retries": 27,
                        }
                    ]
                )

    def _batches_state(self) -> dict[str, dict]:
        return self.ledger.batches_state()

    def _append_batch_update(self, row: dict) -> None:
        schema = None
        d = self.ledger.batches_dir
        for f in sorted(os.listdir(d)):
            if f.endswith(".parquet"):
                schema = pq.read_schema(os.path.join(d, f))
                break
        if schema is None:
            return
        tmp = os.path.join(d, f".tmp-{row['seq']}.parquet")
        pq.write_table(pa.Table.from_pylist([row], schema=schema), tmp)
        os.replace(tmp, os.path.join(d, f"{row['seq']}.parquet"))
