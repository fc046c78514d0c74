"""Staged multi-directory commits — the one writer of ``_commits/*.json``.

goose gets atomic job transitions from Redis MULTI; a directory of
parquet files gets them from a transaction log. A publish writes each
item's rows executor-side into its own ``.staging-*`` dir, then commits
them with metadata-only renames under ONE manifest
(``_commits/<seq>.json``, written atomically before the first rename):

* before the manifest lands the publish never happened — its staging
  is garbage, removed at once or by the age-gated sweep;
* after it lands, any later ``recover()`` finishes the renames (the
  roll-forward a Delta reader applies to its commit files), so readers
  that list the destination dirs never see a torn prefix as the final
  state. Staged files are the durable copy of every rename still to
  come, so they are removed only once every add is in place;
* a manifest's removes (the superseded files of a compaction) run only
  after every add is in place — deleting originals whose replacement
  never landed would turn a torn commit into data loss.

The job ledger (``Ledger``) and the corpus store (``CorpusIngest``)
both publish through this class.
"""

from __future__ import annotations

import itertools
import json
import os
import shutil
import time
import uuid

import pyarrow.parquet as pq

_seq_tiebreak = itertools.count()


def next_seq() -> int:
    """Monotonic log sequence (ns clock + in-process tiebreak)."""
    return time.time_ns() + next(_seq_tiebreak)


class Publisher:
    """Staged publish into sub-directories of ``root``: ``stage`` writes
    the rows, ``commit`` makes them visible (``publish`` does both).
    Callers that serialize with a reader hold their lock around
    ``commit`` only — it is file-metadata cheap."""

    #: finished manifests kept as audit; older ones are pruned
    KEEP_MANIFESTS = 1024
    #: a staging dir no manifest references is an orphan past this age
    #: (the gate keeps a concurrent writer's in-flight stage safe)
    STALE_STAGING_SEC = 3600

    def __init__(self, root: str):
        self.root = root
        self.commits_dir = os.path.join(root, "_commits")
        os.makedirs(self.commits_dir, exist_ok=True)
        self._commits = 0

    def stage(self, items) -> dict:
        """Write every ``(df, dest, prefix)`` item to its own staging dir
        and name its non-empty parts ``{prefix}{seq}-{uuid}.parquet``
        under ``root/dest`` (seqs ascend in part order). Returns the
        uncommitted manifest for ``commit``."""
        stagings: list[str] = []
        entries: list[dict] = []
        try:
            for df, dest, prefix in items:
                staging = f".staging-{uuid.uuid4().hex}"
                stagings.append(staging)
                df.write.mode("overwrite").parquet(os.path.join(self.root, staging))
                for f in sorted(os.listdir(os.path.join(self.root, staging))):
                    if not f.endswith(".parquet"):
                        continue
                    n = pq.ParquetFile(os.path.join(self.root, staging, f)).metadata.num_rows
                    if n == 0:
                        # empty parts (tasks that got no rows) never reach
                        # the destination: a file-source stream's listing
                        # and checkpoint index grow per file
                        continue
                    entries.append({
                        "staging": staging,
                        "src": f,
                        "dest": dest,
                        "dst": f"{prefix}{next_seq()}-{uuid.uuid4().hex}.parquet",
                        "rows": n,
                    })
        except BaseException:
            self._drop(stagings)
            raise
        return {"stagings": stagings, "entries": entries}

    def commit(self, staged: dict, removes: list[dict] | None = None) -> list[dict]:
        """Commit a staged publish plus optional ``removes``
        (``[{dest, file}]``, the compaction delete-set) under one
        manifest. Returns the published entries (``dest``, ``dst``,
        ``rows``); nothing is written when there is nothing to do."""
        manifest = dict(staged, seq=next_seq(), removes=removes or [])
        if not manifest["entries"] and not manifest["removes"]:
            self._drop(manifest["stagings"])
            return []
        path = os.path.join(self.commits_dir, f"{manifest['seq']}.json")
        tmp = path + f".tmp-{uuid.uuid4().hex}"
        try:
            with open(tmp, "w") as fh:
                json.dump(manifest, fh)
                fh.flush()
                os.fsync(fh.fileno())
            os.replace(tmp, path)  # ← the commit point
        except BaseException:
            self._drop(manifest["stagings"])
            raise
        self._apply(manifest)
        self._commits += 1
        if self._commits % 512 == 0:
            self._prune([p for p, m in self._manifests() if not self._pending(m)])
        return manifest["entries"]

    def publish(self, items, removes: list[dict] | None = None) -> list[dict]:
        return self.commit(self.stage(items), removes)

    def recover(self) -> None:
        """Roll every torn commit forward, then prune finished manifests
        and sweep orphaned staging dirs. A commit that cannot finish (a
        staged part was lost) keeps its staging for the operator."""
        held: set[str] = set()
        done: list[str] = []
        for path, manifest in self._manifests():
            if self._pending(manifest):
                self._apply(manifest)
            if self._pending(manifest):
                held.update(manifest.get("stagings", []))
            else:
                done.append(path)
        self._prune(done)
        now = time.time()
        for f in os.listdir(self.root):
            p = os.path.join(self.root, f)
            if not f.startswith(".staging-") or f in held:
                continue
            try:
                if os.path.isdir(p) and now - os.path.getmtime(p) > self.STALE_STAGING_SEC:
                    shutil.rmtree(p, ignore_errors=True)
            except OSError:
                pass

    # ---- internals ---------------------------------------------------------

    def _manifests(self) -> list[tuple[str, dict]]:
        out = []
        for f in sorted(os.listdir(self.commits_dir)):
            if not f.endswith(".json"):
                continue
            path = os.path.join(self.commits_dir, f)
            try:
                with open(path) as fh:
                    out.append((path, json.load(fh)))
            except (OSError, ValueError):
                continue
        return out

    def _staging_dirs(self, names: list[str]) -> list[str]:
        # a manifest only ever names dirs this class staged
        return [os.path.join(self.root, s) for s in names if s.startswith(".staging-")]

    def _pending(self, manifest: dict) -> bool:
        """Renames still staged, or removes not yet run. Removed file
        names are uuid-unique, so a remove target that still exists is
        always pending work, never a re-created file."""
        staged = self._staging_dirs(manifest.get("stagings", []))
        return any(os.path.isdir(s) for s in staged) or any(
            os.path.exists(os.path.join(self.root, r["dest"], r["file"]))
            for r in manifest.get("removes", [])
        )

    def _apply(self, manifest: dict) -> None:
        """Execute (or re-execute after a crash) a manifest. Idempotent:
        a rename whose dst exists already happened."""
        dsts = []
        for e in manifest["entries"]:
            dst_dir = os.path.join(self.root, e["dest"])
            os.makedirs(dst_dir, exist_ok=True)
            dst = os.path.join(dst_dir, e["dst"])
            src = os.path.join(self.root, e["staging"], e["src"])
            if not os.path.exists(dst) and os.path.exists(src):
                os.replace(src, dst)
            dsts.append(dst)
        # a lost staged part leaves its dst missing: running the removes
        # then would delete originals that have no replacement
        if not all(os.path.exists(d) for d in dsts):
            return
        for r in manifest.get("removes", []):
            p = os.path.join(self.root, r["dest"], r["file"])
            if os.path.exists(p):
                os.remove(p)
        self._drop(manifest.get("stagings", []))

    def _prune(self, done: list[str]) -> None:
        for path in done[:-self.KEEP_MANIFESTS]:
            try:
                os.remove(path)
            except OSError:
                pass

    def _drop(self, stagings: list[str]) -> None:
        for s in self._staging_dirs(stagings):
            shutil.rmtree(s, ignore_errors=True)
