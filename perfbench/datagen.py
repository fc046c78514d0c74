"""Seeded inputs: the star-schema tables the analytics workload reads,
and the job mixes the jobs workloads enqueue.

The tables follow the shapes of the engine's testdata (TESTDATA.md):
same table and column names and types, the same value domains, and at
scale factor ``sf`` the same row counts (lineitem ~6M·sf, orders 1.5M·sf,
documents max(500, 50k·sf) with 5% near-duplicates, embeddings
max(500, 20k·sf) unit vectors of dimension 64). Only the tables the
query set reads are written.
"""

from __future__ import annotations

import os
import random
import uuid
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
EMB_DIM = 64
DUP_SHARE = 0.05


def _days(rng, start: datetime, n_days: int, size: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, size).astype("timedelta64[D]").astype("timedelta64[us]")


def _write(out_dir: str, name: str, cols: dict, schema: list) -> None:
    table = pa.Table.from_arrays(
        [pa.array(cols[n], type=t) for n, t in schema],
        schema=pa.schema(schema),
    )
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def star_schema(out_dir: str, sf: float, seed: int) -> None:
    """Write region, nation, customer, orders, lineitem, documents and
    embeddings under ``out_dir``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    ts = pa.timestamp("us")

    _write(out_dir, "region",
           {"r_regionkey": list(range(5)), "r_name": list(REGIONS)},
           [("r_regionkey", pa.int32()), ("r_name", pa.string())])
    _write(out_dir, "nation",
           {"n_nationkey": list(range(25)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": [i % 5 for i in range(25)]},
           [("n_nationkey", pa.int32()), ("n_name", pa.string()),
            ("n_regionkey", pa.int32())])

    n_cust = max(10, int(150_000 * sf))
    _write(out_dir, "customer",
           {"c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust)},
           [("c_custkey", pa.int64()), ("c_name", pa.string()),
            ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
            ("c_mktsegment", pa.string())])

    n_ord = max(100, int(1_500_000 * sf))
    _write(out_dir, "orders",
           {"o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(("F", "O", "P"), n_ord),
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
            "o_orderdate": _days(rng, datetime(1995, 1, 1), 2405, n_ord),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord)},
           [("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
            ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
            ("o_orderdate", ts), ("o_orderpriority", pa.string())])

    # 1-7 lines per order (mean 4), so lineitem ≈ 4 × orders ≈ 6M·sf
    per_order = rng.integers(1, 8, n_ord)
    n_li = int(per_order.sum())
    orderkey = np.repeat(np.arange(n_ord, dtype=np.int64), per_order)
    starts = np.repeat(np.cumsum(per_order) - per_order, per_order)
    linenumber = (np.arange(n_li) - starts + 1).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    n_part = max(20, int(200_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    _write(out_dir, "lineitem",
           {"l_orderkey": orderkey,
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": linenumber,
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(("A", "N", "R"), n_li),
            "l_linestatus": rng.choice(("F", "O"), n_li),
            "l_shipdate": _days(rng, datetime(1995, 1, 2), 2499, n_li)},
           [("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
            ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
            ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
            ("l_discount", pa.float64()), ("l_tax", pa.float64()),
            ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
            ("l_shipdate", ts)])

    # documents: random word sequences; 5% are an earlier-drawn document
    # plus the token "dup" (the near-duplicate pairs dedup/q84/tx14 find)
    n_doc = max(500, int(50_000 * sf))
    texts = [" ".join(rng.choice(VOCAB, rng.integers(10, 101))) for _ in range(n_doc)]
    dups = rng.choice(n_doc, int(n_doc * DUP_SHARE), replace=False)
    originals = np.setdiff1d(np.arange(n_doc), dups)
    for d in dups:
        texts[d] = texts[int(rng.choice(originals))] + " dup"
    _write(out_dir, "documents",
           {"doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, n_doc, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64)},
           [("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
            ("source", pa.string()), ("n_chars", pa.int64())])

    n_emb = max(500, int(20_000 * sf))
    emb = rng.standard_normal((n_emb, EMB_DIM)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(out_dir, "embeddings",
           {"vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": list(emb),
            "label": rng.integers(0, 10, n_emb).astype(np.int32)},
           [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
            ("label", pa.int32())])


class JobMix:
    """Seeded job ids and kinds. ``kind`` is "noop", "flaky" (fails once,
    retried with zero delay) or "scheduled" (a noop due 0.5-2 s after it
    is sent). Like bench.py's load, the special jobs sit at a fixed
    stride (every ``flaky_every``-th and ``scheduled_every``-th job), so
    each chunk of the feed carries the same retry and due-sweep work;
    the seed picks their offsets, the delays and the job ids."""

    def __init__(self, seed: int, flaky_every: int, scheduled_every: int = 0,
                 delay_range: tuple[float, float] = (0.5, 2.0)):
        self.rng = random.Random(seed)
        self.flaky_every = flaky_every
        self.flaky_at = self.rng.randrange(flaky_every)
        self.scheduled_every = scheduled_every
        self.scheduled_at = self.rng.randrange(scheduled_every) if scheduled_every else -1
        self.delay_range = delay_range

    def new_id(self) -> str:
        return str(uuid.UUID(int=self.rng.getrandbits(128), version=4))

    def draw(self, n: int, tag: str) -> list[dict]:
        out = []
        for i in range(n):
            job = {"id": self.new_id(), "kind": "noop", "args": (i,), "delay": 0.0}
            if i % self.flaky_every == self.flaky_at:
                job.update(kind="flaky", args=(f"{tag}-{i}", 1))
            elif self.scheduled_every and i % self.scheduled_every == self.scheduled_at:
                job.update(kind="scheduled", delay=self.rng.uniform(*self.delay_range))
            out.append(job)
        return out


def job_row(client, job: dict, now: datetime | None = None) -> dict:
    """The engine's own row builder (``JobClient._job_row``, the path
    every ``perform_*`` call takes) for one drawn job."""
    if job["kind"] == "flaky":
        return client._job_row("flaky", job["args"], None, id=job["id"], max_retries=1)
    if job["kind"] == "scheduled":
        run_at = (now or datetime.now(timezone.utc).replace(tzinfo=None)) + timedelta(seconds=job["delay"])
        return client._job_row("noop", job["args"], None, id=job["id"],
                               status="scheduled", run_at=run_at)
    return client._job_row("noop", job["args"], None, id=job["id"])
