"""Scale and skew points: time registered queries on N disjoint copies of
the testdata, and time the IVF serve on a corpus far above the driver
placement's bound.

Usage:
  python3 tools/scale_point.py ratio [-n COPIES] [QUERY ...]
      1x vs Nx: every query on sf0.1 and on N copies of it.
      Fixture-input queries (q91_merge_upsert_state,
      qj15_throughput_timeline) read the scaled job_events on the Nx side.
  python3 tools/scale_point.py skew [-n COPIES] [QUERY ...]
      The same Nx corpus twice: language-uniform vs 90%-'en'.
  python3 tools/scale_point.py serve [--corpus N] [--n-query Q]
      IVF serve over a synthetic hash-derived corpus (fixed centroids).
  python3 tools/scale_point.py serve --cells K [-n COPIES]
      Cells proportional to corpus: the ss20 serve (ss19's queries and
      support set, nprobe 6) on N copies with a K-cell k-means index.

ratio and skew print one markdown row per query: wall-clock on both
sides, answer rows, wall ratio and µs per output row of the second side.
serve prints one markdown row: index build, best-of-3 serve after one
warm-up serve, the probed cells' parquet footer rows and the placement
that ran ("driver": footer rows within EMBEDDING_ROW_CAP, a pyarrow read
and one driver kernel call; "distributed": a mapInPandas stage over the
probed-cell scan). Set SPARK_GRAFT_CPUS to pick the core count. Run on
an idle host.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.1"

RATIO_QUERIES = [
    "dd1_exact_dedup",
    "dd2_minhash_lsh",
    "dd6_dedup_clusters",
    "sp1_hash_split",
    "sp3_token_chunking",
    "sp4_packed_shards",
    "q48_token_topk",
    "q49_ntile_percent_rank",
    "q50_moment_stats",
    "tx1_token_counts",
    "ss2_ann_lsh",
    "ss3_ann_ivf",
    "tx6_repetition_filter",
    "tx7_rare_token_ratio",
    "sp5_quality_weighted_sample",
    "sp6_decontaminate",
    "sp7_mixture_sample",
    "sp8_epoch_shuffle",
    "tx8_pii_scrub",
    "tx9_lm_surprisal",
    "ss4_label_centroids",
    "q55_waiting_suppliers",
    "q57_sliding_window",
    "q74_banded_time_join",
    "q76_peak_concurrency",
    "q78_sketch_rollup",
    "q80_bpe_encode",
    "tx13_heavy_hitters",
    "ss8_semdedup",
    "tx14_containment",
    "tx15_bigram_lm",
    "tx16_distribution_drift",
    "q82_ohlc_downsample",
    "q83_rate_anomaly",
    "sp10_weighted_sample",
    "ss9_mmr_rerank",
    "q86_fuzzy_name_pairs",
    "q87_triangle_count",
    "q88_brand_affinity",
    "q89_event_transitions",
    "sp11_packing_efficiency",
    "sp12_contamination_matrix",
    "q92_session_window",
    "ss11_range_search",
    "q91_merge_upsert_state",
    "qj15_throughput_timeline",
]

#: queries whose plan keys on lang (block, group or rate key), plus
#: lang-free controls
SKEW_QUERIES = [
    "dd1_exact_dedup",       # control: fingerprint-keyed
    "dd2_minhash_lsh",       # control: band-bucket keyed
    "dd4_ngram_jaccard",     # blocks on (lang × length-bucket)
    "tx2_langid_confusion",  # groups by (lang, predicted)
    "tx5_tfidf_top_terms",   # groups by (lang, token)
    "sp7_mixture_sample",    # per-lang rates
]

DIMS = ("supplier", "nation", "part", "region")
FIXTURE_DIMS = ("jobs", "batches", "cron_entries")


def build_scaled(spark, src_dir: str, n_copies: int, skew: bool = False) -> str:
    """Write N disjoint copies of ``src_dir``'s fact tables to a new temp
    dir and return it; the caller removes it. Scaled job_events go to its
    ``fixtures/`` subdir next to the unscaled fixture dims.

    Each copy shifts its keys so copies never share an id, and keeps the
    value distributions: documents get a per-copy suffix token (so
    shingle sets differ slightly per copy); customers re-derive c_name
    from the shifted key (distinct entities, not name copies); lineitem
    and orders share one orderkey shift so they stay joinable; events
    move 40 days per copy, so temporal density is constant and the
    growth axis is time covered; job_events get disjoint job ids and
    seqs, spread over about a year. Dims pass through unscaled.
    ``skew`` forces 90% of the documents (by doc_id) to lang 'en'."""
    from pyspark.sql import functions as F

    from goose_spark.queries.base import FIXTURES_DIR
    from goose_spark.queries.base import t as load_table

    def shift(col, step):
        return lambda df, i: df.withColumn(col, F.col(col) + F.lit(i * step))

    def docs(df, i):
        suffix = f" copytoken{i}"
        return df.select(
            (F.col("doc_id") + i * 10_000_000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(suffix)).alias("text"),
            "lang",
            "source",
            (F.col("n_chars") + len(suffix)).alias("n_chars"),
        )

    def customer(df, i):
        return shift("c_custkey", 10_000_000)(df, i).withColumn(
            "c_name", F.format_string("Customer#%09d", F.col("c_custkey")))

    def events(df, i):
        return (df.withColumn("event_id", F.col("event_id") + F.lit(i * 100_000_000))
                .withColumn("user_id", F.col("user_id") + F.lit(i * 10_000_000))
                .withColumn("ts", F.col("ts") + F.expr(f"INTERVAL {i * 40} DAYS")))

    step_days = 365.0 / n_copies

    def job_events(df, i):
        return (df.withColumn("job_id", F.concat(F.col("job_id"), F.lit(f"#{i}")))
                .withColumn("seq", F.col("seq") + F.lit(i * 10_000_000))
                .withColumn("event_time", F.col("event_time")
                            + F.expr(f"INTERVAL {int(i * step_days * 24 * 60)} MINUTES")))

    out = tempfile.mkdtemp(prefix="goose-scale-")
    fixtures = os.path.join(out, "fixtures")
    recipes = [
        (src_dir, "documents", docs, out),
        (src_dir, "embeddings", shift("vec_id", 10_000_000), out),
        (src_dir, "customer", customer, out),
        (src_dir, "lineitem", shift("l_orderkey", 100_000_000), out),
        (src_dir, "orders", shift("o_orderkey", 100_000_000), out),
        (src_dir, "events", events, out),
        (FIXTURES_DIR, "job_events", job_events, fixtures),
    ]
    for src, name, copy, dst in recipes:
        # events via the dtype-normalizing loader (the raw file may be
        # TIMESTAMP(NANOS)); the scaled copy is written back as plain µs
        df = load_table(spark, src, name)
        big = copy(df, 0)
        for i in range(1, n_copies):
            big = big.unionAll(copy(df, i))
        if skew and name == "documents":
            # deterministic by doc_id, so the uniform and skewed corpora
            # hold identical rows except the lang column
            big = big.withColumn(
                "lang", F.when(F.col("doc_id") % 10 < 9, F.lit("en")).otherwise(F.col("lang")))
        big.repartition(32).write.parquet(os.path.join(dst, f"{name}.parquet"))
    for src, names, dst in ((src_dir, DIMS, out), (FIXTURES_DIR, FIXTURE_DIMS, fixtures)):
        for name in names:
            spark.read.parquet(os.path.join(src, f"{name}.parquet")).write.parquet(
                os.path.join(dst, f"{name}.parquet"))
    return out


def _timed(spark, spec, sf_dir: str, fixtures_dir: str) -> tuple[float, int]:
    """(wall seconds, answer rows) of one query, with the fixture loader
    pointed at ``fixtures_dir``. The read cache keys fixture reads on
    FIXTURES_DIR's value, so the swap needs no eviction."""
    import goose_spark.queries.base as base

    orig = base.FIXTURES_DIR
    base.FIXTURES_DIR = fixtures_dir
    try:
        t0 = time.perf_counter()
        n = spec.builder(spark, sf_dir).count()
        return time.perf_counter() - t0, n
    finally:
        base.FIXTURES_DIR = orig


def time_queries(spark, names: list[str], sides: list[tuple[str, str, str]]) -> None:
    """One markdown row per query over two ``(label, sf_dir,
    fixtures_dir)`` sides."""
    from goose_spark.queries import load_all

    registry = load_all()
    (la, _, _), (lb, _, _) = sides
    print(f"| query | {la} sec | {lb} sec | {la} rows | {lb} rows | ratio | µs/output row ({lb}) |")
    print("|---|---|---|---|---|---|---|", flush=True)
    for name in names:
        (ta, na), (tb, nb) = (_timed(spark, registry[name], d, fx) for _, d, fx in sides)
        print(f"| {name} | {ta:.2f} | {tb:.2f} | {na} | {nb} | {tb / ta:.1f}x "
              f"| {1e6 * tb / max(nb, 1):.2f} |", flush=True)


def serve_point(spark, corpus, centroids, query_mod: int, nprobe: int, topk: int,
                allowed=None) -> None:
    """Build an IVF index over ``corpus`` (vec_id, emb) on ``centroids``,
    serve the corpus rows with ``vec_id % query_mod == 0`` as queries and
    print one markdown row."""
    from pyspark.sql import functions as F

    from goose_spark.operators.annindex import (
        _cell_files,
        _centroid_matrix,
        _probe,
        build_ivf_index_from,
        ivf_index_query,
    )
    from goose_spark.plans.inspect import physical_plan

    idx = tempfile.mkdtemp(prefix="goose-scale-point-")
    try:
        t0 = time.perf_counter()
        build_ivf_index_from(spark, corpus, centroids, idx)
        build_s = time.perf_counter() - t0
        q = corpus.filter(F.col("vec_id") % query_mod == 0).select(
            F.col("vec_id").alias("query_id"), F.col("emb").alias("qe"))

        def serve():
            return ivf_index_query(spark, idx, q, nprobe=nprobe, topk=topk, allowed=allowed)

        serve().count()  # warm-up: JIT, Python workers
        runs = []
        for _ in range(3):
            t0 = time.perf_counter()
            n = serve().count()
            runs.append(time.perf_counter() - t0)
        probes = _probe(q, _centroid_matrix(spark, idx), nprobe)
        if probes is None:  # oversized batch: probed in a mapInPandas
            n_query, cell_rows = q.count(), "—"
        else:
            probed = sorted({int(c) for cl in probes["clusters"] for c in cl})
            n_query = len(probes)
            cell_rows = sum(r for _, _, r in _cell_files(idx, probed))
        placement = "distributed" if "MapInPandas" in physical_plan(serve()) else "driver"
        print("| corpus | queries | cells | nprobe | build sec | serve sec (best of 3) "
              "| rows | probed footer rows | placement |")
        print("|---|---|---|---|---|---|---|---|---|")
        print(f"| {corpus.count()} | {n_query} | {len(centroids)} | {nprobe} "
              f"| {build_s:.2f} | {min(runs):.2f} | {n} | {cell_rows} | {placement} |",
              flush=True)
    finally:
        shutil.rmtree(idx, ignore_errors=True)


def synthetic_serve(spark, n_corpus: int, n_query: int) -> None:
    from pyspark.sql import functions as F

    from goose_spark.operators.similarity import _DIM, IVF_K, IVF_NPROBE, TOP_K

    # hash-derived pseudo-random doubles, generated on the executors
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(_DIM - 1)),
        lambda j: (F.xxhash64(F.col("vec_id") * _DIM + j) % 1000003).cast("double")
        / 1000003.0,
    )
    corpus = spark.range(n_corpus).select(F.col("id").alias("vec_id"), vec.alias("emb"))
    # fixed centroids: k-means would dominate the timing, and the scan
    # measurement needs cell balance, not quality
    cent = [r["emb"] for r in corpus.limit(IVF_K).collect()]
    serve_point(spark, corpus, cent, n_corpus // n_query, IVF_NPROBE, TOP_K)


def cells_serve(spark, scaled: str, k_cells: int) -> None:
    from pyspark.sql import functions as F

    from goose_spark.operators.similarity import (
        _SS19_K,
        _SS19_QUERY_MOD,
        _SS20_NPROBE,
        _embeddings,
        _train_ivf,
    )

    v = _embeddings(spark, scaled)
    t0 = time.perf_counter()
    centroids = _train_ivf(v, k=k_cells)
    print(f"trained {k_cells} cells in {time.perf_counter() - t0:.1f}s", flush=True)
    allowed = v.filter(F.col("vec_id") % _SS19_QUERY_MOD != 0).select("vec_id")
    serve_point(spark, v, centroids, _SS19_QUERY_MOD, _SS20_NPROBE, _SS19_K, allowed)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("mode", choices=("ratio", "skew", "serve"))
    ap.add_argument("queries", nargs="*")
    ap.add_argument("-n", "--copies", type=int, help="copies (ratio 16, skew 8, --cells 64)")
    ap.add_argument("--corpus", type=int, default=100_000, help="synthetic serve corpus")
    ap.add_argument("--n-query", type=int, default=500,
                    help="synthetic serve query count")
    ap.add_argument("--cells", type=int, help="serve ss20 on N copies with K cells")
    args = ap.parse_args()

    from goose_spark.queries import load_all
    from goose_spark.queries.base import FIXTURES_DIR
    from goose_spark.session import get_spark

    unknown = [n for n in args.queries if n not in load_all()]
    if unknown:  # fail in ms, not after the dataset build
        raise SystemExit(f"unknown queries: {unknown}")
    spark = get_spark(f"gosling-scale-{args.mode}", console_progress=False)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).mapInPandas(lambda it: it, schema="id long").count()

    if args.mode == "serve" and args.cells is None:
        synthetic_serve(spark, args.corpus, args.n_query)
        return
    n = args.copies or {"ratio": 16, "skew": 8, "serve": 64}[args.mode]
    t0 = time.perf_counter()
    scaled = [build_scaled(spark, SF, n, skew=s)
              for s in ((False, True) if args.mode == "skew" else (False,))]
    print(f"built {n}x in {time.perf_counter() - t0:.0f}s", flush=True)
    try:
        if args.mode == "ratio":
            time_queries(spark, args.queries or RATIO_QUERIES, [
                ("1x", SF, FIXTURES_DIR),
                (f"{n}x", scaled[0], os.path.join(scaled[0], "fixtures")),
            ])
        elif args.mode == "skew":
            time_queries(spark, args.queries or SKEW_QUERIES, [
                (f"uniform {n}x", scaled[0], FIXTURES_DIR),
                (f"90%-en {n}x", scaled[1], FIXTURES_DIR),
            ])
        else:
            cells_serve(spark, scaled[0], args.cells)
    finally:
        for d in scaled:
            shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    main()
