"""Training-data pipeline operators beyond dedup/similarity/text-stats:
deterministic splits, stratified sampling, token-budget chunking, a
cluster-aware keep rule, and an event funnel. All are first-class
`queries()` entries with DuckDB oracles.

Determinism across engines comes from md5-hex bucketing (the portable
hash): `substr(md5(key), 1, 2)` is 256 uniform buckets whose lexicographic
comparison is identical in Spark and DuckDB — no engine RNG anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from goose_spark.operators.textlib import token_count_ws
from goose_spark.plans.guards import local_relation
from goose_spark.queries.base import register, t

#: 256-bucket md5 prefix thresholds: train < 0xcd (80.1%), val < 0xe6
#: (~9.8%), test otherwise (~10.2%).
_TRAIN_LT = "cd"
_VAL_LT = "e6"
#: ~5.1% sample: md5 prefix < 0x0d → 13/256 buckets.
_SAMPLE_LT = "0d"

_CTX_TOKENS = 2048  # sequence-packing context budget


def _bucket2(col) -> F.Column:
    """First two md5 hex chars of the stringified key — a deterministic,
    engine-portable 256-way bucket."""
    return F.substring(F.md5(col.cast("string").cast("binary")), 1, 2)


@register(
    "sp1_hash_split",
    f"""SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '{_TRAIN_LT}'
                    THEN 'train'
                    WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '{_VAL_LT}'
                    THEN 'val' ELSE 'test' END AS split,
              COUNT(*) AS n_docs,
              CAST(SUM(n_chars) AS BIGINT) AS total_chars,
              ROUND(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*), 2) AS avg_chars
       FROM documents GROUP BY 1 ORDER BY split""",
    doc="Deterministic train/val/test split (~80/10/10) by md5-prefix "
        "bucket of the doc id — reproducible across engines, runs, and "
        "cluster sizes; a narrow projection + hash-agg, no shuffle of "
        "document bodies.",
    tags=("llm", "pipeline"),
)
def sp1(spark: SparkSession, sf: str) -> DataFrame:
    d = t(spark, sf, "documents")
    b = _bucket2(F.col("doc_id"))
    split = (
        F.when(b < _TRAIN_LT, "train").when(b < _VAL_LT, "val").otherwise("test")
    )
    return (
        d.groupBy(split.alias("split"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.round(F.sum("n_chars").cast("double") / F.count("*"), 2).alias("avg_chars"),
        )
        .orderBy("split")
    )


@register(
    "sp2_stratified_sample",
    f"""SELECT lang, source, COUNT(*) AS total,
              CAST(SUM(CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '{_SAMPLE_LT}'
                       THEN 1 ELSE 0 END) AS BIGINT) AS sampled,
              ROUND(CAST(SUM(CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '{_SAMPLE_LT}'
                                  THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 4) AS rate
       FROM documents GROUP BY lang, source ORDER BY lang, source""",
    doc="Stratified ~5% sample audit per (lang, source): the same "
        "md5-bucket predicate every executor applies locally — sampling "
        "at 100 TB is a pushed-down filter, never a collect or RNG.",
    tags=("llm", "pipeline"),
)
def sp2(spark: SparkSession, sf: str) -> DataFrame:
    d = t(spark, sf, "documents")
    keep = (_bucket2(F.col("doc_id")) < _SAMPLE_LT).cast("long")
    return (
        d.groupBy("lang", "source")
        .agg(
            F.count("*").alias("total"),
            F.sum(keep).alias("sampled"),
            F.round(F.sum(keep).cast("double") / F.count("*"), 4).alias("rate"),
        )
        .orderBy("lang", "source")
    )


@register(
    "sp3_token_chunking",
    f"""WITH toks AS (
         SELECT doc_id, len(string_split_regex(lower(text), '\\s+')) AS n_tokens
         FROM documents),
       c AS (
         SELECT doc_id, n_tokens,
                COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS cum_before
         FROM toks)
       SELECT CAST(FLOOR(CAST(cum_before AS DOUBLE) / {_CTX_TOKENS}) AS BIGINT) AS chunk,
              COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS chunk_tokens
       FROM c GROUP BY 1 ORDER BY chunk LIMIT 200""",
    doc=f"Concat-and-chunk sequence packing: prefix-sum of token counts "
        f"in doc_id order assigns each document to a {_CTX_TOKENS}-token "
        f"context chunk. Runs on the two-pass distributed prefix sum "
        f"(token_chunks_two_pass): per-bucket offsets + partitioned "
        f"windows — no single-task global window at any scale.",
    tags=("llm", "pipeline"),
)
def sp3(spark: SparkSession, sf: str) -> DataFrame:
    c = token_chunks_two_pass(spark, sf)
    return (
        c.groupBy("chunk")
        .agg(F.count("*").alias("n_docs"), F.sum("n_tokens").alias("chunk_tokens"))
        .orderBy("chunk")
        .limit(200)
    )


def _dd7_oracle() -> str:
    from goose_spark.operators.clusters import _DD6_ORACLE

    return f"""
WITH comp AS (SELECT * FROM ({_DD6_ORACLE}) x),
j AS (SELECT comp.cluster_id, comp.doc_id, d.n_chars
      FROM comp JOIN documents d ON d.doc_id = comp.doc_id),
r AS (SELECT cluster_id, doc_id, n_chars,
             ROW_NUMBER() OVER (PARTITION BY cluster_id
                                ORDER BY n_chars DESC, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY cluster_id) AS n_members
      FROM j)
SELECT cluster_id, doc_id AS keep_doc_id, n_members, n_chars AS kept_chars
FROM r WHERE rn = 1 ORDER BY cluster_id"""


@register(
    "dd7_cluster_keep_best",
    _dd7_oracle(),
    doc="Cluster-aware keep rule: within each near-dup component (dd6) "
        "retain the longest document (ties to smallest id) — the actual "
        "drop decision a dedup pipeline ships, vs dd6's min-id keeper. "
        "Join is cluster-members × documents on doc_id, then one "
        "per-cluster window.",
    tags=("llm", "dedup"),
)
def dd7(spark: SparkSession, sf: str) -> DataFrame:
    from goose_spark.queries import load_all

    comp = load_all()["dd6_dedup_clusters"].builder(spark, sf).select("doc_id", "cluster_id")
    d = t(spark, sf, "documents").select("doc_id", "n_chars")
    j = comp.join(d, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(F.col("n_chars").desc(), "doc_id")
    wc = Window.partitionBy("cluster_id")
    return (
        j.withColumn("rn", F.row_number().over(w))
        .withColumn("n_members", F.count("*").over(wc))
        .filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("keep_doc_id"),
            "n_members",
            F.col("n_chars").alias("kept_chars"),
        )
        .orderBy("cluster_id")
    )


@register(
    "ev1_funnel",
    """WITH u AS (
         SELECT user_id,
                MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
                MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
                MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
         FROM events GROUP BY user_id)
       SELECT COUNT(*) AS n_users,
              CAST(SUM(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS viewed,
              CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                       THEN 1 ELSE 0 END) AS BIGINT) AS clicked_after_view,
              CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                            AND t_purchase > t_click
                       THEN 1 ELSE 0 END) AS BIGINT) AS full_funnel
       FROM u""",
    doc="Ordered conversion funnel view→click→purchase: one hash-agg to "
        "first-touch timestamps per user, then conditional counts. A "
        "single shuffle on user_id at any scale.",
)
def ev1(spark: SparkSession, sf: str) -> DataFrame:
    e = t(spark, sf, "events")
    first = lambda typ: F.min(F.when(F.col("event_type") == typ, F.col("ts")))  # noqa: E731
    u = e.groupBy("user_id").agg(
        first("view").alias("t_view"),
        first("click").alias("t_click"),
        first("purchase").alias("t_purchase"),
    )
    viewed = F.col("t_view").isNotNull()
    clicked = viewed & (F.col("t_click") > F.col("t_view"))
    full = clicked & (F.col("t_purchase") > F.col("t_click"))
    return u.agg(
        F.count("*").alias("n_users"),
        F.sum(viewed.cast("long")).alias("viewed"),
        F.sum(clicked.cast("long")).alias("clicked_after_view"),
        F.sum(full.cast("long")).alias("full_funnel"),
    )


@register(
    "sp4_packed_shards",
    f"""WITH toks AS (
         SELECT doc_id, text,
                len(string_split_regex(lower(text), '\\s+')) AS n_tokens
         FROM documents),
       c AS (
         SELECT doc_id, text, n_tokens,
                COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS cum_before
         FROM toks)
       SELECT CAST(FLOOR(CAST(cum_before AS DOUBLE) / {_CTX_TOKENS}) AS BIGINT) AS chunk,
              COUNT(*) AS n_docs,
              CAST(SUM(n_tokens) AS BIGINT) AS chunk_tokens,
              md5(string_agg(text, chr(30) ORDER BY doc_id)) AS shard_digest
       FROM c GROUP BY 1 ORDER BY chunk LIMIT 50""",
    doc=f"Packed training shards — the artifact sp3 only summarizes: "
        f"documents concatenated (RS-separated) into {_CTX_TOKENS}-token "
        f"context chunks in doc_id order; emitted as a digest so the "
        f"oracle hash checks the exact packed bytes without shipping "
        f"them. Chunk assignment rides the two-pass distributed prefix "
        f"sum (text carried through the bucket-partitioned window, "
        f"never a single task); at 100 TB the shard body writes straight "
        f"to parquet from the executors and only the digest flows to any "
        f"audit table.",
    tags=("llm", "pipeline"),
)
def sp4(spark: SparkSession, sf: str) -> DataFrame:
    c = token_chunks_two_pass(spark, sf, with_text=True)
    packed = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("doc_id", "text"))),
            lambda s: s["text"],
        ),
        "\x1e",
    )
    return (
        c.groupBy("chunk")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("chunk_tokens"),
            F.md5(packed).alias("shard_digest"),
        )
        .orderBy("chunk")
        .limit(50)
    )


def token_chunks_two_pass(spark: SparkSession, sf: str,
                          num_buckets: int = 256,
                          with_text: bool = False,
                          bucket_bounds: str = "uniform") -> DataFrame:
    """Distributed sequence packing — the 100 TB form of sp3's prefix sum.

    A single ``Window.orderBy(doc_id)`` funnels the whole corpus through
    one task; this is the standard two-pass replacement, expressed as
    pure DataFrame algebra (no persist, no Python kernel):

    1. bucket each doc by an EXPLICIT order-respecting function of
       doc_id (uniform [min,max] width buckets — monotone, so bucket i's
       ids all precede bucket i+1's). The bucket id is a deterministic
       value function, so both passes agree without caching anything;
    2. pass 1: per-bucket token subtotals → driver (O(buckets) longs —
       the only driver traffic) → running offsets, broadcast-joined back;
    3. pass 2: ``Window.partitionBy(bucket).orderBy(doc_id)`` local
       prefix sum + the bucket's offset — every bucket ranks in
       parallel; no single-partition exchange anywhere.

    Output (doc_id, n_tokens, chunk) is identical to the global-window
    formulation for ANY bucketing (offsets are exact sums), asserted by
    test_two_pass_packing_matches_window. Tokenization runs once per
    pass; a production pipeline would checkpoint the (doc_id, n_tokens)
    projection instead of recomputing. ``bucket_bounds``: 'uniform'
    (default — [min,max] width buckets, assumes roughly uniform doc_id
    density) or 'quantile' (approxQuantile boundaries on doc_id — the
    skewed-id-space form: every bucket holds ~the same row count no
    matter how ids cluster; both are monotone, so the output is the
    same, only task balance differs).
    """
    d = t(spark, sf, "documents")
    lohi = d.agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")).collect()[0]
    if lohi["lo"] is None:
        empty = "doc_id long, n_tokens long, chunk long"
        if with_text:
            empty += ", text string"
        return spark.createDataFrame([], empty)
    lo, hi = int(lohi["lo"]), int(lohi["hi"])
    if bucket_bounds == "quantile":
        # O(buckets) boundary values via one sketch pass; strictly
        # increasing after dedup (ties collapse — fewer buckets, same
        # answer by the bucketing-independence property)
        probs = [i / num_buckets for i in range(1, num_buckets)]
        bounds = sorted(set(d.approxQuantile("doc_id", probs, 0.001)))
        from functools import reduce

        pid = reduce(
            lambda acc, ib: F.when(F.col("doc_id") <= F.lit(ib[1]), ib[0]).otherwise(acc),
            reversed(list(enumerate(bounds))),
            F.lit(len(bounds)),
        ).cast("int")
    elif bucket_bounds == "uniform":
        width = max((hi - lo + 1) / num_buckets, 1e-9)
        pid = F.least(
            F.lit(num_buckets - 1), F.floor((F.col("doc_id") - F.lit(lo)) / F.lit(width))
        ).cast("int")
    else:
        raise ValueError(f"bucket_bounds must be 'uniform' or 'quantile', got {bucket_bounds!r}")
    carried = ["doc_id", "text"] if with_text else ["doc_id"]
    toks = d.select(
        *carried,
        token_count_ws(F.col("text")).alias("n_tokens"),
        pid.alias("pid"),
    )
    sums = toks.groupBy("pid").agg(F.sum("n_tokens").alias("s")).collect()
    offs, acc = [], 0
    for r in sorted(sums, key=lambda r: r["pid"]):
        offs.append((int(r["pid"]), acc))
        acc += int(r["s"])
    off_df = spark.createDataFrame(offs, "pid int, off long")
    w = Window.partitionBy("pid").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum_before = F.col("off") + F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    chunk = F.floor(cum_before.cast("double") / _CTX_TOKENS).cast("long")
    return (
        toks.join(F.broadcast(off_df), "pid")
        .withColumn("chunk", chunk)
        .select("doc_id", "n_tokens", "chunk", *(["text"] if with_text else []))
    )


#: per-bucket md5-prefix acceptance thresholds for the quality-weighted
#: sample: high keeps everything, medium ~50% (0x80/256), low ~10%
#: (0x1a = 26/256).
_QUAL_LT = {"high": None, "medium": "80", "low": "1a"}

_SP5_ORACLE = f"""
WITH q AS (SELECT doc_id, n_chars,
                  CASE WHEN length(text) >= 200 AND
                            CAST(len(regexp_extract_all(text, '[A-Za-z]'))
                                 AS DOUBLE) / length(text) >= 0.7 THEN 'high'
                       WHEN length(text) >= 100 THEN 'medium'
                       ELSE 'low' END AS quality_bucket,
                  substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS b
           FROM documents),
 s AS (SELECT quality_bucket, n_chars,
              CASE WHEN quality_bucket = 'high' THEN 1
                   WHEN quality_bucket = 'medium'
                        AND b < '{_QUAL_LT["medium"]}' THEN 1
                   WHEN quality_bucket = 'low'
                        AND b < '{_QUAL_LT["low"]}' THEN 1
                   ELSE 0 END AS sampled
       FROM q)
SELECT quality_bucket, COUNT(*) AS total,
       CAST(SUM(sampled) AS BIGINT) AS sampled,
       ROUND(CAST(SUM(sampled) AS DOUBLE) / COUNT(*), 4) AS rate,
       CAST(SUM(CASE WHEN sampled = 1 THEN n_chars ELSE 0 END) AS BIGINT)
         AS sampled_chars
FROM s GROUP BY quality_bucket ORDER BY quality_bucket"""


@register(
    "sp5_quality_weighted_sample",
    _SP5_ORACLE,
    doc="Quality-weighted downsampling: tx3's heuristic quality bucket "
        "sets the acceptance rate (high=100%, medium~50%, low~10%) and "
        "the deterministic md5-prefix coin decides membership — the "
        "standard 'upsample high-quality, downsample boilerplate' "
        "curriculum step of an LLM data mix, reproducible across "
        "engines, runs and cluster sizes. Pure codegen expressions + "
        "one tiny (3-bucket) hash-agg; no shuffle of document bodies.",
    tags=("llm", "pipeline"),
)
def sp5(spark: SparkSession, sf: str) -> DataFrame:
    d = t(spark, sf, "documents")
    length = F.length("text")
    alpha = F.size(
        F.regexp_extract_all(F.col("text"), F.lit("[A-Za-z]"), F.lit(0))
    ).cast("double")
    bucket = (
        F.when((length >= 200) & (alpha / length >= 0.7), "high")
        .when(length >= 100, "medium")
        .otherwise("low")
    )
    b = _bucket2(F.col("doc_id"))
    sampled = (
        F.when(F.col("quality_bucket") == "high", 1)
        .when(
            (F.col("quality_bucket") == "medium") & (b < _QUAL_LT["medium"]), 1
        )
        .when((F.col("quality_bucket") == "low") & (b < _QUAL_LT["low"]), 1)
        .otherwise(0)
    )
    return (
        d.select("doc_id", "n_chars", bucket.alias("quality_bucket"))
        .withColumn("sampled", sampled)
        .groupBy("quality_bucket")
        .agg(
            F.count("*").alias("total"),
            F.sum("sampled").alias("sampled"),
            F.round(
                F.sum("sampled").cast("double") / F.count("*"), 4
            ).alias("rate"),
            F.sum(
                F.when(F.col("sampled") == 1, F.col("n_chars")).otherwise(0)
            ).alias("sampled_chars"),
        )
        .orderBy("quality_bucket")
    )


# ---------------------------------------------------------------------------
# sp10 — exact-k weighted sample without replacement (Efraimidis–Spirakis)
# ---------------------------------------------------------------------------

SP10_K = 100

_SP10_ORACLE = f"""
WITH keyed AS (
  SELECT doc_id, n_chars,
         ln((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
             + 0.5) / 4294967296.0)
           / GREATEST(CAST(n_chars AS DOUBLE), 1.0) AS es_key
  FROM documents)
SELECT doc_id, n_chars, ROUND(es_key, 8) AS es_key
FROM keyed ORDER BY es_key DESC, doc_id LIMIT {SP10_K}"""


@register(
    "sp10_weighted_sample",
    _SP10_ORACLE,
    doc="Exact-k weighted sample WITHOUT replacement (Efraimidis–"
        "Spirakis, k=100, weight = n_chars): every doc draws a "
        "deterministic md5-derived coin u and the k largest u^(1/w) — "
        "ordered as ln(u)/w — win. One pass, no shuffle of bodies: "
        "ORDER BY+LIMIT plans as TakeOrderedAndProject (per-partition "
        "top-k, driver merges k×partitions rows), the distributed "
        "weighted-reservoir shape. Unlike sp5's per-bucket Bernoulli "
        "rates, the sample size is exact and the inclusion probability "
        "is proportional to weight — the 'sample 10M docs by quality "
        "mass' primitive, reproducible across engines and cluster "
        "sizes.",
    tags=("llm", "pipeline"),
)
def sp10(spark: SparkSession, sf: str) -> DataFrame:
    d = t(spark, sf, "documents")
    v = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 8),
        16, 10,
    ).cast("double")
    u = (v + 0.5) / 4294967296.0
    w = F.greatest(F.col("n_chars").cast("double"), F.lit(1.0))
    key = F.log(u) / w
    return (
        d.select("doc_id", "n_chars", key.alias("es_key"))
        .orderBy(F.col("es_key").desc(), "doc_id")
        .limit(SP10_K)
        .select("doc_id", "n_chars", F.round("es_key", 8).alias("es_key"))
    )


# ---------------------------------------------------------------------------
# sp13 — leakage-safe split (near-dup clusters never straddle splits)
# ---------------------------------------------------------------------------


def _sp13_oracle() -> str:
    from goose_spark.operators.dedup import pairs_sql_ctes

    return f"""
WITH RECURSIVE {pairs_sql_ctes()},
edges AS (
  SELECT a_id AS src, b_id AS dst FROM pairs
  UNION ALL SELECT b_id, a_id FROM pairs),
reach(node, label) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.node),
comp AS (SELECT node AS doc_id, MIN(label) AS cluster_id
         FROM reach GROUP BY node),
dx AS (
  SELECT d.doc_id, d.n_chars,
         COALESCE(c.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id)
SELECT CASE WHEN substr(md5(CAST(cluster_id AS VARCHAR)), 1, 2) < '{_TRAIN_LT}'
            THEN 'train'
            WHEN substr(md5(CAST(cluster_id AS VARCHAR)), 1, 2) < '{_VAL_LT}'
            THEN 'val' ELSE 'test' END AS split,
       COUNT(*) AS n_docs,
       COUNT(DISTINCT cluster_id) AS n_clusters,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM dx GROUP BY 1 ORDER BY split"""


@register(
    "sp13_leakage_safe_split",
    _sp13_oracle(),
    doc="Leakage-safe train/val/test split: the md5-bucket split key is "
        "the doc's NEAR-DUP CLUSTER id (dd6's components; singletons = "
        "own id), not the doc id — so a document and its near-duplicates "
        "land in the SAME split by construction and the eval set can "
        "never contain a paraphrase of a training doc (the train/test "
        "contamination sp6/sp12 then only have to police across "
        "DATASETS, not within one). Same ~80/10/10 bucketing as sp1; "
        "the only extra cost over sp1 is the cluster-label join, and "
        "the label table is dd6's output at 100 TB. Leakage-zero is pinned in "
        "tests/test_pipeline_ops.py (no verified near-dup pair straddles "
        "two splits; the sp1 doc-id split DOES straddle).",
    tags=("llm", "pipeline", "dedup"),
)
def sp13(spark: SparkSession, sf: str) -> DataFrame:
    from goose_spark.operators.clusters import components_of
    from goose_spark.operators.dedup import lsh_pairs

    d = t(spark, sf, "documents")
    labels = components_of(lsh_pairs(spark, sf).select("a_id", "b_id"))
    docs = d.join(
        labels.select("doc_id", "cluster_id"), "doc_id", "left"
    ).withColumn("cluster_id", F.coalesce("cluster_id", "doc_id"))
    b = _bucket2(F.col("cluster_id"))
    split = (
        F.when(b < _TRAIN_LT, "train").when(b < _VAL_LT, "val").otherwise("test")
    )
    return (
        docs.groupBy(split.alias("split"))
        .agg(
            F.count("*").alias("n_docs"),
            F.count_distinct("cluster_id").alias("n_clusters"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .orderBy("split")
    )


# ---------------------------------------------------------------------------
# sp14 — per-source contribution cap (source balancing)
# ---------------------------------------------------------------------------

#: Max docs any single source may contribute (the C4/RefinedWeb-style
#: "no domain dominates the mixture" cap). Binds at every test SF
#: (sources hold 25/250/2500 docs at sf0.001/0.01/0.1).
SOURCE_CAP = 15


@register(
    "sp14_source_cap",
    f"""WITH ranked AS (
          SELECT source, n_chars,
                 ROW_NUMBER() OVER (PARTITION BY source
                                    ORDER BY n_chars DESC, doc_id) AS rn
          FROM documents)
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS total,
               CAST(SUM(CASE WHEN rn <= {SOURCE_CAP} THEN 1 ELSE 0 END) AS BIGINT) AS kept,
               CAST(SUM(CASE WHEN rn > {SOURCE_CAP} THEN 1 ELSE 0 END) AS BIGINT) AS dropped,
               CAST(SUM(CASE WHEN rn <= {SOURCE_CAP} THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
        FROM ranked GROUP BY source ORDER BY source""",
    doc=f"Per-source contribution cap (source balancing): every source "
        f"keeps at most its top-{SOURCE_CAP} docs by a deterministic "
        f"priority (n_chars DESC, doc_id — the 'keep the substantive "
        f"docs' rule), so no domain dominates the training mixture — "
        f"the C4/RefinedWeb-style domain cap every web-scale pipeline "
        f"applies after dedup. This registered form is the audit REPORT "
        f"(kept/dropped/chars per source): one source-keyed window + "
        f"hash-agg over narrow columns. The production keep-the-docs "
        f"form is the same window followed by rn <= cap, where "
        f"WindowGroupLimit pushes the per-partition top-{SOURCE_CAP} "
        f"below the shuffle; at 100 TB the shuffle key is the source "
        f"and a pathological mega-source is exactly what AQE "
        f"skew-split handles.",
    tags=("llm", "pipeline"),
)
def sp14(spark: SparkSession, sf: str) -> DataFrame:
    d = t(spark, sf, "documents").select("source", "n_chars", "doc_id")
    w = Window.partitionBy("source").orderBy(F.col("n_chars").desc(), "doc_id")
    kept = (F.col("rn") <= SOURCE_CAP).cast("long")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .groupBy("source")
        .agg(
            F.count("*").alias("total"),
            F.sum(kept).alias("kept"),
            F.sum(1 - kept).alias("dropped"),
            F.sum(F.col("n_chars") * kept).cast("long").alias("kept_chars"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# sp15 — temperature-scaled mixture allocation (multilingual up/down-sampling)
# ---------------------------------------------------------------------------

#: Training-token budget the allocation distributes (arbitrary fixed
#: constant — the op reports the allocation, callers scale it).
MIXTURE_BUDGET = 1_000_000

_SP15_ORACLE = f"""
WITH s AS (SELECT source, COUNT(*) AS n_docs,
                  CAST(SUM(len(string_split_regex(lower(text), '\\s+')))
                       AS BIGINT) AS n_tok
           FROM documents GROUP BY source),
w AS (SELECT source, n_docs, n_tok,
             CAST(ROUND(sqrt(CAST(n_tok AS DOUBLE)), 6) AS DECIMAL(18,6)) AS wt
      FROM s),
tot AS (SELECT CAST(SUM(wt) AS DECIMAL(18,6)) AS tw,
               CAST(SUM(n_tok) AS BIGINT) AS tt FROM w)
SELECT source, n_docs, n_tok,
       ROUND(CAST(n_tok AS DOUBLE) / tt, 6) AS natural_share,
       ROUND(CAST(wt AS DOUBLE) / CAST(tw AS DOUBLE), 6) AS temp_share,
       CAST(FLOOR(({MIXTURE_BUDGET} * CAST(wt AS DOUBLE))
                  / CAST(tw AS DOUBLE)) AS BIGINT) AS alloc_tokens
FROM w, tot ORDER BY source"""


@register(
    "sp15_temperature_mixture",
    _SP15_ORACLE,
    doc="Temperature-scaled mixture allocation (alpha = 0.5): each "
        "source's training-token budget is proportional to "
        "n_tokens^alpha instead of n_tokens — the XLM-R/mT5 "
        "up/down-sampling rule that keeps low-resource sources from "
        "vanishing and head sources from dominating (sp14 is the hard "
        "cap; this is the smooth version). Hash-match despite the float "
        "weights: sqrt is IEEE-correctly-rounded on both engines, each "
        "weight rounds to DECIMAL(18,6) BEFORE the sum (order-"
        "independent exact total), and the shares divide two exactly-"
        "representable decimals as doubles. Plan: one source hash-agg "
        "over a per-row token-count expression (no explode), a 1-row "
        "total broadcast back — O(sources) rows after the scan at any "
        "corpus size.",
    tags=("llm", "pipeline"),
)
def sp15(spark: SparkSession, sf: str) -> DataFrame:
    from goose_spark.operators.textlib import token_count_ws

    d = t(spark, sf, "documents")
    s = d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(token_count_ws(F.col("text"))).cast("long").alias("n_tok"),
    )
    # w feeds both the totals and the final select; it is bounded by
    # the source enum (O(sources) rows at any corpus size), so collect
    # it back as a driver-local relation — one execution of the
    # token-count scan, zero jobs for either consumer (see
    # plans/guards.py for why NOT localCheckpoint(eager=False))
    w = local_relation(
        s.withColumn(
            "wt",
            F.round(F.sqrt(F.col("n_tok").cast("double")), 6).cast("decimal(18,6)"),
        )
    )
    tot = w.agg(
        F.sum("wt").cast("decimal(18,6)").alias("tw"),
        F.sum("n_tok").cast("long").alias("tt"),
    )
    return (
        w.join(F.broadcast(tot))
        .select(
            "source", "n_docs", "n_tok",
            F.round(F.col("n_tok").cast("double") / F.col("tt"), 6).alias(
                "natural_share"
            ),
            F.round(
                F.col("wt").cast("double") / F.col("tw").cast("double"), 6
            ).alias("temp_share"),
            F.floor(
                (MIXTURE_BUDGET * F.col("wt").cast("double"))
                / F.col("tw").cast("double")
            ).cast("long").alias("alloc_tokens"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# sp16 — temperature-mixture MATERIALIZATION (the sampled corpus itself)
# ---------------------------------------------------------------------------

#: Fraction of total corpus tokens the materialized mixture targets.
#: A fraction (not an absolute budget) keeps the op meaningful at every
#: SF: the per-source rate is alloc_i / n_tok_i with alloc_i distributed
#: by the sp15 temperature rule over SAMPLE_FRAC x total tokens.
SAMPLE_FRAC = 0.35

_SP16_ORACLE = f"""
WITH s AS (SELECT source, COUNT(*) AS n_docs,
                  CAST(SUM(len(string_split_regex(lower(text), '\\s+')))
                       AS BIGINT) AS n_tok
           FROM documents GROUP BY source),
w AS (SELECT source, n_docs, n_tok,
             CAST(ROUND(sqrt(CAST(n_tok AS DOUBLE)), 6) AS DECIMAL(18,6)) AS wt
      FROM s),
tot AS (SELECT CAST(SUM(wt) AS DECIMAL(18,6)) AS tw,
               CAST(SUM(n_tok) AS BIGINT) AS tt FROM w),
r AS (SELECT source, n_docs, n_tok,
             CAST(FLOOR(({SAMPLE_FRAC} * tt * CAST(wt AS DOUBLE))
                        / CAST(tw AS DOUBLE)) AS BIGINT) AS target_tokens
      FROM w, tot),
r2 AS (SELECT *, LEAST(1.0, CAST(target_tokens AS DOUBLE) / n_tok) AS rate
       FROM r),
samp AS (
  SELECT d.source,
         len(string_split_regex(lower(d.text), '\\s+')) AS tk
  FROM documents d JOIN r2 USING (source)
  WHERE CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4) AS INTEGER)
        < FLOOR(rate * 65536)),
g AS (SELECT source, COUNT(*) AS n_sampled,
             CAST(SUM(tk) AS BIGINT) AS sampled_tokens
      FROM samp GROUP BY source)
SELECT r2.source, r2.n_docs AS n_docs_in,
       CAST(COALESCE(g.n_sampled, 0) AS BIGINT) AS n_sampled,
       r2.target_tokens,
       CAST(COALESCE(g.sampled_tokens, 0) AS BIGINT) AS sampled_tokens,
       ROUND(rate, 6) AS rate
FROM r2 LEFT JOIN g USING (source) ORDER BY source"""


@register(
    "sp16_mixture_materialize",
    _SP16_ORACLE,
    doc=f"MATERIALIZE the sp15 temperature mixture: per-source doc "
        f"sampling at rate alloc_i/n_tok_i, where alloc_i distributes "
        f"{SAMPLE_FRAC} x total corpus tokens by the alpha=0.5 "
        f"temperature rule — the op that turns sp15's budget TABLE "
        f"into the training corpus itself. Membership is the portable "
        f"md5 threshold (first 4 hex chars as a 16-bit uniform u; keep "
        f"iff u < floor(rate*65536)), so the same doc set falls out of "
        f"any engine, any run — reproducible subsets are the point. "
        f"Scale shape: one O(sources) agg (collected like sp15 — "
        f"bounded by the source enum), the tiny rate table broadcast "
        f"back onto the scan, the sample predicate evaluated map-side "
        f"inside codegen (no doc-level shuffle anywhere), and one "
        f"final per-source agg over surviving rows. At 100 TB the "
        f"sample IS the filter pushed through the scan: ~{SAMPLE_FRAC}"
        f" of bytes ever leave the mappers. Exact hash-match oracle: "
        f"identical md5 hex, identical IEEE double rate arithmetic, "
        f"identical floor on both engines.",
    tags=("llm", "pipeline"),
)
def sp16(spark: SparkSession, sf: str) -> DataFrame:
    d = t(spark, sf, "documents")
    s = d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(token_count_ws(F.col("text"))).cast("long").alias("n_tok"),
    )
    w = local_relation(
        s.withColumn(
            "wt",
            F.round(F.sqrt(F.col("n_tok").cast("double")), 6).cast("decimal(18,6)"),
        )
    )
    tot = w.agg(
        F.sum("wt").cast("decimal(18,6)").alias("tw"),
        F.sum("n_tok").cast("long").alias("tt"),
    )
    # mirrors the oracle's op order exactly: (frac * tt * wt) / tw,
    # floored; then rate = least(1, target / n_tok) — IEEE-identical
    r2 = w.join(F.broadcast(tot)).select(
        "source", "n_docs", "n_tok",
        F.floor(
            (F.lit(SAMPLE_FRAC) * F.col("tt") * F.col("wt").cast("double"))
            / F.col("tw").cast("double")
        ).cast("long").alias("target_tokens"),
    ).withColumn(
        "rate",
        F.least(F.lit(1.0), F.col("target_tokens").cast("double") / F.col("n_tok")),
    )
    u = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 4),
        16, 10,
    ).cast("long")
    g = (
        d.join(
            F.broadcast(r2.select("source", "rate")), "source"
        )
        .filter(u < F.floor(F.col("rate") * 65536))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_sampled"),
            F.sum(token_count_ws(F.col("text"))).cast("long").alias("sampled_tokens"),
        )
    )
    return (
        # g is O(sources) rows — broadcast, or the planner sort-merges
        # two tiny frames through a full shuffle pair
        r2.join(F.broadcast(g), "source", "left")
        .select(
            "source",
            F.col("n_docs").alias("n_docs_in"),
            F.coalesce("n_sampled", F.lit(0)).cast("long").alias("n_sampled"),
            "target_tokens",
            F.coalesce("sampled_tokens", F.lit(0)).cast("long").alias("sampled_tokens"),
            F.round("rate", 6).alias("rate"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# sp17 — incremental dedup: today's increment vs the standing corpus
# ---------------------------------------------------------------------------

#: pseudo "today's batch": ~6% of docs (deterministic id rule the oracle
#: can state verbatim)
_SP17_NEW = "doc_id % 17 = 0"
_SP17_THRESHOLD = 0.3


def _sp17_oracle() -> str:
    from goose_spark.operators.dedup import _SHINGLES_SQL

    return f"""WITH s AS (
  SELECT doc_id, lang, n_chars // 64 AS bkt, doc_id % 17 = 0 AS is_new,
         {_SHINGLES_SQL} AS sh
  FROM documents)
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       CASE WHEN a.doc_id % 17 = 0 AND b.doc_id % 17 = 0
            THEN 'new-new' ELSE 'new-old' END AS pair_kind,
       ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) AS jac
FROM s a JOIN s b
  ON a.lang = b.lang AND a.bkt = b.bkt AND a.doc_id < b.doc_id
  AND (a.is_new OR b.is_new)
WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= {_SP17_THRESHOLD}
ORDER BY a_id, b_id"""


@register(
    "sp17_incremental_dedup",
    _sp17_oracle(),
    doc="Incremental (daily-ingest) dedup: near-dup pairs where at "
        "least one side is in TODAY'S increment (doc_id % 17 = 0, ~6% "
        "of the corpus), old-vs-old pairs never formed — the shape a "
        "100 TB pipeline actually runs nightly, where re-pairing the "
        "standing corpus against itself (dd4's full self-join) would "
        "re-pay the whole historical O(sum block^2) every day. Same "
        "(lang x length-bucket) blocking and exact n-gram Jaccard as "
        "dd4. Scale shape: blocks containing ZERO increment docs are "
        "eliminated by a broadcast semi-join on the block key BEFORE "
        "any shingle rows move, so per-batch cost is "
        "O(increment-adjacent blocks), not O(corpus blocks); inside a "
        "block the kernel computes only new x all rows of the "
        "incidence matmul (rectangular, not square). The pair_kind "
        "column is the dedup ledger's provenance tag: 'new-old' pairs "
        "drop the increment doc, 'new-new' pairs keep one of the pair.",
    tags=("llm", "dedup"),
)
def sp17(spark: SparkSession, sf: str) -> DataFrame:
    import pandas as pd

    from goose_spark.operators.dedup import shingled_docs

    d = shingled_docs(spark, sf).join(
        t(spark, sf, "documents").select("doc_id", "lang", "n_chars"), "doc_id"
    ).select(
        "doc_id",
        "lang",
        (F.col("n_chars") / 64).cast("long").alias("bkt"),
        (F.col("doc_id") % 17 == 0).alias("is_new"),
        "sh",
    )
    # the incremental win: only blocks that contain >=1 increment doc
    # participate at all. The increment's block list is tiny (O(new
    # docs)) -> broadcast left-semi; every other block's rows never
    # leave the scan. The block list needs only documents columns, so
    # it reads the narrow documents scan directly instead of re-scanning
    # the (much wider) shingle cache and re-paying its join
    # (optimization r14, guide §2.2 shuffle fewer bytes).
    new_blocks = (
        t(spark, sf, "documents")
        .filter(F.col("doc_id") % 17 == 0)
        .select("lang", (F.col("n_chars") / 64).cast("long").alias("bkt"))
        .distinct()
    )
    d = d.join(F.broadcast(new_blocks), ["lang", "bkt"], "left_semi")

    def block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        ids = pdf["doc_id"].to_numpy()
        is_new = pdf["is_new"].to_numpy()
        n_docs = len(ids)
        if n_docs < 2 or not is_new.any():
            return pd.DataFrame(
                {"a_id": [], "b_id": [], "pair_kind": [], "jac": []}
            )
        vocab: dict[str, int] = {}
        rows, cols = [], []
        for i, sh in enumerate(pdf["sh"]):
            for s in sh:
                rows.append(i)
                cols.append(vocab.setdefault(s, len(vocab)))
        mat = np.zeros((n_docs, len(vocab)), dtype=np.float32)
        mat[rows, cols] = 1.0
        # rectangular matmul: (new rows) x (all rows) — the increment
        # side bounds the left dimension, exactly the daily-batch cost
        new_idx = np.flatnonzero(is_new)
        inter = (mat[new_idx] @ mat.T).astype(np.float64)
        sizes = mat.sum(axis=1).astype(np.float64)
        union = sizes[new_idx][:, None] + sizes[None, :] - inter
        with np.errstate(divide="ignore", invalid="ignore"):
            jac = np.where(union > 0, inter / union, 0.0)
        ni, aj = np.nonzero(jac >= _SP17_THRESHOLD)
        a_id, b_id = ids[new_idx[ni]], ids[aj]
        keep = a_id != b_id
        a_id, b_id, jv = a_id[keep], b_id[keep], jac[ni, aj][keep]
        both_new = is_new[new_idx[ni]][keep] & is_new[aj][keep]
        # canonical (min,max) ordering; new-new pairs appear twice in
        # the rectangular scan — keep the a<b instance only
        swap = a_id > b_id
        dup_second = both_new & swap
        a_id2 = np.where(swap, b_id, a_id)
        b_id2 = np.where(swap, a_id, b_id)
        keep2 = ~dup_second
        a_id2, b_id2, jv = a_id2[keep2], b_id2[keep2], jv[keep2]
        kinds = np.where(both_new[keep2], "new-new", "new-old")
        return pd.DataFrame(
            {"a_id": a_id2, "b_id": b_id2, "pair_kind": kinds,
             "jac": np.round(jv, 6)}
        )

    return (
        d.groupBy("lang", "bkt")
        .applyInPandas(
            block_pairs,
            schema="a_id long, b_id long, pair_kind string, jac double",
        )
        .orderBy("a_id", "b_id")
    )


# ---------------------------------------------------------------------------
# sp18 — data-constrained repeat-epochs allocation (the UP-sampling side)
# ---------------------------------------------------------------------------

#: token budget as a multiple of the corpus (3.0 → three average
#: epochs; chosen so the 4-epoch cap BINDS for the smaller language
#: domains of this corpus — the water-fill branch is exercised, not
#: dead code)
_SP18_BUDGET_EPOCHS = 3.0
#: repeat ceiling per domain — past ~4 epochs repeated tokens stop
#: helping (Muennighoff et al., "Scaling Data-Constrained Language
#: Models", NeurIPS'23 — the public result this dial encodes)
_SP18_MAX_EPOCHS = 4.0

_SP18_ORACLE = f"""
WITH s AS (SELECT lang,
                  CAST(SUM(len(string_split_regex(lower(text), '\\s+')))
                       AS BIGINT) AS n_tok
           FROM documents GROUP BY lang),
tot AS (SELECT CAST(SUM(n_tok) AS DOUBLE) AS t, COUNT(*) AS n_src FROM s),
a1 AS (SELECT lang, n_tok,
              CAST(ROUND(LEAST(({_SP18_BUDGET_EPOCHS} * t) / n_src,
                               {_SP18_MAX_EPOCHS} * n_tok), 4)
                   AS DECIMAL(18,4)) AS alloc1,
              ({_SP18_BUDGET_EPOCHS} * t) / n_src
                >= {_SP18_MAX_EPOCHS} * n_tok AS capped,
              CAST(ROUND({_SP18_BUDGET_EPOCHS} * t, 4) AS DECIMAL(18,4))
                AS budget
       FROM s, tot),
t2 AS (SELECT CAST(SUM(alloc1) AS DECIMAL(18,4)) AS sb,
              CAST(SUM(CASE WHEN NOT capped THEN n_tok ELSE 0 END)
                   AS BIGINT) AS u
       FROM a1),
f AS (SELECT lang, n_tok, capped,
             CASE WHEN capped THEN CAST(alloc1 AS DOUBLE)
                  ELSE LEAST({_SP18_MAX_EPOCHS} * n_tok,
                             CAST(alloc1 AS DOUBLE)
                             + (CAST(budget - sb AS DOUBLE) * n_tok) / u)
             END AS alloc2
      FROM a1, t2)
SELECT lang, n_tok, ROUND(alloc2, 2) AS alloc_tokens,
       ROUND(alloc2 / n_tok, 6) AS epochs, capped
FROM f ORDER BY lang"""


@register(
    "sp18_epoch_allocation",
    _SP18_ORACLE,
    doc=f"Data-constrained repeat-epochs allocation — the UP-sampling "
        f"twin of sp15/sp16 (those subsample an over-supplied corpus; "
        f"this decides how many EPOCHS each scarce domain repeats when "
        f"the token budget exceeds supply): fair share = "
        f"budget/n_domains with budget = {_SP18_BUDGET_EPOCHS}x corpus "
        f"tokens (domain = language here, the corpus axis with real "
        f"supply skew — en has ~3x the tokens of de), a domain is capped at {_SP18_MAX_EPOCHS} epochs "
        f"(past ~4 repeats, repeated tokens stop improving loss — the "
        f"published data-constrained-scaling dial), and one "
        f"water-fill round redistributes the capped surplus to "
        f"uncapped domains proportional to their supply (cannot "
        f"divide by zero: all-capped would need budget >= "
        f"{_SP18_MAX_EPOCHS}x corpus > {_SP18_BUDGET_EPOCHS}x). "
        f"Output is the per-domain repeat plan (epochs, alloc_tokens, "
        f"capped) a sampler like sp16 then materializes. Scale shape: "
        f"ONE map-side-combined agg over documents (O(domains) rows "
        f"out), then pure O(domains) local arithmetic — the 100 TB "
        f"cost is the single token-count scan, shared with any other "
        f"per-domain stat. Hash-exact across engines: intermediate "
        f"sums pinned to DECIMAL(18,4) so double summation order "
        f"cannot skew the water-fill; per-domain arithmetic mirrors "
        f"the oracle's op order exactly.",
    tags=("llm", "pipeline"),
)
def sp18(spark: SparkSession, sf: str) -> DataFrame:
    d = t(spark, sf, "documents")
    s = d.groupBy("lang").agg(
        F.sum(token_count_ws(F.col("text"))).cast("long").alias("n_tok")
    )
    w = local_relation(s)
    tot = w.agg(
        F.sum("n_tok").cast("double").alias("t"),
        F.count("*").alias("n_src"),
    )
    fair = (F.lit(_SP18_BUDGET_EPOCHS) * F.col("t")) / F.col("n_src")
    cap = F.lit(_SP18_MAX_EPOCHS) * F.col("n_tok")
    a1 = w.join(F.broadcast(tot)).select(
        "lang", "n_tok",
        F.round(F.least(fair, cap), 4).cast("decimal(18,4)").alias("alloc1"),
        (fair >= cap).alias("capped"),
        F.round(F.lit(_SP18_BUDGET_EPOCHS) * F.col("t"), 4)
            .cast("decimal(18,4)").alias("budget"),
    )
    t2 = a1.agg(
        F.sum("alloc1").cast("decimal(18,4)").alias("sb"),
        F.sum(F.when(~F.col("capped"), F.col("n_tok")).otherwise(F.lit(0)))
            .cast("long").alias("u"),
    )
    alloc2 = F.when(F.col("capped"), F.col("alloc1").cast("double")).otherwise(
        F.least(
            F.lit(_SP18_MAX_EPOCHS) * F.col("n_tok"),
            F.col("alloc1").cast("double")
            + ((F.col("budget") - F.col("sb")).cast("double") * F.col("n_tok"))
              / F.col("u"),
        )
    )
    return (
        a1.join(F.broadcast(t2))
        .select(
            "lang", "n_tok",
            F.round(alloc2, 2).alias("alloc_tokens"),
            F.round(alloc2 / F.col("n_tok"), 6).alias("epochs"),
            "capped",
        )
        .orderBy("lang")
    )
