"""Deduplication operators over ``documents`` / ``embeddings``
(north-star extension): exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Scale design (100 TB):
* exact (dd1): one hash-shuffle on the fingerprint — the cheapest
  possible full-corpus dedup; AQE handles fingerprint skew.
* minhash-LSH (dd2): shuffle cost is O(docs × bands), never O(docs²);
  candidate verification touches only band-bucket collisions. Band
  count/width tune recall vs cost.
* simhash (dd3): signature is a per-doc aggregate (one shuffle on
  doc_id after the token explode); hamming-bucket grouping replaces
  pairwise comparison.
* n-gram Jaccard (dd4): blocked self-join — the block key (lang ×
  length bucket) bounds each join partition.
* embedding near-dup (dd5): label-blocked; the scale form is
  ``embedding_near_dup_lsh_blocked`` below — sign-projection LSH
  buckets as the block key (8×2-bit bands tuned for the near-dup
  cosine regime), recall-tested against the exact pair set.

All Spark sides are pure DataFrame algebra; each has an exact DuckDB
twin for the value-hash gate.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from goose_spark.operators.textlib import normalized_fingerprint, with_shingles, words
from goose_spark.queries.base import register, t

N_HASHES = 16
N_BANDS = 4
BAND_WIDTH = N_HASHES // N_BANDS

_SHINGLES_SQL = """list_distinct(
    case when len(string_split_regex(lower(text), '\\s+')) >= 3 then
      list_transform(generate_series(1, len(string_split_regex(lower(text), '\\s+')) - 2),
        i -> string_split_regex(lower(text), '\\s+')[i] || ' ' ||
             string_split_regex(lower(text), '\\s+')[i+1] || ' ' ||
             string_split_regex(lower(text), '\\s+')[i+2])
    else [] end)"""


# ---------------------------------------------------------------------------
# dd1 — exact dedup
# ---------------------------------------------------------------------------

@register(
    "dd1_exact_dedup",
    """SELECT md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fp,
              COUNT(*) AS copies, MIN(doc_id) AS keeper
       FROM documents GROUP BY 1 ORDER BY fp LIMIT 200""",
    doc="Exact dedup: hash-groupBy on the normalized fingerprint, keep "
        "min doc_id per group. One shuffle, map-side partial agg.",
    tags=("llm", "dedup"),
)
def dd1(spark: SparkSession, sf: str) -> DataFrame:
    d = t(spark, sf, "documents")
    return (
        d.groupBy(normalized_fingerprint(F.col("text")).alias("fp"))
        .agg(F.count("*").alias("copies"), F.min("doc_id").alias("keeper"))
        .orderBy("fp")
        .limit(200)
    )


# ---------------------------------------------------------------------------
# dd2 — MinHash + LSH
# ---------------------------------------------------------------------------

def _minhash_sig(df: DataFrame, shingled: DataFrame = None) -> DataFrame:
    """(doc_id, h0..h15): per-seed min of md5('<seed>|'||shingle).
    Lexicographic min over salted md5 hex == an independent permutation
    surrogate per seed — portable across engines (no murmur parity
    issues).

    With the shingle arrays materialized by ``with_shingles`` the JVM
    explode + 16×min-agg runs whole-stage-codegen'd md5 and map-side
    partial mins — measured equal-or-faster than a Python/hashlib
    per-doc kernel (1.6s vs 2.2s warm at sf0.1)."""
    src = shingled if shingled is not None else with_shingles(df)
    ex = src.select("doc_id", F.explode("sh").alias("sh"))
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{k}|"), F.col("sh")))).alias(f"h{k}")
        for k in range(N_HASHES)
    ]
    return ex.groupBy("doc_id").agg(*aggs)


def _band_keys(sig: DataFrame) -> DataFrame:
    """One row per (doc, band) via a single explode — NOT a 4-way union:
    union branches each re-execute the signature aggregation, and the
    LSH self-join doubles that again. With one generator the expensive
    agg sits below a single reusable Exchange (ReuseExchange dedupes the
    two join sides)."""
    entries = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat(*[F.col(f"h{b * BAND_WIDTH + j}") for j in range(BAND_WIDTH)])
            ).alias("bkey"),
        )
        for b in range(N_BANDS)
    ]
    return (
        sig.select("doc_id", F.explode(F.array(*entries)).alias("e"))
        .select("doc_id", F.col("e.band").alias("band"), F.col("e.bkey").alias("bkey"))
    )


def _minhash_sig_sql() -> str:
    mins = ", ".join(
        f"min(md5('{k}|' || sh)) AS h{k}" for k in range(N_HASHES)
    )
    return f"""sig AS (
        SELECT doc_id, {mins}
        FROM (SELECT doc_id, unnest({_SHINGLES_SQL}) AS sh FROM documents)
        GROUP BY doc_id)"""


def _band_sql() -> str:
    selects = []
    for b in range(N_BANDS):
        cols = " || ".join(f"h{b * BAND_WIDTH + j}" for j in range(BAND_WIDTH))
        selects.append(f"SELECT doc_id, {b} AS band, md5({cols}) AS bkey FROM sig")
    return "bands AS (" + " UNION ALL ".join(selects) + ")"


def pairs_sql_ctes() -> str:
    """The verified near-dup pair pipeline as reusable SQL CTEs ending in
    ``pairs(a_id, b_id, jac)`` — the oracle-side twin of :func:`lsh_pairs`,
    shared by dd2 and the graph queries built on the pair graph (q87)."""
    return f"""{_minhash_sig_sql()},
{_band_sql()},
cand AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
  WHERE a.doc_id < b.doc_id),
sh AS (SELECT doc_id, {_SHINGLES_SQL} AS s FROM documents),
pairs AS (
  SELECT c.a_id, c.b_id,
         ROUND(CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
               / (len(x.s) + len(y.s) - len(list_intersect(x.s, y.s))), 6) AS jac
  FROM cand c JOIN sh x ON x.doc_id = c.a_id JOIN sh y ON y.doc_id = c.b_id
  WHERE CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
        / (len(x.s) + len(y.s) - len(list_intersect(x.s, y.s))) >= 0.5)"""


_DD2_ORACLE = f"""
WITH {pairs_sql_ctes()}
SELECT a_id, b_id, jac FROM pairs ORDER BY a_id, b_id"""


#: Session-scoped caches for the two expensive LSH intermediates. The
#: shingle table feeds dd2's signature AND verify branches; the verified
#: pair list feeds dd2, dd6 (components), and dd7 (keep rule) — without
#: memoization the whole pipeline re-executes once per consumer. Keyed
#: by (applicationId, sf_dir); at 100 TB the same role is played by a
#: parquet checkpoint of each intermediate.
_SHINGLE_CACHE: dict = {}
_PAIRS_CACHE: dict = {}


def shingled_docs(spark: SparkSession, sf: str) -> DataFrame:
    from goose_spark.operators.cache import get_or_persist

    return get_or_persist(
        _SHINGLE_CACHE,
        spark,
        sf,
        lambda: with_shingles(t(spark, sf, "documents")).select("doc_id", "sh"),
        label="doc_shingles",
    )


def lsh_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Verified near-dup pairs (a_id, b_id, jac) — the shared output of
    the MinHash→LSH→exact-Jaccard pipeline, materialized once per
    session."""
    from goose_spark.operators.cache import get_or_persist

    return get_or_persist(
        _PAIRS_CACHE, spark, sf, lambda: _build_pairs(spark, sf),
        label="lsh_verified_pairs",
    )


def _build_pairs(spark: SparkSession, sf: str,
                 max_bucket: int | None = None) -> DataFrame:
    """``max_bucket`` is the 100 TB hot-bucket guard (SCALE.md): a band
    bucket holding more than ``max_bucket`` docs contributes
    O(bucket²) candidate pairs — degenerate shingle distributions (all
    boilerplate, empty docs) can blow one bucket up to corpus scale.
    Capped buckets are DROPPED from candidacy (their members still pair
    through their other, selective bands — the standard LSH frequency
    cap, same rationale as common-shingle removal). Default None keeps
    exact dd2/oracle semantics."""
    d = t(spark, sf, "documents")
    shingled = shingled_docs(spark, sf)
    sig = _minhash_sig(d, shingled=shingled)
    bands = _band_keys(sig)
    if max_bucket is not None:
        w = Window.partitionBy("band", "bkey")
        bands = (
            bands.withColumn("_n", F.count("*").over(w))
            .filter(F.col("_n") <= max_bucket)
            .drop("_n")
        )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.bkey") == F.col("b.bkey")))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .distinct()
    )
    sh = shingled.select("doc_id", F.col("sh").alias("s"))
    x = sh.select(F.col("doc_id").alias("a_id"), F.col("s").alias("sa"))
    y = sh.select(F.col("doc_id").alias("b_id"), F.col("s").alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb")).cast("double")
    union = F.size("sa") + F.size("sb") - F.size(F.array_intersect("sa", "sb"))
    jac = inter / union
    return (
        cand.join(x, "a_id")
        .join(y, "b_id")
        .filter(jac >= 0.5)
        .select("a_id", "b_id", F.round(jac, 6).alias("jac"))
        .orderBy("a_id", "b_id")
    )


@register(
    "dd2_minhash_lsh",
    _DD2_ORACLE,
    doc="MinHash(16 hashes)+LSH(4 bands × 4): shingle → salted-md5 min "
        "signature → band-bucket join → candidate pairs → exact-Jaccard "
        "verify ≥ 0.5. Shuffles O(docs×bands), not O(docs²).",
    tags=("llm", "dedup"),
)
def dd2(spark: SparkSession, sf: str) -> DataFrame:
    return lsh_pairs(spark, sf)


# ---------------------------------------------------------------------------
# dd3 — SimHash (16-bit)
# ---------------------------------------------------------------------------

N_SIM_BITS = 16


def _dd3_oracle() -> str:
    bit_sums = ", ".join(
        f"SUM(CASE WHEN substr(md5(tok), {i + 1}, 1) IN "
        f"('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS b{i}"
        for i in range(N_SIM_BITS)
    )
    fp = " + ".join(f"(CASE WHEN b{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(N_SIM_BITS))
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS tok FROM documents),
sums AS (SELECT doc_id, {bit_sums} FROM toks GROUP BY doc_id)
SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM sums ORDER BY doc_id LIMIT 200"""


@register(
    "dd3_simhash",
    _dd3_oracle(),
    doc="SimHash(16-bit) fingerprints: token md5-nibble high bits, "
        "±1-weighted per-bit sums, sign → bits. One explode + one "
        "doc_id shuffle; near-dup grouping is then hamming-bucket "
        "equality instead of pairwise comparison.",
    tags=("llm", "dedup"),
)
def dd3(spark: SparkSession, sf: str) -> DataFrame:
    d = t(spark, sf, "documents")
    toks = d.select("doc_id", F.explode(words(F.col("text"))).alias("tok"))
    high = ("8", "9", "a", "b", "c", "d", "e", "f")
    md5c = F.md5(F.col("tok"))
    sums = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.substring(md5c, i + 1, 1).isin(*high), 1).otherwise(-1)
            ).alias(f"b{i}")
            for i in range(N_SIM_BITS)
        ]
    )
    fp = reduce(
        lambda acc, i: acc + F.when(F.col(f"b{i}") > 0, F.lit(1 << i)).otherwise(0),
        range(1, N_SIM_BITS),
        F.when(F.col("b0") > 0, F.lit(1)).otherwise(0),
    )
    return (
        sums.select("doc_id", fp.cast("long").alias("simhash"))
        .orderBy("doc_id")
        .limit(200)
    )


# ---------------------------------------------------------------------------
# dd4 — n-gram Jaccard with blocking
# ---------------------------------------------------------------------------

_DD4_ORACLE = f"""
WITH s AS (
  SELECT doc_id, lang, n_chars // 64 AS bkt, {_SHINGLES_SQL} AS sh FROM documents)
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) AS jac
FROM s a JOIN s b ON a.lang = b.lang AND a.bkt = b.bkt AND a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.3
ORDER BY a_id, b_id"""


@register(
    "dd4_ngram_jaccard",
    _DD4_ORACLE,
    doc="n-gram Jaccard near-dup with (lang × length-bucket) blocking — "
        "the self-join is bounded per block, never corpus².",
    tags=("llm", "dedup"),
)
def dd4(spark: SparkSession, sf: str) -> DataFrame:
    # Blocked pairwise Jaccard as an applyInPandas kernel: shingles are
    # computed JVM-side (codegen), then each (lang × length-bucket) block
    # runs Python-set intersection over its own pairs. Benchmarked against
    # two pure-DataFrame forms at sf0.1: array_intersect self-join (31-53s
    # — per-pair hashset builds on string arrays) and explode-join (59s —
    # the tiny synthetic vocabulary makes frequent shingles collide
    # quadratically). This kernel: ~2s. Block size bounds per-task work;
    # at 100 TB the block key is an LSH bucket (dd2 prefilters candidates)
    # so no block ever approaches corpus scale.
    import pandas as pd

    # reuse the session-cached shingle table (one kernel pass per
    # session); the metadata re-join is a broadcast-sized lookup
    d = shingled_docs(spark, sf).join(
        t(spark, sf, "documents").select("doc_id", "lang", "n_chars"), "doc_id"
    ).select(
        "doc_id",
        "lang",
        (F.col("n_chars") / 64).cast("long").alias("bkt"),
        "sh",
    )

    def block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        ids = pdf["doc_id"].to_numpy()
        n_docs = len(ids)
        if n_docs < 2:
            return pd.DataFrame({"a_id": [], "b_id": [], "jac": []})
        # doc × shingle incidence matrix; ALL pairwise intersection counts
        # fall out of one BLAS matmul (float32 exact for counts < 2^24)
        vocab: dict[str, int] = {}
        rows, cols = [], []
        for i, sh in enumerate(pdf["sh"]):
            for s in sh:
                rows.append(i)
                cols.append(vocab.setdefault(s, len(vocab)))
        mat = np.zeros((n_docs, len(vocab)), dtype=np.float32)
        mat[rows, cols] = 1.0
        # counts are exact integers in float32; divide in float64 so the
        # quotient bit-matches the oracle's int/int double division
        inter = (mat @ mat.T).astype(np.float64)
        sizes = mat.sum(axis=1).astype(np.float64)
        union = sizes[:, None] + sizes[None, :] - inter
        with np.errstate(divide="ignore", invalid="ignore"):
            jac = np.where(union > 0, inter / union, 0.0)
        ai, bi = np.triu_indices(n_docs, k=1)
        keep = jac[ai, bi] >= 0.3
        ai, bi = ai[keep], bi[keep]
        a_id, b_id = ids[ai], ids[bi]
        swap = a_id > b_id  # emit (min_id, max_id) like the oracle's a<b
        a_id, b_id = np.where(swap, b_id, a_id), np.where(swap, a_id, b_id)
        jacv = np.round(jac[ai, bi].astype(np.float64), 6)
        return pd.DataFrame({"a_id": a_id, "b_id": b_id, "jac": jacv})

    return (
        d.groupBy("lang", "bkt")
        .applyInPandas(block_pairs, schema="a_id long, b_id long, jac double")
        .orderBy("a_id", "b_id")
    )


# ---------------------------------------------------------------------------
# dd5 — embedding-cosine near-dup
# ---------------------------------------------------------------------------

_DD5_ORACLE = """
WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
           FROM embeddings)
SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       ROUND(list_dot_product(a.emb, b.emb)
             / sqrt(list_dot_product(a.emb, a.emb) * list_dot_product(b.emb, b.emb)), 6) AS cos
FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE list_dot_product(a.emb, b.emb)
      / sqrt(list_dot_product(a.emb, a.emb) * list_dot_product(b.emb, b.emb)) >= 0.4
ORDER BY a_id, b_id"""


@register(
    "dd5_embedding_near_dup",
    _DD5_ORACLE,
    doc="Embedding-cosine near-dup, label-blocked (at scale the block is "
        "an LSH/IVF bucket). Dot products via zip_with/aggregate — "
        "JVM-side, no Python.",
    tags=("llm", "dedup"),
)
def dd5(spark: SparkSession, sf: str) -> DataFrame:
    # applyInPandas per label block: ALL pairwise cosines from one
    # BLAS matmul of the row-normalized matrix. A pure-DataFrame
    # zip_with/aggregate join was measured at 3-8s at sf0.1 (interpreted
    # HOF fold per pair); this kernel is sub-second. dot/norm arithmetic
    # follows the oracle's formula: dot / sqrt(norm2_a * norm2_b).
    import pandas as pd

    v = t(spark, sf, "embeddings").select("vec_id", "label", "embedding")

    def block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"a_id": [], "b_id": [], "cos": []})
        ids = pdf["vec_id"].to_numpy()
        mat = np.asarray(list(pdf["embedding"]), dtype=np.float64)
        norm2 = (mat * mat).sum(axis=1)
        dots = mat @ mat.T
        cos = dots / np.sqrt(norm2[:, None] * norm2[None, :])
        ai, bi = np.triu_indices(n, k=1)
        keep = cos[ai, bi] >= 0.4
        ai, bi = ai[keep], bi[keep]
        a_id, b_id = ids[ai], ids[bi]
        swap = a_id > b_id
        a_id, b_id = np.where(swap, b_id, a_id), np.where(swap, a_id, b_id)
        return pd.DataFrame(
            {"a_id": a_id, "b_id": b_id, "cos": np.round(cos[ai, bi], 6)}
        )

    return (
        v.groupBy("label")
        .applyInPandas(block_pairs, schema="a_id long, b_id long, cos double")
        .orderBy("a_id", "b_id")
    )


def embedding_near_dup_lsh_blocked(spark: SparkSession, sf: str,
                                   threshold: float = 0.4,
                                   max_bucket: int | None = None) -> DataFrame:
    """dd5's 100 TB form: block by sign-random-projection LSH bucket
    instead of the label column (dd5's docstring: "at scale the block
    is an LSH/IVF bucket"). Same BLAS pairwise kernel per bucket, exact
    cosine verified in-kernel, pairs deduped across buckets (a pair can
    collide in several bands). Finds cross-label near-dups the label
    blocking cannot, at the cost of missing pairs that collide in no
    band — the recall/cost dial every production dedup tunes
    (test_lsh_blocked_near_dup pins recall on this corpus).

    ``max_bucket`` is the hot-bucket frequency cap (the text-LSH
    ``_build_pairs`` guard, same rationale): the per-bucket kernel is
    O(bucket²) in time AND memory (the full cosine matrix), so one
    degenerate bucket — e.g. a mass of near-zero or boilerplate
    embeddings all landing in one sign pattern — would blow a single
    task to corpus scale. Buckets over the cap are DROPPED from
    candidacy; their members still pair through their other, more
    selective bands. Default None keeps exact recall semantics."""
    import pandas as pd

    from goose_spark.operators.similarity import _DIM, _PLANE_SEED, _as_double

    v = t(spark, sf, "embeddings").select(
        "vec_id", _as_double(F.col("embedding")).alias("emb")
    )

    # Near-dup banding is LOOSER than ss2's ANN banding (4 bands × 4
    # bits): at cosine 0.4 the bit-agreement probability is ~0.63, so
    # 2-bit bands collide at ~0.40 each and 8 bands give ~0.98 expected
    # recall — the band-count/width dial, set for this regime.
    n_bands, bits = 8, 2

    def band_sig(batches):
        import numpy as np

        planes = np.random.RandomState(_PLANE_SEED).randn(_DIM, n_bands * bits)
        for pdf in batches:
            mat = np.asarray(list(pdf["emb"]), dtype=np.float64)
            hyp = (mat @ planes) > 0
            rows = []
            for i, vid in enumerate(pdf["vec_id"]):
                for b in range(n_bands):
                    chunk = hyp[i, b * bits : (b + 1) * bits]
                    key = int(np.packbits(chunk, bitorder="little")[0])
                    rows.append((vid, b, key))
            yield pd.DataFrame(rows, columns=["vec_id", "band", "bkey"])

    bands = v.mapInPandas(band_sig, schema="vec_id long, band int, bkey int")
    if max_bucket is not None:
        w = Window.partitionBy("band", "bkey")
        bands = (
            bands.withColumn("_n", F.count("*").over(w))
            .filter(F.col("_n") <= max_bucket)
            .drop("_n")
        )
    blocked = bands.join(v, "vec_id").select("band", "bkey", "vec_id", "emb")

    def block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"a_id": [], "b_id": [], "cos": []})
        ids = pdf["vec_id"].to_numpy()
        mat = np.asarray(list(pdf["emb"]), dtype=np.float64)
        norm2 = (mat * mat).sum(axis=1)
        dots = mat @ mat.T
        cos = dots / np.sqrt(norm2[:, None] * norm2[None, :])
        ai, bi = np.triu_indices(n, k=1)
        keep = cos[ai, bi] >= threshold
        ai, bi = ai[keep], bi[keep]
        a_id, b_id = ids[ai], ids[bi]
        swap = a_id > b_id
        a_id, b_id = np.where(swap, b_id, a_id), np.where(swap, a_id, b_id)
        return pd.DataFrame(
            {"a_id": a_id, "b_id": b_id, "cos": np.round(cos[ai, bi], 6)}
        )

    return (
        blocked.groupBy("band", "bkey")
        .applyInPandas(block_pairs, schema="a_id long, b_id long, cos double")
        .distinct()
        .orderBy("a_id", "b_id")
    )


@register(
    "dd8_embedding_near_dup_blocked",
    None,  # approximate by construction (pairs colliding in no band are
    # missed); recall vs the exact label-blocked dd5 is pinned in
    # tests/test_similarity.py::test_lsh_blocked_near_dup_recall_and_precision
    doc="dd5's documented 100 TB form, driver-timed (VERDICT r13 "
        "directive #4): sign-random-projection LSH banding (8 bands x "
        "2 bits, seeded planes — deterministic) replaces the label "
        "block, the same per-bucket BLAS cosine kernel verifies "
        "exactly, pairs dedupe across bands with one distinct. Finds "
        "cross-label near-dups label-blocking cannot; misses pairs "
        "colliding in no band — the recall/cost dial "
        "(test_similarity pins recall AND precision on this corpus). "
        "Scale shape: banding is map-only Arrow, each bucket is an "
        "independent O(bucket^2) task (hot-bucket frequency cap "
        "available as max_bucket), the distinct is one exchange on "
        "(a_id, b_id) — no all-pairs stage anywhere.",
    tags=("llm", "dedup"),
)
def dd8(spark: SparkSession, sf: str) -> DataFrame:
    return embedding_near_dup_lsh_blocked(spark, sf)
