"""Scale-point evidence for the IVF serve path's parallelism (r15,
VERDICT directive 4): at sf0.1 the serve floor is driver/job overhead
(scaling ratio ~1 at 8 vs 32 cores), by design — the probe map and the
query batch are bounded driver-side state. This script shows the ratio
OPEN UP when the probed-cell scan is actually big: a synthetic corpus
of N_CORPUS vectors served with a N_QUERY-query batch, timed at two
core counts in separate processes (fresh JVM each, like the driver's
scaling block).

Usage:  python3 tools/scale_point_serve.py <cpus> [n_corpus] [n_query]
        (run once per core count; prints one JSON line)

The index is built fresh in a temp dir each run (same build path as
ss5/ss20 — build_ivf_index_from + _train_ivf's deterministic k-means)
and timing covers ONLY the serve (ivf_index_query), not the build.
The line also reports the probed cells' parquet footer rows and the
placement the serve ran: "driver" (footer rows within
EMBEDDING_ROW_CAP: pyarrow read, one driver kernel call) or
"distributed" (a mapInPandas stage over the probed-cell scan). The
default point is far above the bound; ``n_corpus`` 5000 is below it.
"""
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CPUS = int(sys.argv[1])
N_CORPUS = int(sys.argv[2]) if len(sys.argv) > 2 else 100_000
N_QUERY = int(sys.argv[3]) if len(sys.argv) > 3 else 500

os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)

from goose_spark.session import get_spark  # noqa: E402

spark = get_spark(f"scale-point-{CPUS}", console_progress=False)
spark.sparkContext.setLogLevel("ERROR")

from pyspark.sql import functions as F  # noqa: E402

from goose_spark.operators.annindex import (  # noqa: E402
    _cell_files, _centroid_matrix, _probe, build_ivf_index_from, ivf_index_query,
)
from goose_spark.operators.similarity import _DIM, IVF_K, IVF_NPROBE  # noqa: E402
from goose_spark.plans.inspect import physical_plan  # noqa: E402

# deterministic synthetic corpus: hash-derived pseudo-random doubles,
# executor-generated (no driver materialization of the corpus)
vec = F.transform(
    F.sequence(F.lit(0), F.lit(_DIM - 1)),
    lambda j: (F.xxhash64(F.col("vec_id") * _DIM + j) % 1000003).cast("double")
    / 1000003.0,
)
corpus = spark.range(N_CORPUS).select(
    F.col("id").alias("vec_id"), vec.alias("emb")
)

# fixed centroids (k-means would dominate the timing; cell BALANCE not
# quality is what the scan-parallelism measurement needs): first IVF_K
# corpus vectors
cent = [r["emb"] for r in corpus.limit(IVF_K).collect()]

idx = tempfile.mkdtemp(prefix="goose-scale-point-")
t0 = time.perf_counter()
build_ivf_index_from(spark, corpus, cent, idx)
build_s = time.perf_counter() - t0

q = corpus.filter(F.col("vec_id") % (N_CORPUS // N_QUERY) == 0).select(
    F.col("vec_id").alias("query_id"), F.col("emb").alias("qe")
)
# warm once (JIT, Python workers), then best-of-3 timed serves
ivf_index_query(spark, idx, q).count()
runs = []
for _ in range(3):
    t0 = time.perf_counter()
    n = ivf_index_query(spark, idx, q).count()
    runs.append(round(time.perf_counter() - t0, 3))
probes = _probe(q, _centroid_matrix(spark, idx), IVF_NPROBE)
probed = sorted({int(c) for cl in probes["clusters"] for c in cl})
cell_rows = sum(n for _, _, n in _cell_files(idx, probed))
placement = ("distributed" if "MapInPandas" in physical_plan(ivf_index_query(spark, idx, q))
             else "driver")

print(json.dumps({
    "cpus": CPUS, "n_corpus": N_CORPUS, "n_query": N_QUERY,
    "build_sec": round(build_s, 2), "serve_runs": runs,
    "serve_best": min(runs), "rows": n,
    "probed_cell_rows": cell_rows, "placement": placement,
}))
shutil.rmtree(idx, ignore_errors=True)
spark.stop()
