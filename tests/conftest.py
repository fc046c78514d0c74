from __future__ import annotations

import os

import duckdb
import pytest

from goose_spark.session import TESTDATA_TABLES, get_spark

TESTDATA_ROOT = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
SF_SMOKE = os.path.join(TESTDATA_ROOT, "sf0.001")
SF_CORRECT = os.path.join(TESTDATA_ROOT, "sf0.01")

# Isolate the flaky-job attempt counters per test run: a concurrent
# bench/pytest process sharing /tmp would reset or pollute another run's
# counters mid-test. Must be set before the SparkSession exists so local
# executor workers inherit it.
os.environ.setdefault(
    "GOOSE_SPARK_FLAKY_DIR",
    os.path.join("/tmp", f"goose-spark-flaky-{os.getpid()}"),
)


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("gosling-tests")
    yield spark


@pytest.fixture(scope="session")
def oracle():
    """DuckDB connection with the testdata tables registered as views at
    sf0.01 — the same setup the driver's correctness gate uses."""
    con = duckdb.connect()
    for name in TESTDATA_TABLES:
        path = os.path.join(SF_CORRECT, f"{name}.parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    yield con
    con.close()


@pytest.fixture(scope="session")
def spark_prop(spark):
    """Alias fixture so hypothesis @given tests can take the session
    SparkSession without tripping the function-scoped-fixture health
    check (the session is immutable across examples)."""
    return spark


def cells_read(monkeypatch) -> set:
    """The cluster ids of the IVF index cells whose files pyarrow reads
    from now on — how the serve's driver placement reads its probed
    cells (no Spark scan, so no PartitionFilters to inspect)."""
    import pyarrow.parquet as pq

    read: set = set()
    real = pq.read_table

    def spy(source, *args, **kwargs):
        cell = os.path.basename(os.path.dirname(str(source)))
        if cell.startswith("cluster="):
            read.add(int(cell.split("=", 1)[1]))
        return real(source, *args, **kwargs)

    monkeypatch.setattr(pq, "read_table", spy)
    return read


def probed_cells(spark, index_dir: str, queries, nprobe: int) -> set:
    """The cells an IVF serve of ``queries`` probes."""
    from goose_spark.operators.annindex import _centroid_matrix, _probe

    probes = _probe(queries, _centroid_matrix(spark, index_dir), nprobe)
    return {int(c) for clusters in probes["clusters"] for c in clusters}
