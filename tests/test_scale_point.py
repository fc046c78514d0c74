"""tools/scale_point.build_scaled: every scaled table holds exactly N× its
source rows on ids disjoint across copies, dims pass through unscaled,
the skewed corpus is ≥90% 'en', and the scaled job_events keep seq
unique (the ledger's total order)."""

from __future__ import annotations

import os
import shutil
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from goose_spark.queries.base import FIXTURES_DIR, t  # noqa: E402
from tests.conftest import SF_SMOKE as SF  # noqa: E402
from tools.scale_point import DIMS, FIXTURE_DIMS, build_scaled  # noqa: E402

#: scaled table → (source dir, id columns disjoint across copies)
SCALED = {
    "documents": (SF, ("doc_id",)),
    "embeddings": (SF, ("vec_id",)),
    "customer": (SF, ("c_custkey", "c_name")),
    "lineitem": (SF, ("l_orderkey",)),
    "orders": (SF, ("o_orderkey",)),
    "events": (SF, ("event_id", "user_id")),
    "job_events": (FIXTURES_DIR, ("job_id", "seq")),
}


@pytest.fixture(scope="module")
def scaled(spark):
    dirs = {skew: build_scaled(spark, SF, 2, skew=skew) for skew in (False, True)}
    yield dirs
    for d in dirs.values():
        shutil.rmtree(d, ignore_errors=True)


def _scaled_dir(out: str, name: str) -> str:
    return os.path.join(out, "fixtures") if name in ("job_events", *FIXTURE_DIMS) else out


@pytest.mark.parametrize("name", sorted(SCALED))
def test_scaled_table_doubles_on_disjoint_ids(spark, scaled, name):
    src, ids = SCALED[name]
    n_src = t(spark, src, name).count()
    big = t(spark, _scaled_dir(scaled[False], name), name)
    assert big.count() == 2 * n_src
    for col in ids:
        # each source id appears once per copy, and no two copies share one
        assert big.select(col).distinct().count() == 2 * t(spark, src, name).select(
            col).distinct().count(), col


def test_scaled_job_events_seq_unique(spark, scaled):
    ev = t(spark, os.path.join(scaled[False], "fixtures"), "job_events")
    assert ev.select("seq").distinct().count() == ev.count() > 0


@pytest.mark.parametrize("name", DIMS + FIXTURE_DIMS)
def test_dims_pass_through_unscaled(spark, scaled, name):
    src = FIXTURES_DIR if name in FIXTURE_DIMS else SF
    got = t(spark, _scaled_dir(scaled[False], name), name)
    want = t(spark, src, name)
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_skew_forces_ninety_percent_en(spark, scaled):
    from pyspark.sql import functions as F

    skewed = t(spark, scaled[True], "documents")
    uniform = t(spark, scaled[False], "documents")
    n = skewed.count()
    assert skewed.filter(F.col("lang") == "en").count() >= 0.9 * n
    # only lang differs between the two corpora
    assert skewed.drop("lang").exceptAll(uniform.drop("lang")).count() == 0
