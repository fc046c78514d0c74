"""Driver-gate rehearsal: every registered query with an oracle must
hash-match DuckDB at sf0.01 (the exact scale the driver checks)."""

from __future__ import annotations

import pytest

from goose_spark.queries import load_all
from tests.conftest import SF_CORRECT
from tests.oracle_utils import compare

REGISTRY = load_all()
NAMES = sorted(REGISTRY)

# Every case runs in the DEFAULT pytest selection except four whose
# DuckDB oracles take ~168 s of the file's ~6.5 min at sf0.01 (q87 76 s,
# sp13 33 s, dd6 30 s, dd7 29 s): they are 'slowsuite', which
# tools/oracle_gate.py, tools/partest.py and 'pytest -m ""' still run.
SLOW_ORACLES = {"q87_triangle_count", "sp13_leakage_safe_split",
                "dd6_dedup_clusters", "dd7_cluster_keep_best"}
PARAMS = [
    pytest.param(n, marks=pytest.mark.slowsuite) if n in SLOW_ORACLES else pytest.param(n)
    for n in NAMES
]


@pytest.mark.parametrize("name", PARAMS)
def test_query_matches_oracle(name, spark, oracle):
    spec = REGISTRY[name]
    df = spec.builder(spark, SF_CORRECT)
    if spec.oracle is None:
        assert df.count() >= 0  # rows-only check, like the driver
        return
    problems = compare(df, oracle, spec.oracle)
    assert not problems, f"{name}: " + "; ".join(problems)
