"""Driver-gate rehearsal: every registered query with an oracle must
hash-match DuckDB at sf0.01 (the exact scale the driver checks)."""

from __future__ import annotations

import pytest

from goose_spark.queries import load_all
from tests.conftest import SF_CORRECT
from tests.oracle_utils import compare

REGISTRY = load_all()
NAMES = sorted(REGISTRY)

# The ledger family (qj*, ~20 s together) runs in the DEFAULT pytest
# selection, so the default gate checks ledger correctness against the
# oracle. Every other query is 'slowsuite' (pytest.ini deselects it by
# default to keep the run short); tools/partest.py and 'pytest -m ""'
# still run all of them.
PARAMS = [
    pytest.param(n) if n.startswith("qj") else pytest.param(n, marks=pytest.mark.slowsuite)
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
