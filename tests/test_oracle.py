"""Cross-check every registry query against its DuckDB oracle — the
local twin of the driver's CORRECTNESS gate."""

from __future__ import annotations

import pytest

from football_etl_spark.plans.queries import REGISTRY

from .conftest import SF_ORACLE
from .oracle_harness import compare

# ids keep the "registry-" prefix they carried while a second
# (staged) tier existed, so recorded test ids stay stable
ORACLE_NAMES = [name for name, q in REGISTRY.items() if q.oracle is not None]


@pytest.mark.parametrize("name", ORACLE_NAMES, ids=[f"registry-{n}" for n in ORACLE_NAMES])
def test_query_matches_oracle(spark, name):
    q = REGISTRY[name]
    df = q.fn(spark, SF_ORACLE)
    problems = compare(df, q.oracle, SF_ORACLE)
    assert not problems, f"{name}:\n" + "\n".join(problems)


def test_staged_names_disjoint_from_registry():
    """The staged tier is retired: ``STAGED`` stays an empty export
    only because bench.py still imports it."""
    from football_etl_spark.plans.queries import STAGED

    assert STAGED == {}


def test_all_queries_return_rows_or_valid_empty(spark):
    """Every query must at least execute and have a stable schema."""
    for name, q in REGISTRY.items():
        df = q.fn(spark, SF_ORACLE)
        assert df.columns, f"{name} produced no columns"


def test_norm_canonicalizes_signed_zero():
    """-0.0 and 0.0 are equal values whose reprs differ — _norm must
    collapse them so the repr-keyed row sort cannot misalign rows
    (engines legitimately differ on the sign of a rounded zero)."""
    from .oracle_harness import _norm

    assert repr(_norm(-0.0)) == repr(_norm(0.0)) == "0.0"
    assert _norm(-1.5) == -1.5 and _norm(float("nan")) == "NaN"
