"""Registry-wide final-schema kind gate — the permanent form of the
r10 ``lorenz_gini_order_value`` driver red.

That entry was value-exact but driver-hash-RED: its final column
``decile_value`` was DECIMAL(18,2), which Spark's ``toPandas`` keeps
as object cells of ``Decimal('339624801.40')`` while DuckDB's
``fetchdf`` converts the identical DECIMAL to float64
``339624801.4`` — the driver's stringified value-hash diverges even
though every value matches to the last bit. Both local gates were
blind to it: ``oracle_harness._norm`` normalizes Decimal→float before
comparing, and the r10 ``_driver_compat_problems`` probe only flagged
{int,float} dtype-kind pairs.

This gate closes the class structurally: NO registered
entry may emit a final schema containing DecimalType, ArrayType, or
MapType — the three Spark types whose pandas landing differs from
DuckDB's fetch in a way the driver's canonicalizer cannot reconcile
(Decimal→object-vs-float64; arrays/maps→unhashable cells). Interior
DECIMAL arithmetic stays welcome (it is exactly what makes the
lorenz/CUSUM sums exact); only the FINAL projection must land on
driver-safe primitives, i.e. end with a CAST to DOUBLE / BIGINT /
STRING.

Schema-only: this builds each entry's DataFrame (cheap analysis plus
any control-plane collects the plan performs) but never executes the
full query, so the whole registry gates in well under the oracle
sweep's budget.
"""

from __future__ import annotations

from pyspark.sql.types import ArrayType, DecimalType, MapType

from football_etl_spark.plans.queries import REGISTRY

from .conftest import SF_SMOKE

# name -> reason a driver-hostile final type is legitimate (empty
# today; adding an entry here is a reviewable act, mirroring
# test_registry_non_vacuous.EMPTY_OK).
HOSTILE_OK: dict[str, str] = {}

_HOSTILE = (DecimalType, ArrayType, MapType)


def test_no_driver_hostile_final_types(spark):
    violations = []
    for name in sorted(REGISTRY):
        if name in HOSTILE_OK:
            continue
        q = REGISTRY[name]
        schema = q.fn(spark, SF_SMOKE).schema
        for field in schema.fields:
            if isinstance(field.dataType, _HOSTILE):
                violations.append(
                    f"{name}.{field.name}: {field.dataType.simpleString()}"
                )
    assert not violations, (
        "final schemas contain driver-hash-hostile types (the r10 "
        "lorenz red class) — cast to DOUBLE/BIGINT/STRING on both the "
        "Spark and oracle side:\n  " + "\n  ".join(violations)
    )


def test_compat_probe_flags_decimal_cells(spark):
    """Seeded violation: the r10 blind spot. A Spark DECIMAL column
    against a DuckDB oracle whose identical DECIMAL lands as float64
    must be flagged by the widened ``_driver_compat_problems`` —
    exactly the divergence plain ``compare`` normalizes away."""
    from .conftest import SF_SMOKE
    from .oracle_harness import _driver_compat_problems

    df = spark.sql("SELECT CAST(1.40 AS DECIMAL(18,2)) AS v")
    problems = _driver_compat_problems(
        df, "SELECT CAST(1.40 AS DECIMAL(18,2)) AS v", SF_SMOKE
    )
    assert any("Decimal" in p for p in problems), problems

    ok = spark.sql("SELECT CAST(1.40 AS DOUBLE) AS v")
    assert not _driver_compat_problems(
        ok, "SELECT CAST(1.40 AS DOUBLE) AS v", SF_SMOKE
    )
