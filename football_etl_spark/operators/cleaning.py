"""Schema repair, validation, dedup, and integrity filters (SURVEY.md §2.2, §2.6).

The reference's defensive layer (required-column checks, missing-column
reconstruction, numeric coercion, fuzzy header resolution, keep-first
dedup, future/past date-integrity filters) re-expressed as pure
DataFrame transforms. Fuzzy column matching operates on ``df.columns``
driver-side — schema metadata, not data — so it is free at any scale.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.scalars import clean_number


def add_missing_columns(
    df: DataFrame, defaults: Mapping[str, object], types: Mapping[str, T.DataType] | None = None
) -> DataFrame:
    """Column-repair: add absent columns with a default literal
    (venue=None at processors/data_processor.py:97-99; team/season
    literals at scrapers/team_scraper.py:617-620)."""
    types = types or {}
    to_add = {
        name: F.lit(default).cast(types.get(name, T.StringType()))
        for name, default in defaults.items()
        if name not in df.columns
    }
    return df.withColumns(to_add) if to_add else df


def canonicalize_columns(df: DataFrame, wanted: Mapping[str, Sequence[str]]) -> DataFrame:
    """Fuzzy header resolution (scrapers/team_scraper.py:624-631,
    774-783): for each canonical name, rename the first existing
    column whose lowercased name contains one of the given substrings.
    Driver-side over df.columns only."""
    renames: dict[str, str] = {}
    taken: set[str] = set()
    for canon, needles in wanted.items():
        if canon in df.columns:
            continue
        for c in df.columns:
            if c in taken or c in renames:
                continue
            lc = c.lower()
            if any(n.lower() in lc for n in needles):
                renames[c] = canon
                taken.add(c)
                break
    return df.withColumnsRenamed(renames) if renames else df


def flatten_header(df: DataFrame, sep: str = "_") -> DataFrame:
    """Multi-level header flattening (scrapers/team_scraper.py:374-376):
    canonicalize names to lowercase snake_case."""
    renames = {}
    for c in df.columns:
        canon = "_".join(c.strip().lower().replace("%", "pct").split())
        if canon != c:
            renames[c] = canon
    return df.withColumnsRenamed(renames) if renames else df


def coerce_numerics(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """pd.to_numeric(errors='coerce') over stat columns
    (processors/data_processor.py:196-204) via clean_number/try_cast."""
    return df.withColumns({c: clean_number(c) for c in cols if c in df.columns})


def dedup_deterministic(
    df: DataFrame, keys: Sequence[str], order_by: Sequence[Column | str]
) -> DataFrame:
    """Deterministic dedup (SURVEY.md §7.4): keep the first row per key
    under an explicit order, via row_number — one shuffle on the key,
    no driver involvement, skew handled by AQE."""
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def future_only(df: DataFrame, date_col: str, today: Column | None = None) -> DataFrame:
    """Keep rows with date >= today (fixtures integrity,
    processors/data_processor.py:108-110)."""
    return df.filter(F.col(date_col) >= (today if today is not None else F.current_date()))


def past_only(df: DataFrame, date_col: str, today: Column | None = None) -> DataFrame:
    """Keep rows with date <= today (history integrity,
    processors/data_processor.py:246-248)."""
    return df.filter(F.col(date_col) <= (today if today is not None else F.current_date()))
