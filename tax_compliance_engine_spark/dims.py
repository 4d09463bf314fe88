"""Dimension loader: JSON seeds → small broadcast-ready DataFrames.

The reference embeds its dimension data in code (rates.py:63-764,
compliance.py:98-164, refund_analyzer.py:71-92, calculator.py:96-113); here it
ships as versioned JSON seeds (see scripts/extract_seed_dims.py) loaded into
typed DataFrames.  All dims are KB-sized (≤ ~100 rows), so every join against
them is an explicit broadcast hash join — no shuffle, regardless of fact-table
scale.  Each dim is an Arrow-backed ``LocalRelation`` (``sources.local``):
the JVM holds the rows, so scanning or broadcasting one never runs a Python
worker and there is nothing to cache.

``Dims`` also exposes the raw Python rows; driver-side helpers (oracle SQL
generation, report rendering) reuse them without touching Spark.
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from decimal import Decimal
from functools import lru_cache
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from . import schemas
from .sources.local import local_frame

SEED_DIR = Path(__file__).resolve().parent / "seeds"

_DECIMAL_FIELDS = {
    "base_rate",
    "max_local_rate",
    "avg_combined_rate",
    "rate",
    "revenue_threshold",
}


@lru_cache(maxsize=None)
def seed_rows(name: str) -> tuple[dict, ...]:
    """Load one seed table as a tuple of dicts (decimal fields converted)."""
    raw = json.loads((SEED_DIR / f"{name}.json").read_text())
    for row in raw:
        for k in list(row):
            if k in _DECIMAL_FIELDS and row[k] is not None:
                row[k] = Decimal(row[k])
    return tuple(raw)


def _df(spark: SparkSession, name: str, schema: StructType) -> DataFrame:
    rows = [tuple(r[f.name] for f in schema.fields) for r in seed_rows(name)]
    return local_frame(spark, rows, schema)


@dataclass(frozen=True)
class Dims:
    """The seven broadcast dimension DataFrames (SURVEY §1.1)."""

    state_rates: DataFrame
    local_rates: DataFrame
    state_exemptions: DataFrame
    category_aliases: DataFrame
    nexus_thresholds: DataFrame
    filing_due_day: DataFrame
    sol_years: DataFrame


# One Dims per SparkSession: the frames are cheap LocalRelations, but one
# shared instance lets per-Dims memos (tax._dim_join_frames) build their
# projections once per session instead of once per query.
_DIMS_CACHE: dict[int, Dims] = {}


def load_dims(spark: SparkSession) -> Dims:
    key = id(spark)
    cached = _DIMS_CACHE.get(key)
    if cached is not None:
        return cached
    dims = _load_dims(spark)
    _DIMS_CACHE[key] = dims
    return dims


def _load_dims(spark: SparkSession) -> Dims:
    return Dims(
        state_rates=_df(spark, "state_rates", schemas.STATE_RATES_SCHEMA),
        local_rates=_df(spark, "local_rates", schemas.LOCAL_RATES_SCHEMA),
        state_exemptions=_df(
            spark, "state_exemptions", schemas.STATE_EXEMPTIONS_SCHEMA
        ),
        category_aliases=_df(
            spark, "category_aliases", schemas.CATEGORY_ALIASES_SCHEMA
        ),
        nexus_thresholds=_df(
            spark, "nexus_thresholds", schemas.NEXUS_THRESHOLDS_SCHEMA
        ),
        filing_due_day=_df(spark, "filing_due_day", schemas.FILING_DUE_DAY_SCHEMA),
        sol_years=_df(spark, "sol_years", schemas.SOL_YEARS_SCHEMA),
    )
