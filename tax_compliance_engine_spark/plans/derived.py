"""Deterministic derivation of a `transactions` fact table from the driver's
TPC-H-ish testdata (orders.parquet).

The correctness harness compares our Spark plans against DuckDB SQL on the
same parquet files, so the tax-domain queries need a transactions table that
BOTH engines derive identically.  Everything here is modulo arithmetic on
integer keys joined against small mapping tables built from the same Python
constants — bit-identical in Spark and in generated SQL (see oracle.py).

Coverage by construction: all 51 states + 2 unknown codes, known/unknown/
NULL cities, exempt and unmapped categories (with case/whitespace noise),
wholesale/exempt customers, certificates, over/under/zero tax_paid, and
dates spanning the SOL boundary for ``AS_OF``.
"""

from __future__ import annotations

import datetime as dt
import functools
from decimal import Decimal

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..dims import seed_rows
from ..schemas import MONEY
from ..sources.local import local_frame

# Fixed analysis date for refund/calendar queries (orders span 1995-2001;
# 3-4yr SOLs split the range).
AS_OF = dt.date(2002, 6, 15)
CALENDAR_YEAR = 2001
CAL_AS_OF = dt.date(2001, 6, 15)  # mid-year → overdue/pending/filed mix
# Inside the orders date range (1995..2001) so every measurement_period
# (current/prior year, rolling 12m/4q) selects a distinct subset.
NEXUS_AS_OF = dt.date(2000, 9, 15)
REGISTERED_STATES = ["CA", "TX", "NY", "OH", "WA"]
FILED_PERIODS = [("TX", dt.date(2001, 1, 1), dt.date(2001, 1, 31))]


def state_list() -> list[str]:
    codes = sorted(r["state_code"] for r in seed_rows("state_rates"))
    return codes + ["XX", "ZZ"]  # 53 entries; 2 unknown codes


def category_list() -> list[str | None]:
    # index by o_orderkey % 8; None → no category (join miss)
    return [
        "grocery",
        "clothing",
        "rx",
        "saas",
        "electronics",
        " Food ",  # alias hit only after lower+trim
        None,
        "furniture",
    ]


def city_map() -> list[tuple[str, int, str]]:
    """(state_code, o_orderkey%4, city): slot 0 = first real local
    jurisdiction, 1 = unknown city, 3 = second real jurisdiction if any.
    Slot 2 is absent → NULL city (avg-local fallback + warning path)."""
    by_state: dict[str, list[str]] = {}
    for r in seed_rows("local_rates"):
        by_state.setdefault(r["state_code"], []).append(r["jurisdiction"])
    rows: list[tuple[str, int, str]] = []
    for code in sorted(by_state):
        locs = by_state[code]
        rows.append((code, 0, locs[0]))
        rows.append((code, 1, "Faketown"))
        if len(locs) > 1:
            rows.append((code, 3, locs[1]))
    return rows


PAID_MULTIPLIERS = ["0", "0.05", "0.08", "0.0825", "0.12"]  # o_orderkey % 5


# Memoized per-session mapping dims (LocalRelations, so nothing to
# cache): one build per session instead of three Arrow hand-offs per
# tax-family plan construction.
_MAP_DIMS: dict[int, tuple[DataFrame, DataFrame, DataFrame]] = {}


def _mapping_dims(spark: SparkSession) -> tuple[DataFrame, DataFrame, DataFrame]:
    cached = _MAP_DIMS.get(id(spark))
    if cached is not None:
        return cached
    states = local_frame(
        spark, list(enumerate(state_list())), "sidx long, state string"
    )
    cats = local_frame(
        spark,
        [(i, c) for i, c in enumerate(category_list()) if c is not None],
        "cidx long, item_category string",
    )
    cities = local_frame(
        spark, city_map(), "cm_state string, cm_idx long, city string"
    )
    _MAP_DIMS[id(spark)] = (states, cats, cities)
    return states, cats, cities


@functools.lru_cache(maxsize=1)
def _derived_txn_cols() -> tuple:
    """Memoized Column trees of ``derive_transactions`` (join conditions +
    output projection) — pure functions of column names, reusable across
    plans; building them cost ~0.4 s of py4j round-trips on EVERY
    tax-family plan construction (the webops ``_pct_normalize_cached``
    rationale)."""
    paid = F.lit(None).cast("decimal(6,4)")
    for i, m in reversed(list(enumerate(PAID_MULTIPLIERS))):
        cond = F.col("o_orderkey") % 5 == i
        paid = F.when(cond, F.lit(Decimal(m)).cast("decimal(6,4)")).otherwise(paid)
    join_states = F.col("o_custkey") % 53 == F.col("sidx")
    join_cats = F.col("o_orderkey") % 8 == F.col("cidx")
    join_cities = (F.col("state") == F.col("cm_state")) & (
        F.col("o_orderkey") % 4 == F.col("cm_idx")
    )
    select_cols = (
        F.col("o_orderkey").cast("string").alias("transaction_id"),
        F.col("o_orderdate").cast("date").alias("transaction_date"),
        F.col("o_totalprice").cast(MONEY).alias("amount"),
        "state",
        "city",
        "item_category",
        F.round(F.col("o_totalprice").cast(MONEY) * paid, 2)
        .cast(MONEY)
        .alias("tax_paid"),
        F.when(
            F.col("o_orderkey") % 23 == 0,
            F.concat(F.lit("CERT-"), F.col("o_orderkey").cast("string")),
        ).alias("exemption_certificate"),
        F.when(F.col("o_custkey") % 19 == 0, F.lit("wholesale"))
        .when(F.col("o_custkey") % 19 == 1, F.lit("exempt"))
        .otherwise(F.lit("retail"))
        .alias("customer_type"),
        F.lit("exclusive").alias("pricing_model"),
    )
    return join_states, join_cats, join_cities, select_cols


def derive_transactions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark side of the shared derivation (oracle.py emits the SQL twin)."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")

    states, cats, cities = _mapping_dims(spark)
    join_states, join_cats, join_cities, select_cols = _derived_txn_cols()

    return (
        orders.join(F.broadcast(states), join_states)
        .join(F.broadcast(cats), join_cats, "left")
        .join(F.broadcast(cities), join_cities, "left")
        .select(*select_cols)
    )
