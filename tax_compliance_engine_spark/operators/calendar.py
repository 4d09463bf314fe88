"""Filing-calendar generation: the reference's only table-generating operator.

Re-expresses /root/reference/tax_engine/compliance.py:371-497
(get_filing_deadlines / get_overdue_filings) plus the due-date and frequency
helpers (:171-200) as a ``sequence`` + ``explode`` generator — a UDTF-shaped
source built entirely from Catalyst expressions:

  states × frequency → sequence(period starts) → explode → last_day bounds
  → due-date rollover via add_months + make_date (F7) → filed-period
  anti-probe (J8) → overdue/status columns.

Dec→Jan due-date rollover falls out of ``add_months`` arithmetic; due days
are ≤ 25 so ``make_date`` is always valid.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..dims import Dims
from ..schemas import DEFAULT_DUE_DAY
from ..sources.local import local_frame

# Liability → frequency bucketing (compliance.py:186-200, F14).
FREQ_MONTHLY_MIN = 4800
FREQ_QUARTERLY_MIN = 1200


def determine_frequency_col(liability) -> F.Column:
    return (
        F.when(liability >= FREQ_MONTHLY_MIN, F.lit("monthly"))
        .when(liability >= FREQ_QUARTERLY_MIN, F.lit("quarterly"))
        .otherwise(F.lit("annual"))
    )


def filing_deadlines(
    spark: SparkSession,
    dims: Dims,
    states: list[str] | DataFrame,
    year: int,
    as_of: dt.date,
    frequency: str | None = None,
    estimated_annual_liability: str | float = 0,
    filed_periods: DataFrame | None = None,
) -> DataFrame:
    """Generate the filing calendar for the given states and year.

    ``states`` is a list of codes or a DataFrame with columns
    (state_code [, estimated_annual_liability] [, frequency]).  Frequency is
    auto-determined from liability when not supplied (F14).
    """
    if isinstance(states, list):
        base = local_frame(
            spark, [(s.upper(),) for s in states], "state_code string"
        ).withColumn(
            "estimated_annual_liability",
            F.lit(str(estimated_annual_liability)).cast("decimal(18,2)"),
        )
    else:
        base = states
        if "estimated_annual_liability" not in base.columns:
            base = base.withColumn(
                "estimated_annual_liability", F.lit(0).cast("decimal(18,2)")
            )

    if frequency is not None:
        base = base.withColumn("frequency", F.lit(frequency))
    elif "frequency" not in base.columns:
        base = base.withColumn(
            "frequency", determine_frequency_col(F.col("estimated_annual_liability"))
        )

    step = (
        F.when(F.col("frequency") == "monthly", F.expr("interval 1 month"))
        .when(F.col("frequency") == "quarterly", F.expr("interval 3 month"))
        .otherwise(F.expr("interval 12 month"))
    )
    periods_per_year = (
        F.when(F.col("frequency") == "monthly", F.lit(12))
        .when(F.col("frequency") == "quarterly", F.lit(4))
        .otherwise(F.lit(1))
    )
    months_per_period = (
        F.when(F.col("frequency") == "monthly", F.lit(1))
        .when(F.col("frequency") == "quarterly", F.lit(3))
        .otherwise(F.lit(12))
    )

    df = (
        base.withColumn(
            "period_start",
            F.explode(
                F.sequence(
                    F.make_date(F.lit(year), F.lit(1), F.lit(1)),
                    F.make_date(F.lit(year), F.lit(12), F.lit(1)),
                    step,
                )
            ),
        )
        .withColumn(
            "period_end",
            F.last_day(
                F.add_months(F.col("period_start"), months_per_period - F.lit(1))
            ),
        )
        .withColumn(
            "estimated_liability",
            (F.col("estimated_annual_liability") / periods_per_year).cast(
                "decimal(18,6)"
            ),
        )
    )

    # Due date = day D of the month after period_end (F7); broadcast J6.
    due_day_dim = dims.filing_due_day.select(
        F.col("state_code").alias("_dd_state"), F.col("due_day").alias("_due_day")
    )
    next_month = F.add_months(F.col("period_end"), 1)
    df = (
        df.join(F.broadcast(due_day_dim), F.col("state_code") == F.col("_dd_state"), "left")
        .withColumn("due_day", F.coalesce("_due_day", F.lit(DEFAULT_DUE_DAY)))
        .withColumn(
            "due_date",
            F.make_date(F.year(next_month), F.month(next_month), F.col("due_day")),
        )
        .drop("_dd_state", "_due_day", "due_day")
    )

    # Filed-period probe (J8, compliance.py:235-242, 396-400).
    if filed_periods is not None:
        fp = filed_periods.select(
            F.col("state_code").alias("_fp_state"),
            F.col("period_start").alias("_fp_start"),
            F.col("period_end").alias("_fp_end"),
            F.lit(True).alias("is_filed"),
        )
        df = df.join(
            F.broadcast(fp),
            (F.col("state_code") == F.col("_fp_state"))
            & (F.col("period_start") == F.col("_fp_start"))
            & (F.col("period_end") == F.col("_fp_end")),
            "left",
        ).drop("_fp_state", "_fp_start", "_fp_end")
        df = df.withColumn("is_filed", F.coalesce("is_filed", F.lit(False)))
    else:
        df = df.withColumn("is_filed", F.lit(False))

    return (
        df.withColumn(
            "is_overdue", (F.col("due_date") < F.lit(as_of)) & ~F.col("is_filed")
        )
        .withColumn("days_until_due", F.datediff("due_date", F.lit(as_of)))
        .withColumn(
            "status",
            F.when(F.col("is_filed"), "filed")
            .when(F.col("is_overdue"), "overdue")
            .otherwise("pending"),
        )
        .select(
            "state_code",
            "period_start",
            "period_end",
            "due_date",
            "frequency",
            "is_overdue",
            "days_until_due",
            "estimated_liability",
            "status",
        )
    )


def overdue_filings(deadlines: DataFrame) -> DataFrame:
    """P10/O5 (compliance.py:483-497): overdue only, soonest due first."""
    return deadlines.filter(F.col("is_overdue")).orderBy("due_date", "state_code")


def upcoming_filings(deadlines: DataFrame, window_days: int = 30) -> DataFrame:
    """P11 (report_generator.py:198-202): due within the window, not overdue."""
    return deadlines.filter(
        ~F.col("is_overdue") & F.col("days_until_due").between(0, window_days)
    ).orderBy("due_date", "state_code")
