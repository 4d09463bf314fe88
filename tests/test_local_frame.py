"""``sources.local.local_frame``: every driver-side small table is an
Arrow-backed LocalRelation — no Python RDD, exact schema, seed rows."""

from __future__ import annotations

import ast
import datetime as dt
from decimal import Decimal
from pathlib import Path

import pytest
from pyspark.sql import Row

import tax_compliance_engine_spark
from tax_compliance_engine_spark import schemas
from tax_compliance_engine_spark.dims import seed_rows
from tax_compliance_engine_spark.operators import calendar as cal
from tax_compliance_engine_spark.operators import similarity, tax
from tax_compliance_engine_spark.plans import derived
from tax_compliance_engine_spark.sources.local import local_frame

DIM_SCHEMAS = {
    "state_rates": schemas.STATE_RATES_SCHEMA,
    "local_rates": schemas.LOCAL_RATES_SCHEMA,
    "state_exemptions": schemas.STATE_EXEMPTIONS_SCHEMA,
    "category_aliases": schemas.CATEGORY_ALIASES_SCHEMA,
    "nexus_thresholds": schemas.NEXUS_THRESHOLDS_SCHEMA,
    "filing_due_day": schemas.FILING_DUE_DAY_SCHEMA,
    "sol_years": schemas.SOL_YEARS_SCHEMA,
}


def assert_local_leaves(df) -> None:
    """Every leaf is a LocalRelation: no Python-RDD scan in the analyzed
    or the physical plan."""
    qe = df._jdf.queryExecution()
    analyzed = qe.analyzed().toString()
    physical = qe.executedPlan().toString()
    assert "LocalRelation" in analyzed, analyzed
    assert "LogicalRDD" not in analyzed, analyzed
    assert "ExistingRDD" not in physical, physical


@pytest.mark.parametrize("name", sorted(DIM_SCHEMAS))
def test_dims_are_local_relations_with_seed_rows(dims, name):
    df = getattr(dims, name)
    schema = DIM_SCHEMAS[name]
    assert_local_leaves(df)
    assert df.schema == schema  # types AND nullability
    expected = [tuple(r[f] for f in schema.names) for r in seed_rows(name)]
    assert [tuple(r) for r in df.collect()] == expected
    assert not df.is_cached


def test_mapping_dims_are_local_relations(spark):
    states, cats, cities = derived._mapping_dims(spark)
    for df in (states, cats, cities):
        assert_local_leaves(df)
    assert [tuple(r) for r in states.collect()] == list(
        enumerate(derived.state_list())
    )
    assert [tuple(r) for r in cats.collect()] == [
        (i, c) for i, c in enumerate(derived.category_list()) if c is not None
    ]
    assert [tuple(r) for r in cities.collect()] == derived.city_map()
    assert cities.schema.simpleString() == (
        "struct<cm_state:string,cm_idx:bigint,city:string>"
    )


def test_calendar_from_state_list_is_local(spark, dims):
    out = cal.filing_deadlines(
        spark, dims, ["ca", "tx"], 2024, dt.date(2024, 6, 15), "quarterly"
    )
    assert_local_leaves(out)
    assert {r.state_code for r in out.collect()} == {"CA", "TX"}


def test_lsh_planes_are_local(spark):
    emb = local_frame(
        spark,
        [(i, [float((i * 7 + d) % 5 - 2) for d in range(similarity.DIM)])
         for i in range(4)],
        "vec_id long, vec array<double>",
    )
    sigs = similarity._lsh_sigs(emb, "vec", "vec_id", similarity.N_PLANES)
    assert_local_leaves(sigs)
    assert sigs.count() == 4


def test_local_frame_ddl_and_struct_schemas(spark):
    ddl = local_frame(
        spark,
        [("TX", dt.date(2001, 1, 1), Decimal("1.50"), [1.0, 2.0])],
        "s string, d date, m decimal(18,2), v array<double>",
    )
    assert ddl.schema.simpleString() == (
        "struct<s:string,d:date,m:decimal(18,2),v:array<double>>"
    )
    assert ddl.collect() == [
        Row(s="TX", d=dt.date(2001, 1, 1), m=Decimal("1.50"), v=[1.0, 2.0])
    ]
    empty = local_frame(spark, [], "raw_record string")
    assert empty.collect() == []
    assert_local_leaves(empty)
    with pytest.raises(ValueError, match="not nullable"):
        local_frame(spark, [(None, 1)], schemas.SOL_YEARS_SCHEMA)


def test_tax_values_survive_clear_cache(spark, dims):
    txns = local_frame(
        spark,
        [
            ("t1", dt.date(2024, 3, 15), Decimal("500.00"), "TX", "Houston",
             None, Decimal("0.00"), None, "retail", "exclusive"),
            ("t2", dt.date(2024, 3, 15), Decimal("100.00"), "CA", None,
             "groceries", Decimal("0.00"), None, "retail", "exclusive"),
        ],
        schemas.TXN_SCHEMA,
    )

    def run():
        res = tax.calculate_tax(tax.normalize_transactions(txns), dims)
        return sorted(
            (r.transaction_id, r.state_tax, r.local_tax, r.tax_amount)
            for r in res.collect()
        )

    before = run()
    spark.catalog.clearCache()
    assert run() == before
    assert before[0] == (
        "t1", Decimal("31.25"), Decimal("10.00"), Decimal("41.25")
    )


def test_create_dataframe_only_inside_local_frame():
    """The package builds driver-side tables only through local_frame."""
    pkg = Path(tax_compliance_engine_spark.__file__).parent
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        allowed: set[int] = set()
        for node in ast.walk(tree):
            if isinstance(node, ast.FunctionDef) and node.name == "local_frame":
                allowed |= {id(n) for n in ast.walk(node)}
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
                and not (path.name == "local.py" and id(node) in allowed)
            ):
                offenders.append(f"{path.relative_to(pkg)}:{node.lineno}")
    assert offenders == []
