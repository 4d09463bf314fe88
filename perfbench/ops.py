"""The benchmark's operations and their correctness checks.

An operation is one call path a user of the engine runs: one query with a
``noop`` sink, one CLI-equivalent compliance report over a CSV, or one
streaming drain of a file backlog.  Each operation wraps its calls into the
engine's public functions in spans named ``<module>.<function>``.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import shutil
from dataclasses import dataclass
from decimal import Decimal
from pathlib import Path
from typing import Any, Callable

# Fixed report date, so a report's bytes depend on the seed alone.
AS_OF = dt.date(2025, 6, 30)
REGISTERED = ["CA", "TX", "NY", "OH", "WA"]
SKETCH_K = 64

TAX_QUERIES = ["tax_state_summary", "refund_claims"]
ANN_QUERIES = ["dedup_minhash_pairs", "embedding_dup_pairs", "dedup_editdist_pairs"]


@dataclass
class Op:
    name: str
    kind: str  # "query", "report" or "drain"
    run: Callable[[Any, bool], Any]  # (ctx, check) -> result when check


def query_op(name: str, fn: Callable) -> Op:
    def run(ctx, check: bool):
        with ctx.tracer.span("plans.construct"):
            df = fn(ctx.spark, str(ctx.inputs.data_dir))
        if check:
            return df.toArrow()
        if ctx.tracer.enabled:
            with ctx.tracer.span("spark.plan"):
                df._jdf.queryExecution().executedPlan()
        with ctx.tracer.span("spark.execute"):
            df.write.format("noop").mode("overwrite").save()
        return None

    return Op(name, "query", run)


# ── compliance report (the CLI ``report`` + ``compliance`` path) ─────


@dataclass
class ReportResult:
    rejects: int
    transaction_count: int
    digest: str
    driver_rows: int
    bytes_written: int


def _canonical(obj: Any) -> Any:
    """JSON value with list order removed: the reports list rows in the
    order Spark returns them, which is not part of their content."""
    if isinstance(obj, dict):
        return {k: _canonical(v) for k, v in obj.items()}
    if isinstance(obj, list):
        items = [_canonical(v) for v in obj]
        return sorted(items, key=lambda v: json.dumps(v, sort_keys=True))
    return obj


def compliance_report(ctx, check: bool) -> ReportResult:
    from tax_compliance_engine_spark import reports
    from tax_compliance_engine_spark.operators import alerts, nexus, refund, tax
    from tax_compliance_engine_spark.sources.transactions import (
        scan_transactions_csv,
    )

    spark, dims, span = ctx.spark, ctx.dims, ctx.tracer.span
    out = ctx.scratch("reports")
    with span("sources.scan_csv"):
        scan = scan_transactions_csv(spark, str(ctx.inputs.csv_path))
        n_rejects = scan.rejects.count()
    txns = scan.transactions.cache()
    with span("tax.calculate_tax"):
        results = tax.calculate_tax(txns, dims).cache()
    with span("reports.tax_summary_report"):
        tax_rep = reports.tax_summary_report(
            tax.batch_totals(results),
            tax.state_summary(results),
            period_label="benchmark",
            generated_date=AS_OF,
        )
    with span("refund.analyze_overpayments"):
        records = refund.analyze_overpayments(txns, dims, AS_OF).cache()
    with span("refund.refund_summary"):
        summary, state_bd, reason_bd, warnings = refund.refund_summary(
            records, total_transactions_reviewed=txns.count()
        )
        claims = refund.refund_claims(records)
    with span("reports.refund_report"):
        ref_rep = reports.refund_report(
            summary, state_bd, reason_bd, records, warnings, claims,
            generated_date=AS_OF,
        )
    with span("nexus.check_nexus"):
        status = nexus.check_nexus(nexus.state_activity(txns), dims).cache()
    with span("reports.nexus_report"):
        nex_rep = reports.nexus_report(status, generated_date=AS_OF)
    with span("alerts.generate_alerts"):
        alert_rows = alerts.generate_alerts(
            spark, dims, status, registered_states=REGISTERED, as_of=AS_OF
        ).collect()
    docs = {"tax": tax_rep, "refund": ref_rep, "nexus": nex_rep}
    with span("reports.to_json"):
        texts = {k: reports.to_json(v, f"{k}.json", out) for k, v in docs.items()}
    with span("reports.export_details"):
        details = reports.export_transaction_details(results, output_dir=out)
    for df in (status, records, results, txns):
        df.unpersist()

    digest = hashlib.sha256()
    for k in sorted(texts):
        digest.update(
            json.dumps(_canonical(json.loads(texts[k])), sort_keys=True).encode()
        )
    digest.update(
        json.dumps(
            sorted(json.dumps([str(v) for v in r]) for r in alert_rows)
        ).encode()
    )
    digest.update("\n".join(sorted(details.splitlines())).encode())
    result = ReportResult(
        rejects=n_rejects,
        transaction_count=tax_rep["summary"]["total_transactions"],
        digest=digest.hexdigest(),
        driver_rows=(
            len(tax_rep["state_breakdown"])
            + len(ref_rep["overpayment_details"])
            + len(ref_rep.get("refund_claims", []))
            + len(nex_rep["nexus_established"])
            + len(nex_rep["approaching_threshold"])
            + len(nex_rep["below_threshold"])
            + len(alert_rows)
            + details.count("\n") - 1
        ),
        bytes_written=sum(p.stat().st_size for p in out.rglob("*") if p.is_file()),
    )
    shutil.rmtree(out, ignore_errors=True)
    return result


def check_report(ctx, res: ReportResult) -> list[str]:
    errs = []
    if res.rejects != ctx.inputs.csv_malformed:
        errs.append(f"rejects {res.rejects} != injected {ctx.inputs.csv_malformed}")
    want = ctx.inputs.csv_rows - ctx.inputs.csv_malformed
    if res.transaction_count != want:
        errs.append(f"transaction_count {res.transaction_count} != {want}")
    return errs


# ── streaming drain ──────────────────────────────────────────────────


@dataclass
class DrainResult:
    alerts: list[tuple]  # (state, severity, revenue, txn_count)
    sketch_counts: dict[str, int]  # state → sample rows in the sketch state
    sink_bytes: int


def stream_drain(ctx, check: bool) -> DrainResult:
    from tax_compliance_engine_spark.streaming import nexus_monitor
    from tax_compliance_engine_spark.streaming.quantile_stream import (
        streaming_value_sketch_writer,
    )

    spark, span = ctx.spark, ctx.tracer.span
    src = str(ctx.inputs.stream_dir)
    work = ctx.scratch("drain")
    table = f"bench_nexus_{work.name.replace('-', '_')}"
    with span("stream.nexus_monitor"):
        snapshot = nexus_monitor.run_monitor_once(
            spark, src, ctx.dims, str(work / "ckpt-nexus"), table_name=table
        )
        rows = snapshot.collect()
    with span("stream.value_sketch"):
        query = (
            streaming_value_sketch_writer(
                nexus_monitor.stream_transactions(spark, src),
                str(work / "sketch"),
                ["state"],
                "transaction_id",
                k=SKETCH_K,
            )
            .option("checkpointLocation", str(work / "ckpt-sketch"))
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    spark.catalog.dropTempView(table)
    sketch = work / "sketch"
    counts: dict[str, int] = {}
    if check:
        import pyarrow.parquet as pq

        tbl = pq.read_table(str(sketch), columns=["state"])
        for s in tbl.column("state").to_pylist():
            counts[s] = counts.get(s, 0) + 1
    result = DrainResult(
        alerts=sorted(
            (r.state, r.severity, Decimal(r.revenue), int(r.txn_count))
            for r in rows
        ),
        sketch_counts=counts,
        sink_bytes=sum(p.stat().st_size for p in sketch.rglob("*") if p.is_file()),
    )
    shutil.rmtree(work, ignore_errors=True)
    return result


def check_drain(ctx, res: DrainResult) -> list[str]:
    """Drained alerts ≡ batch ``check_nexus`` over the same files, and the
    sketch state holds min(k, rows) samples per state."""
    from pyspark.sql import functions as F

    from tax_compliance_engine_spark.operators import nexus
    from tax_compliance_engine_spark.schemas import TXN_SCHEMA

    txns = ctx.spark.read.schema(TXN_SCHEMA).parquet(str(ctx.inputs.stream_dir))
    status = nexus.check_nexus(nexus.state_activity(txns), ctx.dims)
    batch = sorted(
        (
            r.state_code,
            "critical" if r.has_nexus else "warning",
            Decimal(r.revenue_in_state),
            int(r.transactions_in_state),
        )
        for r in status.filter(
            F.col("has_nexus") | F.col("approaching_threshold")
        ).collect()
    )
    errs = []
    if res.alerts != batch:
        errs.append(f"drained alerts {res.alerts} != batch {batch}")
    per_state = {
        r.state: min(SKETCH_K, r.n)
        for r in txns.groupBy("state").agg(F.count("*").alias("n")).collect()
    }
    if res.sketch_counts != per_state:
        errs.append("value-sketch sample counts differ from min(k, rows)")
    return errs


# ── oracle gate for the query operations ────────────────────────────


def _summary(tbl) -> tuple[dict, list]:
    """Column types and canonical rows, as the repository's oracle sweep
    (scripts/check_oracle.py) compares them: bit-exact and order-free."""
    import sys

    scripts = str(Path(__file__).resolve().parent.parent / "scripts")
    if scripts not in sys.path:
        sys.path.insert(0, scripts)
    from check_oracle import table_summary

    names, classes, rows = table_summary(tbl)
    return dict(zip(names, classes)), rows


class Oracle:
    """DuckDB twins of the query operations over the generated parquet.

    The twins run on a background thread from construction on, so their
    cost overlaps the warm-up instead of adding to the run; ``check``
    waits for the twin it needs."""

    def __init__(self, data_dir: Path, names: list[str]) -> None:
        import threading

        import duckdb

        import __spark_entry__ as entry
        from tax_compliance_engine_spark.plans import oracle_dataops as od

        con = duckdb.connect()
        for t in ("orders", "documents", "embeddings"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{data_dir / (t + '.parquet')}'"
            )
        sql = entry.oracle_sql()
        n_emb = con.execute("SELECT count(*) FROM embeddings").fetchone()[0]
        for name, gen in od.GEOMETRY_PARAMETRIC_SQL.items():
            if name in sql:
                sql[name] = gen(n_emb)
        self._want: dict[str, tuple] = {}
        self._ready: dict[str, threading.Event] = {n: threading.Event() for n in names}

        def run() -> None:
            try:
                for n in names:
                    try:
                        self._want[n] = _summary(con.execute(sql[n]).arrow())
                    except Exception as e:  # noqa: BLE001 - reported by check()
                        self._want[n] = e
                    self._ready[n].set()
            finally:
                con.close()
                for ev in self._ready.values():
                    ev.set()

        self._thread = threading.Thread(target=run, daemon=True)
        self._thread.start()

    def check(self, name: str, spark_tbl) -> list[str]:
        self._ready[name].wait()
        want = self._want.get(name)
        if not isinstance(want, tuple):
            return [f"{name}: oracle failed: {want!r}"]
        want_types, want_rows = want
        got_types, got_rows = _summary(spark_tbl)
        if got_types != want_types:
            return [f"{name}: columns/types {got_types} != oracle {want_types}"]
        if got_rows != want_rows:
            return [f"{name}: {len(got_rows)} rows differ from oracle ({len(want_rows)})"]
        return []

    def close(self) -> None:
        self._thread.join()
