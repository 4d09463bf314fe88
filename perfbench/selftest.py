"""Self-test of the benchmark's instruments.

    python3 perfbench/selftest.py

Run from the repository root.  It checks two things on a real session:

1. Reading Spark's statistics (status store, SQL execution store, final
   plans) submits no Spark job and no SQL execution.
2. A traced execution of every operation of both workloads records a span
   with a parent for every layer the benchmark reports, and attaches the
   Spark jobs as child spans.

Exits 0 and prints ``selftest ok`` when both hold.
"""

from __future__ import annotations

import shutil
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import inputs as inputs_mod  # noqa: E402
import probes  # noqa: E402
import run  # noqa: E402

LAYER_SPANS = {
    "plans.construct",
    "spark.plan",
    "spark.execute",
    "sources.scan_csv",
    "tax.calculate_tax",
    "refund.analyze_overpayments",
    "nexus.check_nexus",
    "alerts.generate_alerts",
    "reports.tax_summary_report",
    "reports.refund_report",
    "reports.nexus_report",
    "reports.to_json",
    "reports.export_details",
    "stream.nexus_monitor",
    "stream.value_sketch",
    "spark.job",
}


def _counts(spark) -> tuple[int, int]:
    probes.drain_listener_bus(spark)
    jsc = spark.sparkContext._jsc.sc()
    jobs = jsc.statusStore().jobsList(None).size()
    execs = spark._jsparkSession.sharedState().statusStore().executionsCount()
    return jobs, execs


def main() -> int:
    work = run.ROOT / ".bench_work" / "selftest"
    cores = run._pin_environment(work)
    sys.path.insert(0, str(run.ROOT))
    from tax_compliance_engine_spark.dims import load_dims

    spark = run.open_session(work)
    errors: list[str] = []
    try:
        inp = inputs_mod.generate(0, work / "inputs")
        tracer = probes.Tracer()
        ctx = run.Ctx(spark, load_dims(spark), inp, work, tracer)
        runner = run.Runner(ctx, [], cores, 0)
        runner.progress = run.StreamProgress(spark)
        for workload in run.WORKLOADS:
            for op in run.build_ops(workload):
                wall, _ = runner.execute(op, traced=True)
                if wall is None:
                    errors.append(f"{op.name} failed: {runner.errors[-1]}")

        before = _counts(spark)
        for rec in runner.traced:
            probes.spark_stats(spark, tracer.spans[rec["span"]]["op"])
        after = _counts(spark)
        if after != before:
            errors.append(f"statistics reads added jobs/executions: {before} -> {after}")

        names = {s["name"] for s in tracer.spans if s["parent"] is not None}
        missing = LAYER_SPANS - names
        if missing:
            errors.append(f"no parented span for layers {sorted(missing)}")
        ids = {s["id"] for s in tracer.spans}
        orphans = [s for s in tracer.spans if s["parent"] is not None and s["parent"] not in ids]
        if orphans:
            errors.append(f"{len(orphans)} spans point at missing parents")
        if not any(rec["stream"] for rec in runner.traced):
            errors.append("no streaming progress events recorded")
    finally:
        probes.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    for e in errors:
        print(f"FAIL {e}")
    if errors:
        return 1
    print("selftest ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
