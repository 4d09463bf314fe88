"""Benchmark of the tax-compliance engine: one workload per invocation.

    python3 perfbench/run.py --workload tax_report --seed 1 --seconds 10 --trace 0

Run from the repository root.  The run generates its inputs from the seed,
starts one Spark session at ``local[<nproc>]``, runs every operation of the
workload once cold (that output is checked), warms each one up until its
wall stops falling or WARMUP_CAP_S runs out, measures closed-loop rounds
for ``--seconds`` seconds, and prints one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json and
``--trace 1`` its per-layer metrics.  A traced run alternates traced and
untraced rounds, reports the difference as ``trace.overhead_ratio`` and
writes its spans as JSON lines under ``.bench_work/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback
from collections import defaultdict
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import inputs as inputs_mod  # noqa: E402
import ops  # noqa: E402
import probes  # noqa: E402

WORKLOADS = ("tax_report", "dedup_ann")
WARMUP_CAP_S = 2.0  # stop warming up after this long even if still falling


def _process_age_s() -> float:
    """Seconds since this process was started, from /proc."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def _python_loop_s() -> float:
    """Wall of a fixed pure-Python loop: how fast this machine runs
    single-threaded driver code at the moment, for comparing runs."""
    t = time.perf_counter()
    total = 0
    for i in range(2_000_000):
        total += i
    return time.perf_counter() - t


class Ctx:
    """What an operation needs: the session, dims, inputs, tracer and a
    per-run scratch directory."""

    def __init__(self, spark, dims, inputs, work: Path, tracer) -> None:
        self.spark = spark
        self.dims = dims
        self.inputs = inputs
        self.work = work
        self.tracer = tracer
        self._seq = 0

    def scratch(self, prefix: str) -> Path:
        self._seq += 1
        p = self.work / "scratch" / f"{prefix}-{self._seq}"
        p.mkdir(parents=True)
        return p


def _pin_environment(work: Path) -> int:
    """Fix what the run depends on: core count, local dirs, the Python
    path of the Spark workers, and temp dirs inside the checkout."""
    cpus = len(os.sched_getaffinity(0))
    for sub in ("spark-local", "tmp"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_SHUFFLE_PARTITIONS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    return cpus


def open_session(work: Path):
    """The engine's session factory, with scratch paths inside ``work``."""
    from tax_compliance_engine_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def build_ops(workload: str) -> list[ops.Op]:
    from tax_compliance_engine_spark.plans import queries as q
    from tax_compliance_engine_spark.plans import queries_dataops as qd

    if workload == "tax_report":
        return [
            *(ops.query_op(n, getattr(q, n)) for n in ops.TAX_QUERIES),
            ops.Op("compliance_report", "report", ops.compliance_report),
            ops.Op("stream_drain", "drain", ops.stream_drain),
        ]
    return [ops.query_op(n, getattr(qd, n)) for n in ops.ANN_QUERIES]


def load_dims_materialized(spark):
    """The session's dims, built and materialized in the cache."""
    from tax_compliance_engine_spark.dims import load_dims

    d = load_dims(spark)
    for f in d.__dataclass_fields__:
        getattr(d, f).count()
    return d


class StreamProgress:
    """Collects streaming progress events through a StreamingQueryListener."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        events = self.events = []

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                events.append(
                    {
                        "rows": p.numInputRows,
                        "duration_ms": dict(p.durationMs),
                        "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                        "state_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
                    }
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(_L())


class Runner:
    def __init__(self, ctx: Ctx, op_list: list[ops.Op], cores: int, seed: int) -> None:
        self.ctx = ctx
        self.ops = op_list
        self.cores = cores
        self.rng = random.Random(seed)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.progress: StreamProgress | None = None
        self.traced: list[dict] = []  # one record per traced execution

    def execute(self, op: ops.Op, check: bool = False, traced: bool = False):
        """Run one operation; returns (wall, result).  A failure is
        counted and returns (None, None)."""
        ctx, tracer = self.ctx, self.ctx.tracer
        self.attempted += 1
        group = f"op-{self.attempted}"
        sc = ctx.spark.sparkContext
        tracer.enabled = traced
        n_events = len(self.progress.events) if self.progress else 0
        if traced:
            sc.setJobGroup(group, group)
            tracer.op = group
        span_id = len(tracer.spans)
        t = time.perf_counter()
        try:
            with tracer.span(op.name):
                result = op.run(ctx, check)
        except Exception:  # noqa: BLE001 - a failed operation is a measurement
            self.failed += 1
            self.errors.append(f"{op.name}: {traceback.format_exc(limit=3)}")
            return None, None
        finally:
            tracer.enabled = False
        wall = time.perf_counter() - t
        if traced:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            stats = probes.spark_stats(ctx.spark, group)
            tracer.add_jobs(span_id, stats.jobs)
            self.traced.append(
                {
                    "op": op,
                    "wall": wall,
                    "span": span_id,
                    "stats": stats,
                    "result": result,
                    "stream": self.progress.events[n_events:] if self.progress else [],
                }
            )
        return wall, result

    def cold_round(self) -> dict:
        """First execution of every operation right after set-up.  Its
        outputs feed the correctness gate."""
        self.hist: dict[str, list[float]] = defaultdict(list)
        results = {}
        for op in self.ops:
            wall, result = self.execute(op, check=True)
            if wall is not None:
                self.hist[op.name].append(wall)
                results[op.name] = result
        return results

    def warm_up(self) -> dict:
        """Repeat each operation until its wall stops falling by more than
        a tenth, for at most WARMUP_CAP_S."""
        hist = self.hist
        t0 = time.perf_counter()
        pending = [op for op in self.ops if op.name in hist]
        while pending and time.perf_counter() - t0 < WARMUP_CAP_S:
            for op in list(pending):
                if time.perf_counter() - t0 >= WARMUP_CAP_S:
                    break
                wall, _ = self.execute(op)
                h = hist[op.name]
                if wall is None:
                    pending.remove(op)
                    continue
                h.append(wall)
                if h[-1] >= 0.9 * h[-2]:
                    pending.remove(op)
        return {
            "first_run_s": sum(h[0] for h in hist.values()),
            "runs": sum(len(h) for h in hist.values()),
            "s": time.perf_counter() - t0,
            "steady": not pending,
            "history": {n: [round(x, 3) for x in h] for n, h in hist.items()},
        }

    def check(self, results: dict, checks) -> None:
        for op in self.ops:
            if op.name in results:
                for err in checks(op, results[op.name]):
                    self.failed += 1
                    self.errors.append(err)

    def measure(self, seconds: float, trace: bool) -> tuple[dict, dict]:
        """Closed-loop rounds, each operation once per round in a seeded
        order, until ``seconds`` have passed and every operation has run
        (in a traced run, until both a traced and an untraced round have
        run; traced and untraced rounds alternate).  Returns the walls and
        the CPU seconds of this process tree, per operation and mode."""
        walls: dict[str, dict[bool, list[float]]] = defaultdict(lambda: {True: [], False: []})
        cpus: dict[str, dict[bool, list[float]]] = defaultdict(lambda: {True: [], False: []})
        ran: set[tuple[str, bool]] = set()  # failed executions count as run
        t0 = time.perf_counter()
        rounds = 0
        while True:
            traced = trace and rounds % 2 == 0
            order = list(self.ops)
            self.rng.shuffle(order)
            for op in order:
                c0 = probes.tree_cpu_s()
                wall, _ = self.execute(op, traced=traced)
                ran.add((op.name, traced))
                if wall is not None:
                    walls[op.name][traced].append(wall)
                    cpus[op.name][traced].append(probes.tree_cpu_s() - c0)
                kinds = (True, False) if trace else (False,)
                covered = all((o.name, k) in ran for o in self.ops for k in kinds)
                if time.perf_counter() - t0 >= seconds and covered:
                    return walls, cpus
            rounds += 1


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def warm_round(walls, cpus) -> tuple[float, float]:
    """One round built from each operation's median: the wall a user
    running every operation of the workload once waits, and the CPU it
    costs in the driver, JVM and workers.

    Only the CPU is an end-to-end metric.  On a shared host the wall also
    counts the time the hypervisor gives the cores to other machines
    (steal), which swings from run to run by more than the bound a
    regression check can use; the CPU a round burns swings far less.  The
    wall is reported per layer as ``warm.round_s``."""
    return (
        sum(_median(w[False]) for w in walls.values()),
        sum(_median(c[False]) for c in cpus.values()),
    )


_SPAN_METRICS = {
    "plans.construct": "plans.construct_s",
    "spark.plan": "spark.plan_s",
    "spark.execute": "spark.execute_s",
    "sources.scan_csv": "sources.scan_csv_s",
    "tax.calculate_tax": "tax.calculate_tax_s",
    "refund.analyze_overpayments": "refund.analyze_overpayments_s",
    "nexus.check_nexus": "nexus.check_nexus_s",
    "alerts.generate_alerts": "alerts.generate_alerts_s",
    "reports.tax_summary_report": "reports.tax_summary_report_s",
    "reports.refund_report": "reports.refund_report_s",
    "reports.nexus_report": "reports.nexus_report_s",
    "reports.to_json": "reports.to_json_s",
    "reports.export_details": "reports.export_details_s",
}


def per_layer(runner: Runner, walls, extra: dict) -> dict:
    """Per-layer figures from the traced executions: each is the mean, over
    the executions that reach the layer, of that execution's total."""
    spans = runner.ctx.tracer.spans
    m: dict[str, float] = dict.fromkeys(_SPAN_METRICS.values(), 0.0)
    by_metric: dict[str, list[float]] = defaultdict(list)
    q_rows: dict[str, dict[str, list[float]]] = defaultdict(lambda: defaultdict(list))
    spark_sums: dict[str, list[float]] = defaultdict(list)
    busy_run, busy_window = 0.0, 0.0
    report_self, report_rows, report_bytes = [], [], []
    stream = defaultdict(list)
    for rec in runner.traced:
        op, stats = rec["op"], rec["stats"]
        own = [s for s in spans if s["op"] == spans[rec["span"]]["op"] and s["name"] != "spark.job"]
        per_name: dict[str, float] = defaultdict(float)
        for s in own:
            per_name[s["name"]] += s["end"] - s["start"]
        for name, metric in _SPAN_METRICS.items():
            if name in per_name:
                by_metric[metric].append(per_name[name])
        window = next((s for s in own if s["name"] == "spark.execute"), spans[rec["span"]])
        gap = probes.uncovered_s(window["start"], window["end"], stats.jobs)
        for key, val in (
            ("spark.jobs", len(stats.jobs)),
            ("spark.stages", stats.stages),
            ("spark.tasks", stats.tasks),
            ("spark.executor_run_s", stats.executor_run_s),
            ("spark.shuffle_read_bytes", stats.shuffle_read_bytes),
            ("spark.shuffle_write_bytes", stats.shuffle_write_bytes),
            ("spark.spill_bytes", stats.spill_bytes),
            ("spark.broadcasts", stats.broadcasts),
            ("spark.driver_gap_s", gap),
        ):
            spark_sums[key].append(val)
        busy_run += stats.executor_run_s
        busy_window += window["end"] - window["start"]
        if op.kind == "query":
            qr = q_rows[op.name]
            qr["construct_s"].append(per_name["plans.construct"])
            qr["plan_s"].append(per_name["spark.plan"])
            qr["execute_s"].append(per_name["spark.execute"])
            qr["jobs"].append(len(stats.jobs))
        elif op.kind == "report":
            report_self.append(
                sum(
                    probes.uncovered_s(s["start"], s["end"], stats.jobs)
                    for s in own
                    if s["name"].startswith("reports.")
                )
            )
            report_rows.append(rec["result"].driver_rows)
            report_bytes.append(rec["result"].bytes_written)
        elif op.kind == "drain":
            ev = rec["stream"]
            stream["stream.batches"].append(len(ev))
            stream["stream.add_batch_s"].append(
                sum(e["duration_ms"].get("addBatch", 0) for e in ev) / 1e3
            )
            stream["stream.wal_commit_s"].append(
                sum(e["duration_ms"].get("walCommit", 0) for e in ev) / 1e3
            )
            stream["stream.batch_p50_s"].append(
                _median([e["duration_ms"].get("triggerExecution", 0) / 1e3 for e in ev])
            )
            stream["stream.state_rows"].append(max((e["state_rows"] for e in ev), default=0))
            stream["stream.state_bytes"].append(max((e["state_bytes"] for e in ev), default=0))
            stream["stream.sink_bytes_written"].append(rec["result"].sink_bytes)
    for metric, vals in by_metric.items():
        m[metric] = _mean(vals)
    for key in (
        "spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_s",
        "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
        "spark.spill_bytes", "spark.broadcasts", "spark.driver_gap_s",
    ):
        m[key] = _mean(spark_sums[key])
    m["spark.core_busy_ratio"] = (
        busy_run / (busy_window * runner.cores) if busy_window else 0.0
    )
    m["reports.self_s"] = _mean(report_self)
    m["reports.driver_rows"] = _mean(report_rows)
    m["reports.bytes_written"] = _mean(report_bytes)
    for key in (
        "stream.batches", "stream.add_batch_s", "stream.wal_commit_s",
        "stream.batch_p50_s", "stream.state_rows", "stream.state_bytes",
        "stream.sink_bytes_written",
    ):
        m[key] = _mean(stream[key])
    for name in ops.TAX_QUERIES + ops.ANN_QUERIES:
        for field in ("construct_s", "plan_s", "execute_s", "jobs"):
            m[f"query.{name}.{field}"] = _mean(q_rows[name][field]) if name in q_rows else 0.0
    med = {n: {k: _median(v) for k, v in w.items()} for n, w in walls.items()}
    traced_sum = sum(w[True] for w in med.values())
    untraced_sum = sum(w[False] for w in med.values())
    m["trace.overhead_ratio"] = traced_sum / untraced_sum - 1 if untraced_sum else 0.0
    m.update(extra)
    return m


def _spec() -> dict:
    with open(ROOT / "BENCHMARK.json") as fh:
        return json.load(fh)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    t0_process = time.perf_counter() - _process_age_s()
    spec = _spec()
    if not (ROOT / "tax_compliance_engine_spark" / "session.py").is_file():
        print("error: run from a checkout of the engine", file=sys.stderr)
        return 2

    work = ROOT / ".bench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    loadavg = os.getloadavg()[0]  # before our own JVM adds load
    cores = _pin_environment(work)
    sys.path.insert(0, str(ROOT))
    rss = probes.RssSampler()
    rss.start()

    import pyspark

    t_open = time.perf_counter()
    spark = open_session(work)
    t_session = time.perf_counter()
    try:
        dims = load_dims_materialized(spark)
        t_dims = time.perf_counter()
        setup_s = t_dims - t0_process
        canary_s = _python_loop_s()

        phases = {"to_session": t_session - t0_process, "dims": t_dims - t_session}
        t = time.perf_counter()
        inp = inputs_mod.generate(args.seed, work / "inputs")
        phases["inputs"] = time.perf_counter() - t
        tracer = probes.Tracer()
        ctx = Ctx(spark, dims, inp, work, tracer)
        runner = Runner(ctx, build_ops(args.workload), cores, args.seed)
        if args.trace:
            runner.progress = StreamProgress(spark)

        digests: list[str] = []

        def checks(op: ops.Op, result) -> list[str]:
            if op.kind == "query":
                return oracle.check(op.name, result)
            if op.kind == "report":
                digests.append(result.digest)
                return ops.check_report(ctx, result)
            return ops.check_drain(ctx, result)

        t = time.perf_counter()
        cold = runner.cold_round()
        phases["cold"] = time.perf_counter() - t
        # the DuckDB twins run while the warm-up does
        oracle = ops.Oracle(
            inp.data_dir, [op.name for op in runner.ops if op.kind == "query"]
        )
        warm = runner.warm_up()
        t = time.perf_counter()
        runner.check(cold, checks)
        oracle.close()
        phases["check"] = time.perf_counter() - t
        cpu0 = probes.cpu_totals()
        t_measure = time.perf_counter()
        walls, cpus = runner.measure(args.seconds, bool(args.trace))
        measured = time.perf_counter() - t_measure
        cpu1 = probes.cpu_totals()
        # the report of one seed must be byte-stable across runs
        if digests:
            stamp = ROOT / ".bench_work" / "digests" / f"{args.seed}.txt"
            stamp.parent.mkdir(parents=True, exist_ok=True)
            if stamp.exists() and stamp.read_text() != digests[0]:
                runner.failed += 1
                runner.errors.append("report digest differs from an earlier run of this seed")
            stamp.write_text(digests[0])
    finally:
        t_stop = time.perf_counter()
        probes.stop_spark(spark)
        rss.stop()
        shutil.rmtree(work, ignore_errors=True)

    external_cores = max(0.0, (cpu1[0] - cpu0[0]) - (cpu1[1] - cpu0[1])) / measured
    steal_cores = (cpu1[2] - cpu0[2]) / measured
    round_s, round_cpu_s = warm_round(walls, cpus)
    env = {
        "nproc": cores,
        "pyspark": pyspark.__version__,
        "loadavg_1m": loadavg,
        "python_loop_s": canary_s,
        "external_cores": external_cores,
        "steal_cores": steal_cores,
        "warmup_steady": warm["steady"],
        "phases": {k: round(v, 2) for k, v in {**phases, "warm": warm["s"], "measure": measured, "stop": time.perf_counter() - t_stop}.items()},
        "warmup_history": warm["history"],
        "round": [round(round_s, 3), round(round_cpu_s, 3)],
        "walls": {n: [round(x, 3) for x in w[False]] for n, w in walls.items()},
        "cpus": {n: [round(x, 3) for x in c[False]] for n, c in cpus.items()},
    }
    print(f"environment: {json.dumps(env)}", file=sys.stderr)
    for err in runner.errors:
        print(f"failure: {err}", file=sys.stderr)

    if args.trace:
        values = per_layer(
            runner,
            walls,
            {
                "session.get_spark_s": t_session - t_open,
                "dims.load_dims_s": t_dims - t_session,
                "warmup.first_run_s": warm["first_run_s"],
                "warmup.runs": warm["runs"],
                "warmup.s": warm["s"],
                "sources.rows_in": inp.csv_rows if args.workload == "tax_report" else 0,
                "sources.rejects": inp.csv_malformed if args.workload == "tax_report" else 0,
                "sources.reject_ratio": (
                    inp.csv_malformed / inp.csv_rows if args.workload == "tax_report" else 0.0
                ),
                "env.loadavg_1m": loadavg,
                "env.python_loop_s": canary_s,
                "env.external_cores": external_cores,
                "env.steal_cores": steal_cores,
                "process.peak_rss_mb": rss.peak / 2**20,
                "warm.round_s": round_s,
            },
        )
        trace_dir = ROOT / ".bench_work" / "traces"
        trace_dir.mkdir(parents=True, exist_ok=True)
        with open(trace_dir / f"{args.workload}-{args.seed}.jsonl", "w") as fh:
            fh.write(json.dumps({"environment": env}) + "\n")
            for s in tracer.spans:
                fh.write(json.dumps(s) + "\n")
        wanted = spec["per_layer"]
    else:
        values = {"setup_s": setup_s, "round_cpu_s": round_cpu_s}
        wanted = spec["end_to_end"]

    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    print(
        json.dumps(
            {
                "correct": runner.failed == 0,
                "attempted": runner.attempted,
                "failed": runner.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
