"""Measurement probes: spans, Spark statistics and process statistics.

Everything here observes the engine from outside.  Spark figures are read
after an operation from the status store and the SQL execution store, which
answer from the driver's in-memory listener state and submit no Spark job.
"""

from __future__ import annotations

import contextlib
import os
import re
import threading
import time
from dataclasses import dataclass, field


class Tracer:
    """In-memory spans: name, start, end, parent and operation id.

    Times are ``time.time()`` seconds so that Spark job spans, which the
    status store reports in epoch milliseconds, share the same clock."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: str | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def add_jobs(self, op_span: int, jobs: list["Job"]) -> None:
        """Attach Spark jobs as child spans of the innermost span of the
        operation that was open when each job was submitted."""
        own = [
            s for s in self.spans
            if s["op"] == self.spans[op_span]["op"] and s["id"] >= op_span
        ]
        for j in jobs:
            parent = op_span
            for s in own:
                if s["start"] <= j.start <= (s["end"] or j.start):
                    parent = s["id"]  # later spans are deeper or later
            self.spans.append(
                {
                    "id": len(self.spans),
                    "name": "spark.job",
                    "start": j.start,
                    "end": j.end,
                    "parent": parent,
                    "op": self.spans[op_span]["op"],
                    "job_id": j.job_id,
                }
            )


@dataclass
class Job:
    job_id: int
    start: float
    end: float


@dataclass
class SparkStats:
    jobs: list[Job] = field(default_factory=list)
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    broadcasts: int = 0


def drain_listener_bus(spark) -> None:
    """Block until the driver's listener bus has delivered every event, so
    the status stores reflect all jobs that have ended."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


_FINAL_PLAN = re.compile(r"== Final Plan ==(.*?)(== Initial Plan ==|\Z)", re.S)


def _final_broadcasts(plan_text: str) -> int:
    """BroadcastExchange nodes in the final (post-AQE) plan tree."""
    m = _FINAL_PLAN.search(plan_text)
    tree = m.group(1) if m else plan_text.split("\n\n", 1)[0]
    return len(re.findall(r"BroadcastExchange", tree))


def spark_stats(spark, group: str) -> SparkStats:
    """Jobs, stages, tasks, executor time, shuffle, spill and final-plan
    broadcasts of every job run under ``group``."""
    drain_listener_bus(spark)
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    out = SparkStats()
    for jid in sorted(sc.statusTracker().getJobIdsForGroup(group)):
        jd = store.job(jid)
        start = jd.submissionTime()
        end = jd.completionTime()
        if start.isDefined() and end.isDefined():
            out.jobs.append(
                Job(jid, start.get().getTime() / 1e3, end.get().getTime() / 1e3)
            )
        sids = jd.stageIds()
        for k in range(sids.size()):
            sd = store.lastStageAttempt(sids.apply(k))
            if sd.status().toString() == "SKIPPED":
                continue
            out.stages += 1
            out.tasks += sd.numCompleteTasks()
            out.executor_run_s += sd.executorRunTime() / 1e3
            out.shuffle_read_bytes += sd.shuffleReadBytes()
            out.shuffle_write_bytes += sd.shuffleWriteBytes()
            out.spill_bytes += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    for k in range(execs.size()):
        ex = execs.apply(k)
        if ex.description() == group:
            out.broadcasts += _final_broadcasts(ex.physicalPlanDescription())
    return out


def uncovered_s(start: float, end: float, jobs: list[Job]) -> float:
    """Part of [start, end] during which no Spark job was running."""
    covered, cursor = 0.0, start
    for j in sorted(jobs, key=lambda j: j.start):
        lo, hi = max(j.start, cursor), min(j.end, end)
        if hi > lo:
            covered += hi - lo
            cursor = hi
    return max(0.0, (end - start) - covered)


# ── process statistics ───────────────────────────────────────────────

_HZ = float(os.sysconf("SC_CLK_TCK"))


def _proc_table() -> dict[int, tuple[int, float, int]]:
    """pid → (ppid, cpu seconds incl. reaped children, rss bytes)."""
    page = os.sysconf("SC_PAGE_SIZE")
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
            # post-comm fields: [1]=ppid [11..14]=utime stime cutime cstime
            # [21]=rss pages
            table[int(name)] = (
                int(f[1]),
                sum(int(x) for x in f[11:15]) / _HZ,
                int(f[21]) * page,
            )
        except (OSError, ValueError, IndexError):
            continue
    return table


def descendants(table: dict, root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def cpu_totals() -> tuple[float, float, float]:
    """(busy CPU seconds of the machine, CPU seconds of this process tree,
    CPU seconds stolen by the hypervisor).  Busy minus ours over an
    interval is CPU used by other processes; steal is CPU the virtual
    machine wanted but did not get.  Reaped children are counted through
    cutime/cstime of their parent."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:11]]
    busy = (sum(vals[:8]) - vals[3] - vals[4] - vals[7]) / _HZ
    return busy, tree_cpu_s(), vals[7] / _HZ


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and all its descendants."""
    table = _proc_table()
    return sum(table[p][1] for p in descendants(table) if p in table)


class RssSampler(threading.Thread):
    """Peak of the summed RSS of this process and all its descendants (the
    driver JVM and the Python workers), sampled every ``period`` seconds."""

    def __init__(self, period: float = 0.25) -> None:
        super().__init__(daemon=True)
        self.period = period
        self.peak = 0
        self._halt = threading.Event()

    def sample(self) -> None:
        table = _proc_table()
        rss = sum(table[p][2] for p in descendants(table) if p in table)
        self.peak = max(self.peak, rss)

    def run(self) -> None:
        while not self._halt.wait(self.period):
            self.sample()

    def stop(self) -> None:
        self._halt.set()
        self.join()
        self.sample()


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session and the JVM it launched, then wait until every
    process this one started has exited."""
    from pyspark import SparkContext

    before = set(descendants(_proc_table())) - {os.getpid()}
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(timeout=timeout)
        except Exception:  # noqa: BLE001 - escalate on any wait failure
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        alive = [p for p in before if os.path.exists(f"/proc/{p}")]
        alive = [p for p in alive if _state(p) not in ("Z", "X", None)]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        with contextlib.suppress(OSError):
            os.kill(p, 9)


def _state(pid: int) -> str | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return None
