"""Measurement helpers, all taken from the benchmark's side of the
library boundary.

- ``ProcTree``: CPU seconds and peak PSS of this process and every
  descendant (the JVM, the pyspark daemon and its Python workers),
  read from ``/proc``.
- ``Tracer``: spans around calls into the library's public functions,
  py4j command counts (a counting wrapper on the gateway client's
  ``send_command``), and job/stage/SQL-node totals read from Spark's
  own status stores (``AppStatusStore`` and the SQL status store).
"""

from __future__ import annotations

import contextlib
import os
import re
import threading
import time
from collections import defaultdict

CLK_TCK = os.sysconf("SC_CLK_TCK")


def process_age_s() -> float:
    """Seconds since this process started (``/proc/self/stat`` starttime
    against ``/proc/uptime``, both counted from boot)."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return uptime - int(fields[19]) / CLK_TCK


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:  # the process ended while we looked
        return None


def tree_pids(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields is not None:
                children[int(fields[1])].append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


class ProcTree:
    """CPU and memory of the process tree rooted at this process. A
    background thread samples the summed PSS until ``stop``."""

    SAMPLE_INTERVAL_S = 0.5

    def __init__(self):
        self.root = os.getpid()
        self.peak_pss_kb = 0
        self.window_peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample, daemon=True)

    def cpu_s(self) -> float:
        """utime+stime+cutime+cstime summed over the live tree."""
        total = 0
        for pid in tree_pids(self.root):
            fields = _stat_fields(pid)
            if fields is not None:
                total += sum(int(x) for x in fields[11:15])
        return total / CLK_TCK

    def pss_kb(self) -> int:
        total = 0
        for pid in tree_pids(self.root):
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1])
                            break
            except OSError:
                pass
        return total

    def _sample(self) -> None:
        while not self._stop.is_set():
            self._record(self.pss_kb())
            self._stop.wait(self.SAMPLE_INTERVAL_S)

    def _record(self, kb: int) -> None:
        self.peak_pss_kb = max(self.peak_pss_kb, kb)
        self.window_peak_kb = max(self.window_peak_kb, kb)

    def start_window(self) -> None:
        """Start a new window for ``window_peak_mb`` (one timed unit)."""
        self.window_peak_kb = self.pss_kb()

    def window_peak_mb(self) -> float:
        self._record(self.pss_kb())
        return self.window_peak_kb / 1024

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self._record(self.pss_kb())


def host_probe_s() -> float:
    """Fixed pure-Python spin: its time flags a noisy neighbour."""
    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i
    return time.perf_counter() - t0


# ------------------------------------------------------------ SQL metrics

_UNITS = {
    "": 1.0, "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3,
    "TiB": 1024.0**4, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"^\s*([-\d,.]+)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A formatted SQL metric (``"100,000"``, ``"2.3 MiB"``, ``"183 ms"``
    or ``"total (min, med, max)\\n1.7 s (...)"``) as a number of rows,
    bytes or seconds."""
    line = text.rsplit("\n", 1)[-1]
    m = _VALUE.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


PYTHON_NODES = (
    "MapInPandas", "MapInArrow", "PythonMapInArrow", "ArrowEvalPython",
    "BatchEvalPython", "FlatMapGroupsInPandas", "FlatMapGroupsInArrow",
    "FlatMapCoGroupsInPandas", "AggregateInPandas", "ArrowWindowPython",
    "WindowInPandas",
)


def _seq(x) -> list:
    return [x.apply(i) for i in range(x.size())]


class Tracer:
    """Spans, py4j counts and status-store totals for one run.

    Spans are ``(name, start, end, parent, run_id)`` in memory; each
    also carries the py4j commands sent and the job ids submitted
    inside it. ``unit_totals`` turns the jobs and SQL executions that
    ran between two marks into per-layer totals."""

    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self.py4j_calls = 0
        self._counting = False
        self._client = self._sc._gateway._gateway_client
        self._send = self._client.send_command
        self._next_job = 0
        self._next_exec = 0

        def counted(*args, **kwargs):
            if self._counting:
                self.py4j_calls += 1
            return self._send(*args, **kwargs)

        self._client.send_command = counted

    def close(self) -> None:
        self._client.send_command = self._send

    @contextlib.contextmanager
    def _quiet(self):
        """Status-store reads are the tracer's own py4j traffic."""
        was, self._counting = self._counting, False
        try:
            yield
        finally:
            self._counting = was

    # ---------------------------------------------------------- ids

    def _drain_bus(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def next_job_id(self) -> int:
        """One past the highest job id the status store knows."""
        with self._quiet():
            self._drain_bus()
            while True:
                try:
                    self._store.job(self._next_job)
                except Exception:  # py4j error: no such job yet
                    return self._next_job
                self._next_job += 1

    def next_execution_id(self) -> int:
        with self._quiet():
            self._drain_bus()
            while self._sql.execution(self._next_exec).isDefined():
                self._next_exec += 1
            return self._next_exec

    def mark(self) -> dict:
        return {"job": self.next_job_id(), "exec": self.next_execution_id()}

    # -------------------------------------------------------- spans

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "parent": parent, "run_id": self.run_id}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        rec["job0"] = self.next_job_id()
        calls0, was = self.py4j_calls, self._counting
        self._counting = True
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._counting = was
            rec["py4j"] = self.py4j_calls - calls0
            rec["job1"] = self.next_job_id()
            self._stack.pop()

    def wrap(self, fn, name: str):
        """``fn`` with a span around every call."""

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def span_totals(self, first: int, prefix: str) -> dict[str, float]:
        """Seconds, py4j commands and jobs of spans named ``prefix*``
        recorded since span index ``first``."""
        out = {"s": 0.0, "py4j": 0, "jobs": 0}
        for rec in self.spans[first:]:
            if rec["name"].startswith(prefix):
                out["s"] += rec["end"] - rec["start"]
                out["py4j"] += rec["py4j"]
                out["jobs"] += rec["job1"] - rec["job0"]
        return out

    # -------------------------------------------------- status stores

    def unit_totals(self, before: dict, after: dict, state_dir: str | None = None) -> dict[str, float]:
        """Scheduler and per-layer SQL-node totals of the jobs and SQL
        executions between two ``mark``s."""
        t: dict[str, float] = defaultdict(float)
        with self._quiet():
            stage_ids = set()
            for jid in range(before["job"], after["job"]):
                t["spark.jobs"] += 1
                stage_ids.update(_seq(self._store.job(jid).stageIds()))
            for sid in stage_ids:
                try:
                    s = self._store.lastStageAttempt(sid)
                except Exception:  # never attempted (skipped)
                    continue
                if s.status().toString() not in ("COMPLETE", "FAILED"):
                    continue
                t["spark.stages"] += 1
                t["spark.tasks"] += s.numCompleteTasks() + s.numFailedTasks()
                t["spark.task_s"] += s.executorRunTime() / 1e3
                t["spark.task_cpu_s"] += s.executorCpuTime() / 1e9
                t["spark.gc_s"] += s.jvmGcTime() / 1e3
            for eid in range(before["exec"], after["exec"]):
                self._execution_totals(eid, t, state_dir)
        return dict(t)

    def _execution_totals(self, eid: int, t: dict, state_dir: str | None) -> None:
        opt = self._sql.execution(eid)
        if not opt.isDefined():
            return
        ex = opt.get()
        values = {
            kv._1(): kv._2() for kv in _seq(self._sql.executionMetrics(eid).toSeq())
        }
        graph = self._sql.planGraph(eid)
        is_write = False
        for node in _seq(graph.allNodes()):
            name = node.name()
            metrics = {
                m.name(): parse_metric(values.get(m.accumulatorId(), ""))
                for m in _seq(node.metrics())
            }
            if name.startswith("Scan "):
                t["sources.scan_s"] += metrics.get("scan time", 0.0)
                t["sources.scan_bytes"] += metrics.get("size of files read", 0.0)
                t["sources.files_read"] += metrics.get("number of files read", 0.0)
            elif name.startswith("WholeStageCodegen"):
                t["operators.codegen_s"] += metrics.get("duration", 0.0)
            elif name == "Exchange":
                t["operators.exchanges"] += 1
                t["operators.shuffle_write_bytes"] += metrics.get("shuffle bytes written", 0.0)
            elif "Join" in name:
                t["operators.join_rows_out"] += metrics.get("number of output rows", 0.0)
            elif name in PYTHON_NODES:
                t["llmdata.python_rows"] += metrics.get("number of output rows", 0.0)
                t["llmdata.python_bytes"] += metrics.get(
                    "data sent to Python workers", 0.0
                ) + metrics.get("data returned from Python workers", 0.0)
                t["llmdata.python_stage_s"] += sum(
                    metrics.get(f"time to {step} Python workers", 0.0)
                    for step in ("start", "initialize", "run")
                )
            elif name.startswith("Execute ") and "number of written files" in metrics:
                is_write = True
                t["sinks.files_written"] += metrics["number of written files"]
                t["sinks.bytes_written"] += metrics.get("written output", 0.0)
                t["sinks.commit_s"] += metrics.get("job commit time", 0.0) + metrics.get(
                    "task commit time", 0.0
                )
            t["operators.spill_bytes"] += metrics.get("spill size", 0.0)
        done = ex.completionTime()
        if is_write and done.isDefined():
            wall = (done.get().getTime() - ex.submissionTime()) / 1e3
            t["sinks.write_s"] += wall
            if state_dir and state_dir in ex.physicalPlanDescription():
                t["streaming.state_commit_s"] += wall
