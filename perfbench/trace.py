"""Spans, process memory and Spark layer counters for the benchmark.

Everything here observes the engine from outside: spans wrap the
benchmark's own calls into the engine's public functions, and the Spark
counters are read after the fact from the driver's status stores (jobs
and stages from ``AppStatusStore``, Python-worker SQL metrics from
``SQLAppStatusStore``), never from the UI REST endpoint.
"""

from __future__ import annotations

import os
import re
import threading
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing.

    A span is ``{name, start, end, parent, pass_id}`` with times in
    seconds since the tracer was created and ``parent`` the index of the
    enclosing span (``None`` at top level).
    """

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.monotonic()
        self.pass_id: str | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        self.spans.append(
            {
                "name": name,
                "start": time.monotonic() - self._t0,
                "end": None,
                "parent": self._stack[-1] if self._stack else None,
                "pass_id": self.pass_id,
            }
        )
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.monotonic() - self._t0

    def total(self, name: str, pass_id: str) -> float:
        """Summed duration of the spans called ``name`` in one pass."""
        return sum(
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and s["pass_id"] == pass_id
        )


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants, from /proc."""
    kids = _children()
    todo, total = [root], 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except OSError:
            pass
    return total


class PeakRss:
    """Samples the resident memory of this process tree (the Python
    driver, the JVM it launched and the JVM's Python workers) on a
    background thread; ``peak`` is the largest sum seen."""

    def __init__(self, interval_s: float = 0.1) -> None:
        self.peak = 0
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self._stop.wait(self._interval)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


# -- Spark counters ---------------------------------------------------------

_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
}
_QUANTITY = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)")

# SQL metric name -> per-layer metric (seconds for timings, bytes for sizes)
PYTHON_SQL_METRICS = {
    "time to run Python workers": "python.run_s",
    "time to start Python workers": "python.start_s",
    "time to initialize Python workers": "python.init_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
}


def parse_sql_metric(text: str) -> float:
    """Value of a formatted SQL metric ("2.5 s", "302.3 KiB", or the
    "total (min, med, max ...)" two-line form, whose total comes first
    on the second line)."""
    line = text.strip().split("\n")[-1]
    m = _QUANTITY.search(line)
    if m is None or m.group(2) not in _UNITS:
        raise ValueError(f"unparsed SQL metric value: {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]


def _seq(scala_seq) -> list:
    it, out = scala_seq.iterator(), []
    while it.hasNext():
        out.append(it.next())
    return out


def drain_listener_bus(spark) -> None:
    """Block until the status stores have seen every finished job."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def tagged_job_ids(spark, tag: str) -> set[int]:
    store = spark.sparkContext._jsc.sc().statusStore()
    return {
        j.jobId()
        for j in _seq(store.jobsList(None))
        if j.jobTags().contains(tag)
    }


def exec_counters(spark, tag: str) -> dict[str, float]:
    """Job, stage and task counters of every job run under ``tag``.

    Call ``drain_listener_bus`` first."""
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = [j for j in _seq(store.jobsList(None)) if j.jobTags().contains(tag)]
    stage_ids = sorted({int(s) for j in jobs for s in _seq(j.stageIds())})
    out = {
        "exec.jobs": float(len(jobs)),
        "exec.stages": 0.0,
        "exec.tasks": 0.0,
        "exec.run_s": 0.0,
        "exec.cpu_s": 0.0,
        "exec.gc_s": 0.0,
        "exec.input_bytes": 0.0,
        "exec.shuffle_read_bytes": 0.0,
        "exec.shuffle_write_bytes": 0.0,
        "exec.spill_bytes": 0.0,
        "exec.output_bytes": 0.0,
    }
    for sid in stage_ids:
        # stages skipped because their shuffle output was reused never ran
        for st in _seq(store.stageData(sid, False, None, False, None)):
            if st.status().toString() == "SKIPPED":
                continue
            out["exec.stages"] += 1
            out["exec.tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            out["exec.run_s"] += st.executorRunTime() / 1e3
            out["exec.cpu_s"] += st.executorCpuTime() / 1e9
            out["exec.gc_s"] += st.jvmGcTime() / 1e3
            out["exec.input_bytes"] += st.inputBytes()
            out["exec.shuffle_read_bytes"] += (
                st.shuffleLocalBytesRead() + st.shuffleRemoteBytesRead()
            )
            out["exec.shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["exec.spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            out["exec.output_bytes"] += st.outputBytes()
    return out


def python_counters(spark, job_ids: set[int]) -> dict[str, float]:
    """Python-worker SQL metrics summed over the SQL executions that ran
    any of ``job_ids`` (MapInPandas, FlatMap(Co)GroupsInPandas,
    ArrowEvalPython and the other Python exec nodes)."""
    out = {name: 0.0 for name in PYTHON_SQL_METRICS.values()}
    sql = spark._jsparkSession.sharedState().statusStore()
    for ex in _seq(sql.executionsList()):
        ex_jobs = {int(j) for j in _seq(ex.jobs().keys().toSeq())}
        if not ex_jobs & job_ids:
            continue
        names = {
            m.accumulatorId(): PYTHON_SQL_METRICS[m.name()]
            for m in _seq(ex.metrics())
            if m.name() in PYTHON_SQL_METRICS
        }
        if not names:
            continue
        values = sql.executionMetrics(ex.executionId())
        for acc_id, metric in names.items():
            text = values.get(acc_id)
            if text.isDefined():
                out[metric] += parse_sql_metric(text.get())
    return out


def catalyst_phases(df) -> dict[str, float]:
    """Analysis, optimization and planning seconds of ``df``'s own
    QueryExecution, after forcing its physical plan."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        summary = phases.get(phase)
        out[f"catalyst.{phase}_s"] = (
            summary.get().durationMs() / 1e3 if summary.isDefined() else 0.0
        )
    return out


def cache_counters(spark) -> dict[str, float]:
    """RDDs the session has persisted, and the bytes they hold."""
    sc = spark.sparkContext._jsc.sc()
    rdds = _seq(sc.statusStore().rddList(True))
    return {
        "cache.persisted_rdds": float(sc.getPersistentRDDs().size()),
        "cache.storage_bytes": float(
            sum(r.memoryUsed() + r.diskUsed() for r in rdds)
        ),
    }
