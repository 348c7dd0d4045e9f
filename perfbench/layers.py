"""Measurement helpers: /proc sampling, Spark status-store readouts, the
kernel replay and the span recorder.

Everything here observes the program from outside: it reads /proc, the
driver's status stores (which Spark keeps whether or not the UI is on), and
times calls into package modules. Nothing is patched into the program.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from collections import defaultdict
from pathlib import Path

PAGE = os.sysconf("SC_PAGE_SIZE")
CLK_TCK = os.sysconf("SC_CLK_TCK")

# payload kinds the generator emits (image fans out to its format,
# pdf_b64 partly to pdf_encrypted); one kernel.<kind>.us_per_row each
KERNEL_KINDS = (
    "html", "pdf_text", "pdf", "markdown", "plain", "json", "binary_stub",
    "unsupported_ext", "docx", "xlsx", "pptx", "text_b64", "csv", "xml",
    "adoc", "doc", "docx_b64", "xlsx_b64", "pptx_b64", "pdf_b64",
    "pdf_encrypted", "png", "jpeg", "bmp", "webp", "tiff",
)

# ArrowEvalPython SQL metric -> (layer metric, unit scale already applied)
UDF_METRICS = {
    "time to run Python workers": "udf.python_total_s",
    "time to start Python workers": "udf.python_boot_s",
    "time to initialize Python workers": "udf.python_init_s",
    "data sent to Python workers": "udf.data_sent_bytes",
    "data returned from Python workers": "udf.data_received_bytes",
    "number of output rows": "udf.rows_received",
}
_SCALE = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


# -- /proc ------------------------------------------------------------------


def _proc_table() -> tuple[dict[int, list[int]], dict[int, tuple[str, int, int]]]:
    """Children by parent, and (name, RSS bytes, CPU ticks) by pid. The CPU
    ticks are user + system time plus that of reaped children."""
    children: dict[int, list[int]] = defaultdict(list)
    procs: dict[int, tuple[str, int, int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                data = f.read()
        except OSError:  # exited while we listed
            continue
        cut = data.rfind(b")")
        fields = data[cut + 2 :].split()
        children[int(fields[1])].append(int(name))
        procs[int(name)] = (
            data[data.find(b"(") + 1 : cut].decode(errors="replace"),
            int(fields[21]) * PAGE,
            sum(int(x) for x in fields[11:15]),
        )
    return children, procs


def _subtree(children: dict[int, list[int]], root: int) -> list[int]:
    found, stack = [], [root]
    while stack:
        p = stack.pop()
        found.append(p)
        stack.extend(children.get(p, ()))
    return found


def tree_rss_bytes(root: int) -> dict[str, int]:
    """RSS of ``root`` and all its descendants (driver Python, the JVM it
    launched, the Python worker daemon and its workers), by process name.
    Only ``java`` and ``python*`` processes count: a JVM child between fork
    and exec carries a JVM thread's name and shares the JVM's pages, and
    counting it would add the JVM twice."""
    children, procs = _proc_table()
    total: dict[str, int] = defaultdict(int)
    for p in _subtree(children, root):
        name, rss, _ = procs.get(p, ("", 0, 0))
        if name == "java" or name.startswith("python"):
            total[name] += rss
    return total


def tree_cpu_s(root: int) -> float:
    """CPU seconds of ``root`` and all its descendants, the reaped ones
    included. Unlike wall time, it leaves out time the host's hypervisor
    gave to other guests (CPU steal)."""
    children, procs = _proc_table()
    return sum(procs.get(p, ("", 0, 0))[2] for p in _subtree(children, root)) / CLK_TCK


def thread_cpu_s(tid: int) -> float:
    with open(f"/proc/self/task/{tid}/stat", "rb") as f:
        data = f.read()
    fields = data[data.rfind(b")") + 2 :].split()
    return (int(fields[11]) + int(fields[12])) / CLK_TCK


def descendants(root: int) -> set[int]:
    children, _ = _proc_table()
    return set(_subtree(children, root)) - {root}


class RssSampler:
    """Background thread keeping the peak process-tree RSS while active."""

    def __init__(self, root: int, period: float = 0.1):
        self.root, self.period = root, period
        self.peak = 0
        self.peak_by_name: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def program_cpu_s(self) -> float:
        """CPU seconds of the process tree, less this sampler's own."""
        return tree_cpu_s(self.root) - thread_cpu_s(self._thread.native_id)

    def _loop(self) -> None:
        while not self._stop.is_set():
            by_name = tree_rss_bytes(self.root)
            if sum(by_name.values()) > self.peak:
                self.peak, self.peak_by_name = sum(by_name.values()), by_name
            self._stop.wait(self.period)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


class HostWindow:
    """CPU steal seconds and 1-minute load over one pass (diagnostics only)."""

    @staticmethod
    def _steal() -> float:
        with open("/proc/stat") as f:
            cpu = f.readline().split()
        return int(cpu[8]) / CLK_TCK if len(cpu) > 8 else 0.0

    def __enter__(self) -> "HostWindow":
        self._s0 = self._steal()
        return self

    def __exit__(self, *exc) -> None:
        self.steal_s = self._steal() - self._s0
        with open("/proc/loadavg") as f:
            self.load1 = float(f.read().split()[0])


# -- Spark status stores ------------------------------------------------------


def _metric_value(text: str) -> float:
    """Parse a formatted SQL metric ('3,099', '7 ms', or
    'total (...)\\n1358.5 KiB (...)') into base units."""
    tok = text.strip().split("\n")[-1].split(" (")[0].split()
    num = float(tok[0].replace(",", ""))
    return num * _SCALE[tok[1]] if len(tok) > 1 else num


def group_metrics(spark, group: str, run_s: float, cores: int) -> dict[str, float]:
    """Stage- and SQL-level metrics of every job run under job group
    ``group``: executor time, CPU, GC, shuffle, spill, task skew in the
    heaviest stage, and the ArrowEvalPython boundary metrics."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs = set(tracker.getJobIdsForGroup(group))
    stage_ids = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(int(s) for s in info.stageIds)
    m = defaultdict(float)
    heaviest = (-1, None)
    for s in stage_ids:
        attempts = store.stageData(s, False, None, False, None)
        for k in range(attempts.size()):
            d = attempts.apply(k)
            if d.numCompleteTasks() == 0:  # skipped: its shuffle output was reused
                continue
            m["exec.stages"] += 1
            m["exec.tasks"] += d.numCompleteTasks()
            m["exec.run_s"] += d.executorRunTime() / 1e3
            m["exec.cpu_s"] += d.executorCpuTime() / 1e9
            m["exec.gc_s"] += d.jvmGcTime() / 1e3
            m["shuffle.write_bytes"] += d.shuffleWriteBytes()
            m["shuffle.read_bytes"] += d.shuffleReadBytes()
            m["spill.bytes"] += d.memoryBytesSpilled() + d.diskBytesSpilled()
            if d.executorRunTime() > heaviest[0]:
                heaviest = (d.executorRunTime(), (s, d.attemptId()))
    if heaviest[1] is not None:
        tasks = store.taskList(heaviest[1][0], heaviest[1][1], 1 << 30)
        dur = [tasks.apply(i).duration().get() for i in range(tasks.size()) if tasks.apply(i).duration().isDefined()]
        if dur and statistics.median(dur) > 0:
            m["task.skew"] = max(dur) / statistics.median(dur)
    m["exec.jobs"] = len(jobs)
    m["exec.busy_share"] = m["exec.run_s"] / (run_s * cores) if run_s > 0 else 0.0

    sql = spark._jsparkSession.sharedState().statusStore()
    execs = sql.executionsList()
    for i in range(execs.size() - 1, -1, -1):
        e = execs.apply(i)
        if not any(e.jobs().contains(j) for j in jobs):
            continue
        values = sql.executionMetrics(e.executionId())
        nodes = sql.planGraph(e.executionId()).allNodes()
        for n in range(nodes.size()):
            node = nodes.apply(n)
            if node.name() != "ArrowEvalPython":
                continue
            metrics = node.metrics()
            for k in range(metrics.size()):
                pm = metrics.apply(k)
                name = UDF_METRICS.get(pm.name())
                v = values.get(pm.accumulatorId())
                if name and v.isDefined():
                    m[name] += _metric_value(v.get())
    return dict(m)


# -- kernel replay --------------------------------------------------------------


def replay_kernels(texts: list, tools: list, names: list, mode: str = "agent") -> dict[str, float]:
    """Replay rows through the fused UDF's kernels in this process, outside
    Spark, in the order ``pipeline.extract_batch`` runs them: per-row routing
    (``route_one``; markdown/plain take the vectorized route's title wrap),
    then the optimize + validate tail over the whole set with the
    ``markdown_ops`` Series twins."""
    import pandas as pd

    from docling_gfcr_spark import pipeline
    from docling_gfcr_spark.kernels import markdown_ops

    vector_kinds = pipeline._VECTOR_KINDS  # the kinds extract_batch never routes
    spent: dict[str, float] = defaultdict(float)
    count: dict[str, int] = defaultdict(int)
    pend, fnames = [], []
    t_route = time.perf_counter()
    for text, tool, name in zip(texts, tools, names):
        kind = (tool or "text").lower()
        t0 = time.perf_counter()
        if kind in vector_kinds and text is not None:
            out = text if kind in ("markdown", "md") else (
                markdown_ops.title_wrap(name, text) if mode == "agent" else text
            )
        else:
            r = pipeline.route_one(text, tool, name, mode)
            out = r.get("extracted")
        spent[kind] += time.perf_counter() - t0
        count[kind] += 1
        if out is not None:
            pend.append(out)
            fnames.append(f"{name}.{kind}")
    route_s = time.perf_counter() - t_route
    t_tail = time.perf_counter()
    base = pd.Series(pend, dtype=object)
    nonblank = base.str.strip().astype(bool)
    if mode == "agent" and nonblank.any():
        base = base.copy()
        base[nonblank] = markdown_ops.optimize_markdown_series(
            base[nonblank], [f for f, keep in zip(fnames, nonblank) if keep]
        )
    markdown_ops.validate_markdown_series(base)
    tail_s = time.perf_counter() - t_tail
    m = {f"kernel.{k}.us_per_row": (spent[k] / count[k] * 1e6 if count[k] else 0.0) for k in KERNEL_KINDS}
    m.update({"kernel.route_s": route_s, "kernel.tail_s": tail_s, "kernel.rows": float(len(texts))})
    return m


# -- spans ----------------------------------------------------------------------


class Spans:
    """In-memory span recorder; written out once, at the end of the run."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []

    def add(self, name: str, start: float, end: float, parent: str | None = None) -> None:
        self.spans.append(
            {"name": name, "start": start, "end": end, "parent": parent, "run_id": self.run_id}
        )

    def timed(self, name: str, fn, parent: str | None = None):
        t0 = time.time()
        try:
            return fn()
        finally:
            self.add(name, t0, time.time(), parent)

    def self_times(self) -> dict[str, float]:
        """Span duration minus the time its direct children cover (children
        of one parent do not overlap here: passes are sequential)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"]:
                child[s["parent"]] += s["end"] - s["start"]
        return {s["name"]: s["end"] - s["start"] - child[s["name"]] for s in self.spans}

    def write(self, path: Path, summary: dict) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({"spans": self.spans, "self_s": self.self_times(), **summary}, indent=1))
