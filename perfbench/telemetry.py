"""Measurement plumbing: process-tree CPU/RSS from /proc, percentiles, a
span recorder and a per-call Spark SQL metric collector.

Everything here observes the library from outside: spans wrap the
benchmark's own calls into the library's public functions, and the SQL
metrics come from Spark's status store (readable with the UI disabled).
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

# ---------------------------------------------------------------- statistics


def percentile(values, q: float) -> tuple[float, int]:
    """Nearest-rank ``q``-th percentile (0 < q <= 100) and the sample count
    it was taken from. Raises on an empty sample."""
    vals = sorted(values)
    if not vals:
        raise ValueError("percentile of an empty sample")
    rank = max(1, -(-len(vals) * q // 100))  # ceil(n*q/100), at least 1
    return float(vals[int(rank) - 1]), len(vals)


def median(values) -> float:
    vals = sorted(values)
    if not vals:
        raise ValueError("median of an empty sample")
    mid = len(vals) // 2
    return float(vals[mid]) if len(vals) % 2 else (vals[mid - 1] + vals[mid]) / 2.0


# ------------------------------------------------------------- process tree


def _tree_pids(root: int) -> list[int]:
    pids, stack = [], [root]
    while stack:
        pid = stack.pop()
        pids.append(pid)
        try:
            for t in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{t}/children") as f:
                    stack += [int(c) for c in f.read().split()]
        except OSError:
            continue
    return pids


def tree_cpu_seconds(root: int | None = None) -> float:
    """utime+stime (plus reaped children's) of ``root`` and every live
    descendant: the driver, the JVM and the Python workers."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0.0
    for pid in _tree_pids(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                parts = f.read().rsplit(") ", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in parts[11:15]) / tick
    return total


def tree_rss_bytes(root: int | None = None) -> tuple[int, int]:
    """(JVM, everything else) resident bytes of the process tree."""
    page = os.sysconf("SC_PAGE_SIZE")
    java = other = 0
    for pid in _tree_pids(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/statm") as f:
                rss = int(f.read().split()[1]) * page
            with open(f"/proc/{pid}/comm") as f:
                is_java = f.read().strip() == "java"
        except OSError:
            continue
        if is_java:
            java += rss
        else:
            other += rss
    return java, other


class RssSampler:
    """Background thread sampling the process tree's resident set size;
    ``peak`` is the largest sum seen between start() and stop()."""

    def __init__(self, interval: float = 0.05):
        self.interval = interval
        self.peak = self.peak_java = self.peak_other = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        java, other = tree_rss_bytes()
        self.peak = max(self.peak, java + other)
        self.peak_java = max(self.peak_java, java)
        self.peak_other = max(self.peak_other, other)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()
        return self.peak


# ------------------------------------------------------- Spark SQL metrics

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_VALUE_RE = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Status-store metric string -> number (bytes, seconds or a count).

    Aggregated metrics read ``total (min, med, max ...)\\n<total> (...)``;
    plain ones read ``<value>``."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE_RE.match(line)
    if not m:
        raise ValueError(f"unparseable SQL metric value {text!r}")
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit and unit not in _UNITS:
        raise ValueError(f"unknown SQL metric unit {unit!r} in {text!r}")
    return num * _UNITS.get(unit, 1)


class SqlMetrics:
    """Per-call reader of Spark's SQL status store.

    ``mark()`` before a call and ``since(mark, tag)`` after it returns one
    record per SQL execution the call started: its operators (plan-graph
    node names) with their parsed metrics, plus the stage-level task
    counts, spill, peak execution memory and result bytes of its jobs.
    Executions tagged with another span's job group are left to that span,
    so a span's record holds its own work only."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = spark._jsparkSession.sharedState().statusStore()
        self.app_store = self.sc._jsc.sc().statusStore()
        # a cached relation's plan (and its metric accumulators) reappears
        # under every scan of the cache; each accumulator counts once, in
        # the first execution that shows it
        self._seen_accumulators: set = set()

    def mark(self) -> int:
        lst = self.store.executionsList()
        n = lst.size()
        return lst.apply(n - 1).executionId() if n else -1

    def since(self, mark: int, tag: str, other_tags: set) -> list[dict]:
        out = []
        lst = self.store.executionsList()
        for i in range(lst.size() - 1, -1, -1):
            e = lst.apply(i)
            eid = e.executionId()
            if eid <= mark:
                break
            desc = e.description()
            if desc != tag and desc in other_tags:
                continue
            out.append(self._execution(e))
        out.reverse()
        return out

    def _execution(self, e) -> dict:
        eid = e.executionId()
        values = self.store.executionMetrics(eid)
        nodes = self.store.planGraph(eid).allNodes()
        ops = []
        for j in range(nodes.size()):
            nd = nodes.apply(j)
            ms = nd.metrics()
            metrics = {}
            for k in range(ms.size()):
                pm = ms.apply(k)
                acc = pm.accumulatorId()
                v = values.get(acc)
                if v.isDefined() and acc not in self._seen_accumulators:
                    self._seen_accumulators.add(acc)
                    metrics[pm.name()] = parse_metric(v.get())
            ops.append({"op": nd.name().strip(), "metrics": metrics})
        job_ids = [int(j) for j in _scala_iter(e.jobs().keys())]
        return {"id": eid, "ops": ops, "stages": self._stages(job_ids)}

    def _stages(self, job_ids: list[int]) -> dict:
        tot = {"tasks": 0, "spill_bytes": 0, "peak_exec_memory": 0, "result_bytes": 0}
        seen = set()
        for jid in job_ids:
            info = self.sc.statusTracker().getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    sd = self.app_store.lastStageAttempt(sid)
                except Py4JJavaError:  # stage never ran (skipped) or evicted
                    continue
                tot["tasks"] += sd.numCompleteTasks()
                tot["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                tot["peak_exec_memory"] = max(tot["peak_exec_memory"], sd.peakExecutionMemory())
                tot["result_bytes"] += sd.resultSize()
        return tot


def _scala_iter(coll):
    it = coll.iterator()
    while it.hasNext():
        yield it.next()


def op_sum(executions: list[dict], op_prefix: str, metric: str) -> float:
    """Sum of ``metric`` over every operator whose name starts with
    ``op_prefix`` in the given executions."""
    return sum(
        o["metrics"].get(metric, 0.0)
        for e in executions
        for o in e["ops"]
        if o["op"].startswith(op_prefix)
    )


def stage_sum(executions: list[dict], key: str) -> float:
    if key == "peak_exec_memory":
        return max((e["stages"][key] for e in executions), default=0)
    return sum(e["stages"][key] for e in executions)


# ------------------------------------------------------------------- spans


class Tracer:
    """In-memory span recorder for the traced run.

    ``span(name)`` wraps one call into a library layer: it records name,
    start, end, parent and trace id, tags the Spark jobs it starts with a
    job group named after the span, and on exit attaches the SQL metrics
    of the executions those jobs ran. Spans stay in memory until
    ``dump()``. With ``sql=None`` only wall-clock spans are kept."""

    def __init__(self, sql: SqlMetrics | None):
        self.sql = sql
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._tags: set = set()
        self._trace = 0

    def new_trace(self) -> None:
        """Spans opened from now on share a new trace id."""
        self._trace += 1

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        tag = f"perfbench-span-{sid}"
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": sid, "name": name, "trace": self._trace,
            "parent": parent["id"] if parent else None,
        }
        self.spans.append(rec)
        self._tags.add(tag)
        self._stack.append(rec)
        mark = self.sql.mark() if self.sql else None
        if self.sql:
            self.sql.sc.setJobGroup(tag, tag)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.sql:
                if parent is not None:
                    ptag = f"perfbench-span-{parent['id']}"
                    self.sql.sc.setJobGroup(ptag, ptag)
                else:
                    self.sql.sc.setJobGroup("", "")
                rec["executions"] = self.sql.since(mark, tag, self._tags)

    def find(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def children(self, span: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span["id"]]

    def self_time(self, span: dict) -> float:
        """Span duration minus the union of its children's intervals."""
        ivs = sorted((c["start"], c["end"]) for c in self.children(span))
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in ivs:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (span["end"] - span["start"]) - covered

    def executions(self, span: dict) -> list[dict]:
        """SQL executions of a span and all its descendants."""
        ex = list(span.get("executions", []))
        for c in self.children(span):
            ex += self.executions(c)
        return ex

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        out = []
        for s in self.spans:
            d = dict(s)
            d["duration_s"] = s["end"] - s["start"]
            d["self_s"] = self.self_time(s)
            out.append(d)
        with open(path, "w") as f:
            json.dump(out, f, indent=1, default=str)
