"""Measurement from outside the program: spans, Spark job attribution,
process-tree CPU and memory, and stderr failure counts.

Spans wrap the benchmark's own calls into the package. Spark jobs are
attributed to the innermost span whose window holds the job's
submission time; job groups are not used, because jobs submitted from
a worker thread (run_pipeline's thread pool) carry none. Job and
stage data come from the application status store, which Spark keeps
with the UI disabled.
"""

from __future__ import annotations

import os
import re
import threading
import time
from contextlib import contextmanager


class Tracer:
    """Spans kept in memory: name, start, end (epoch seconds), parent,
    and the process tree's CPU seconds inside the span (driver JVM,
    driver Python and Python workers; Spark's executor CPU counts only
    JVM threads).

    With `enabled=False` every span is a no-op, so an untraced
    operation executes the same calls with no bookkeeping.
    `bookkeeping_s` is the time spent inside the tracer itself: span
    records and plan-shape reads."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.bookkeeping_s = 0.0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
            "cpu_s": tree_cpu_s(),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self.bookkeeping_s += time.perf_counter() - t0
        try:
            yield
        finally:
            t1 = time.perf_counter()
            rec["cpu_s"] = tree_cpu_s() - rec["cpu_s"]
            rec["end"] = time.time()
            self._stack.pop()
            self.bookkeeping_s += time.perf_counter() - t1

    def children(self, span_id: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span_id]

    def plan_shape(self, df) -> dict[str, int]:
        t0 = time.perf_counter()
        shape = plan_shape(df)
        self.bookkeeping_s += time.perf_counter() - t0
        return shape


def _scala_ints(seq) -> list[int]:
    text = seq.mkString(",")
    return [int(x) for x in text.split(",")] if text else []


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def read_jobs(spark) -> list[dict]:
    """Every job the status store retains, with its stages' totals."""
    from py4j.protocol import Py4JJavaError

    store = spark.sparkContext._jsc.sc().statusStore()
    out = []
    stage_cache: dict[int, dict] = {}
    seq = store.jobsList(None)
    for k in range(seq.size()):
        j = seq.apply(k)
        stages = []
        for sid in _scala_ints(j.stageIds()):
            if sid not in stage_cache:
                try:
                    s = store.lastStageAttempt(sid)
                except Py4JJavaError:  # a skipped stage has no attempt
                    stage_cache[sid] = None
                else:
                    stage_cache[sid] = {
                        "id": sid,
                        "cpu_s": s.executorCpuTime() / 1e9,
                        "shuffle_write_b": s.shuffleWriteBytes(),
                        "failed_tasks": s.numFailedTasks(),
                    }
            if stage_cache[sid] is not None:
                stages.append(stage_cache[sid])
        out.append({
            "id": j.jobId(),
            "submit": _opt_ms(j.submissionTime()),
            "end": _opt_ms(j.completionTime()),
            "status": j.status().toString(),
            "failed_tasks": j.numFailedTasks(),
            "stages": stages,
        })
    return out


def _covered(intervals: list[tuple[float, float]], lo: float,
             hi: float) -> float:
    """Length of the union of `intervals` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def attribute_jobs(spans: list[dict], jobs: list[dict]) -> dict[int, dict]:
    """Per span id: wall_s, cpu_s, driver_s, jobs, exec_cpu_s,
    shuffle_mb.

    A job belongs to the innermost span whose [start, end] holds its
    submission time; a parent span's figures include its children's."""
    by_id = {s["id"]: s for s in spans}
    owned: dict[int, list[dict]] = {s["id"]: [] for s in spans}
    for j in jobs:
        if j["submit"] is None:
            continue
        best = None
        for s in spans:
            if s["end"] is not None and s["start"] <= j["submit"] <= s["end"]:
                if best is None or s["start"] >= best["start"]:
                    best = s
        sid = best["id"] if best is not None else None
        while sid is not None:
            owned[sid].append(j)
            sid = by_id[sid]["parent"]
    out = {}
    for s in spans:
        js = owned[s["id"]]
        wall = s["end"] - s["start"]
        busy = _covered(
            [(j["submit"], j["end"] or s["end"]) for j in js],
            s["start"], s["end"],
        )
        stages = {st["id"]: st for j in js for st in j["stages"]}
        out[s["id"]] = {
            "wall_s": wall,
            "cpu_s": s["cpu_s"],
            "driver_s": wall - busy,
            "jobs": len(js),
            "exec_cpu_s": sum(st["cpu_s"] for st in stages.values()),
            "shuffle_mb": sum(st["shuffle_write_b"]
                              for st in stages.values()) / 1e6,
        }
    return out


def failure_counts(jobs: list[dict]) -> dict[str, int]:
    return {
        "failed_jobs": sum(j["status"] == "FAILED" for j in jobs),
        "failed_tasks": sum(j["failed_tasks"] for j in jobs),
    }


_PY_NODES = re.compile(
    r"\b(ArrowEvalPython|BatchEvalPython|MapInPandas|MapInArrow|"
    r"FlatMapGroupsInPandas|FlatMapCoGroupsInPandas|AggregateInPandas|"
    r"WindowInPandas)\b"
)
_EXCHANGE = re.compile(r"\b\w*Exchange\b")


def plan_shape(df) -> dict[str, int]:
    """Exchange and Python-boundary node counts of the physical plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return {
        "exchanges": len(_EXCHANGE.findall(plan)),
        "python_evals": len(_PY_NODES.findall(plan)),
    }


def _proc_stats() -> dict[int, list[str]]:
    """pid -> the /proc/<pid>/stat fields after the command name."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command field may hold spaces; the rest follows its ')'
        out[int(name)] = stat.rsplit(")", 1)[1].split()
    return out


def _tree(stats: dict[int, list[str]]) -> set[int]:
    """This process and all its descendants: the driver JVM and the
    Python worker daemon with its workers."""
    tree = {os.getpid()}
    grew = True
    while grew:
        grew = False
        for pid, fields in stats.items():
            if int(fields[1]) in tree and pid not in tree:
                tree.add(pid)
                grew = True
    return tree


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """User + system CPU seconds used so far by the process tree,
    including workers that have already exited and been reaped."""
    stats = _proc_stats()
    return sum(
        sum(int(stats[pid][k]) for k in (11, 12, 13, 14))
        for pid in _tree(stats)
    ) / _TICK


class RssSampler:
    """Peak resident memory of the process tree, sampled from /proc
    while `active` is set. `busy_s` is the time the sampling thread
    spent reading /proc, holding the GIL."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_b = 0
        self.busy_s = 0.0
        self.active = threading.Event()
        self.active.set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def _run(self):
        while not self._stop.wait(self.interval_s):
            if not self.active.is_set():
                continue
            t0 = time.perf_counter()
            total = 0
            for pid in _tree(_proc_stats()):
                try:
                    with open(f"/proc/{pid}/statm") as f:
                        total += int(f.read().split()[1]) * self._page
                except OSError:
                    continue
            self.peak_b = max(self.peak_b, total)
            self.busy_s += time.perf_counter() - t0


_JAVA_EXCEPTION = re.compile(
    r"^(Exception in thread .*|\S*(Exception|Error)(: .*)?)$")


def stderr_counts(text: str) -> dict[str, int]:
    """Uncaught exception traces (a Java exception line followed by a
    stack frame, or a Python traceback) and block-already-exists
    warnings in a captured driver stderr."""
    lines = text.splitlines()
    traces = 0
    for i, line in enumerate(lines):
        if line.startswith("Traceback (most recent call last)"):
            traces += 1
        elif (_JAVA_EXCEPTION.match(line.strip()) and i + 1 < len(lines)
              and lines[i + 1].lstrip().startswith("at ")):
            traces += 1
    return {
        "exception_traces": traces,
        "block_exists_warnings": sum(
            "already exists" in line and "Block " in line for line in lines
        ),
    }

