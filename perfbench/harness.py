"""Measurement plumbing shared by the workloads: spans, the process-tree RSS
sampler, and Spark status-store readers.

Nothing here changes what the program does. Spans are taken around calls
into the program's public functions from the benchmark's own files; Spark
counters come from the status store the session keeps anyway (they are
available with ``spark.ui.enabled=false``).
"""

from __future__ import annotations

import os
import re
import threading
import time
from contextlib import contextmanager

MIB = 1024 * 1024


class Tracer:
    """In-memory spans: (id, name, start, end, parent, run id). When tracing
    is off, ``span`` records nothing."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "run": self.run_id, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def total_in(self, name: str, ancestor: str) -> float:
        """Summed duration of the ``name`` spans under an ``ancestor`` span."""
        def under(s) -> bool:
            while s["parent"] is not None:
                s = self.spans[s["parent"]]
                if s["name"] == ancestor:
                    return True
            return False

        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name and s["end"] is not None and under(s))


class RssSampler:
    """Peak resident memory of this process and all its descendants (driver,
    JVM, Python workers, psql children), sampled every ``period`` seconds.

    Each process counts its proportional set size (PSS): pages shared
    between processes are split among them, so a freshly forked child,
    which shares all of its parent's pages, is not counted twice."""

    def __init__(self, period: float = 0.1):
        self.period = period
        self.peak_bytes = 0
        self.peak_parts: list[int] = []  # per-process PSS at the peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        self.sample()
        return self.peak_bytes / MIB

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    @staticmethod
    def _pss(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        return int(line.split()[1]) * 1024
        except (OSError, ValueError):
            pass  # the process ended between listing and reading
        return 0

    def sample(self) -> None:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            ppid = int(stat[stat.rindex(")") + 2:].split()[1])
            children.setdefault(ppid, []).append(int(d))
        parts, todo = [], [os.getpid()]
        while todo:
            pid = todo.pop()
            parts.append(self._pss(pid))
            todo.extend(children.get(pid, ()))
        if sum(parts) > self.peak_bytes:
            self.peak_bytes = sum(parts)
            self.peak_parts = sorted(parts, reverse=True)


class SparkStatus:
    """Per-pass deltas from the session's status stores: stage task
    counters (run, CPU, GC, shuffle write, spill) and the SQL metrics of
    Python/Arrow boundary nodes (bytes sent to and returned from the Python
    workers)."""

    def __init__(self, spark):
        self._jvm = spark._jvm
        self._gw = spark.sparkContext._gateway
        self._sc = spark._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def _drain(self) -> None:
        # the stores are filled by the listener bus, asynchronously
        self._sc.listenerBus().waitUntilEmpty()

    def mark(self) -> tuple[set, int]:
        self._drain()
        return set(self._stages()), self._sql.executionsCount()

    def _stages(self) -> dict:
        empty = self._jvm.java.util.Collections.emptyList()
        seq = self._sc.statusStore().stageList(
            empty, False, False, self._gw.new_array(self._jvm.double, 0), empty)
        out = {}
        for i in range(seq.size()):
            s = seq.apply(i)
            out[(s.stageId(), s.attemptId())] = s
        return out

    def delta(self, mark: tuple[set, int]) -> dict:
        self._drain()
        seen, n_exec = mark
        d = {"task_run_s": 0.0, "task_cpu_s": 0.0, "gc_s": 0.0, "tasks": 0,
             "shuffle_write_mib": 0.0, "spill_mib": 0.0}
        for key, s in self._stages().items():
            if key in seen:
                continue
            d["task_run_s"] += s.executorRunTime() / 1e3
            d["task_cpu_s"] += s.executorCpuTime() / 1e9
            d["gc_s"] += s.jvmGcTime() / 1e3
            d["tasks"] += s.numCompleteTasks()
            d["shuffle_write_mib"] += s.shuffleWriteBytes() / MIB
            d["spill_mib"] += s.diskBytesSpilled() / MIB
        d["task_wait_s"] = d["task_run_s"] - d["task_cpu_s"]
        d.update(self._python_bytes(n_exec))
        return d

    def _python_bytes(self, first_exec: int) -> dict:
        sent = received = 0.0
        execs = self._sql.executionsList()
        for i in range(execs.size()):
            e = execs.apply(i)
            if e.executionId() < first_exec:
                continue
            values = {}
            it = self._sql.executionMetrics(e.executionId()).iterator()
            while it.hasNext():
                kv = it.next()
                values[kv._1()] = kv._2()
            nodes = self._sql.planGraph(e.executionId()).allNodes()
            for j in range(nodes.size()):
                metrics = nodes.apply(j).metrics()
                for k in range(metrics.size()):
                    m = metrics.apply(k)
                    if m.name() == "data sent to Python workers":
                        sent += _size_mib(values.get(m.accumulatorId()))
                    elif m.name() == "data returned from Python workers":
                        received += _size_mib(values.get(m.accumulatorId()))
        return {"python_sent_mib": sent, "python_received_mib": received}


_UNITS = {"B": 1, "KiB": 1024, "MiB": MIB, "GiB": 1024 * MIB, "TiB": 1024 * 1024 * MIB}


def _size_mib(text: str | None) -> float:
    """A formatted size metric ("12.3 MiB", or "total (min, med, max ...)\\n
    12.3 MiB (...)" when several tasks reported) as MiB."""
    if not text:
        return 0.0
    m = re.match(r"\s*([0-9.]+)\s*(B|KiB|MiB|GiB|TiB)", text.strip().splitlines()[-1])
    return float(m.group(1)) * _UNITS[m.group(2)] / MIB if m else 0.0
