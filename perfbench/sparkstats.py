"""Execution metrics from Spark's own listener data, and process CPU / RSS.

``StatusReader`` reads the driver's live status stores through py4j. Each
read serializes only the stages and SQL executions that appeared since the
previous read to one JSON string on the JVM side, so the cost of a read does
not grow with the length of the run:

* task metrics summed per stage (executor run and CPU time, GC, shuffle,
  spill, task and stage counts);
* per SQL execution, the final (post-AQE) plan graph, from which the plan
  fingerprint counts exchanges, broadcasts, joins, generates and Python
  nodes, and the size metrics of the Python nodes.

``ProcessTree`` sums user+system CPU over this process and every process
below it (the driver JVM, the PySpark daemon and its Python workers), from
``/proc``; ``peak_rss_mb`` reads a process's resident high-water mark.
"""

from __future__ import annotations

import json
import os
import re

_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
               "TiB": 1 << 40}
_SIZE_RE = re.compile(r"([0-9.]+) (B|KiB|MiB|GiB|TiB)")
_PY_NODE_RE = re.compile(r"Python|InPandas|InArrow")
_MB = float(1 << 20)


def _size_bytes(formatted: str) -> float:
    """Total from a formatted size metric: ``"156.8 KiB"`` or
    ``"total (min, med, max ...)\\n1.2 MiB (...)"``."""
    m = _SIZE_RE.search(formatted.rsplit("\n", 1)[-1])
    return float(m.group(1)) * _SIZE_UNITS[m.group(2)] if m else 0.0


def _graph_nodes(nodes: list[dict]):
    for n in nodes:
        yield n
        yield from _graph_nodes(n.get("nodes") or [])


def plan_counts(graph: dict) -> dict[str, int]:
    """Plan fingerprint of one executed (final) plan graph."""
    names = [n["name"] for n in _graph_nodes(graph.get("nodes") or [])]
    return {
        "plan.exchanges": sum(n in ("Exchange", "ReusedExchange") for n in names),
        "plan.broadcasts": sum(n == "BroadcastExchange" for n in names),
        "plan.joins": sum(n.endswith("Join") or n == "CartesianProduct"
                          for n in names),
        "plan.generates": sum(n == "Generate" for n in names),
        "plan.python_nodes": sum(bool(_PY_NODE_RE.search(n)) for n in names),
    }


class StatusReader:
    """Incremental reader over the driver's AppStatusStore and
    SQLAppStatusStore. Call ``read()`` after a pass for that pass's totals."""

    def __init__(self, spark) -> None:
        jvm = spark._jvm
        self._jsc = spark.sparkContext._jsc.sc()
        scala = jvm.com.fasterxml.jackson.module.scala
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(
            getattr(getattr(scala, "DefaultScalaModule$"), "MODULE$"))
        cls = jvm.java.lang.Class.forName
        self._stage_cls = cls("org.apache.spark.status.StageDataWrapper")
        self._exec_cls = cls(
            "org.apache.spark.sql.execution.ui.SQLExecutionUIData")
        self._kv = self._jsc.statusStore().store()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._next_stage = 0
        self._next_exec = 0
        self.read()  # skip whatever ran before the reader existed

    def _json(self, obj) -> list | dict:
        return json.loads(self._mapper.writeValueAsString(obj))

    def _new_executions(self) -> list[dict]:
        # newest first; the execution id index is a Long, which py4j cannot
        # pass for small values, so widen the window until it reaches an
        # execution seen before
        k = 32
        while True:
            last = self._json(self._kv.view(self._exec_cls).reverse().max(k))
            new = [e for e in last if e["executionId"] >= self._next_exec]
            if len(new) < k:
                return new
            k *= 4

    def read(self) -> dict[str, float]:
        """Totals over the stages and SQL executions that finished since
        the previous call."""
        self._jsc.listenerBus().waitUntilEmpty(60_000)
        stages = [w["info"] for w in self._json(
            self._kv.view(self._stage_cls).index("stageId")
            .first(self._next_stage))]
        execs = self._new_executions()
        if stages:
            self._next_stage = max(s["stageId"] for s in stages) + 1
        if execs:
            self._next_exec = max(e["executionId"] for e in execs) + 1
        done = [s for s in stages if s["status"] == "COMPLETE"]
        out = {
            "spark.executor_run_s": sum(s["executorRunTime"] for s in done) / 1e3,
            "spark.executor_cpu_s": sum(s["executorCpuTime"] for s in done) / 1e9,
            "spark.gc_s": sum(s["jvmGcTime"] for s in done) / 1e3,
            "spark.shuffle_read_mb": sum(s["shuffleReadBytes"] for s in done) / _MB,
            "spark.shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in done) / _MB,
            "spark.spill_mb": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"]
                                  for s in done) / _MB,
            "spark.tasks": float(sum(s["numCompleteTasks"] for s in done)),
            "spark.stages": float(len(done)),
            "python.data_sent_mb": 0.0,
            "python.data_received_mb": 0.0,
        }
        for e in execs:
            graph = self._json(self._sql.planGraph(e["executionId"]))
            for k, v in plan_counts(graph).items():
                out[k] = out.get(k, 0.0) + v
            values = e.get("metricValues") or {}
            seen = set()
            for m in e["metrics"]:
                acc = m["accumulatorId"]
                if acc in seen or str(acc) not in values:
                    continue
                seen.add(acc)
                if m["name"] == "data sent to Python workers":
                    out["python.data_sent_mb"] += _size_bytes(values[str(acc)]) / _MB
                elif m["name"] == "data returned from Python workers":
                    out["python.data_received_mb"] += _size_bytes(values[str(acc)]) / _MB
        for k in plan_counts({}):
            out.setdefault(k, 0.0)
        return out


def _stat_fields(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:  # the process ended while we looked
        return None
    return raw[raw.rindex(")") + 2:].split()


def _jit_ticks(pid: str) -> int:
    """CPU ticks of the JIT compiler threads of ``pid`` (none unless it is
    a JVM). A compiler thread's ticks leave this sum if the thread ends, so
    the JVM is started with a fixed set of them."""
    total = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                if not fh.read().startswith(("C1 CompilerThre", "C2 CompilerThre")):
                    continue
        except OSError:
            continue
        f = _stat_fields(f"{pid}/task/{tid}")
        if f is not None:
            total += int(f[11]) + int(f[12])
    return total


class ProcessTree:
    """CPU seconds used by this process and all of its descendants, and
    the part of them the JVM's JIT compiler threads used."""

    def __init__(self) -> None:
        self._tick = float(os.sysconf("SC_CLK_TCK"))

    def cpu_s(self) -> tuple[float, float]:
        parent: dict[str, str] = {}
        ticks: dict[str, int] = {}
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            f = _stat_fields(pid)
            if f is None:
                continue
            # after the comm field: state ppid ... utime(11) stime(12)
            # cutime(13) cstime(14); the children's part keeps the CPU of
            # reaped Python workers in the total
            parent[pid] = f[1]
            ticks[pid] = int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
        me = str(os.getpid())
        total, jit, todo = 0, 0, [me]
        kids: dict[str, list[str]] = {}
        for pid, ppid in parent.items():
            kids.setdefault(ppid, []).append(pid)
        while todo:
            pid = todo.pop()
            total += ticks.get(pid, 0)
            jit += _jit_ticks(pid)
            todo.extend(kids.get(pid, ()))
        return total / self._tick, jit / self._tick


def _status_kb(pid: int, key: str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith(key + ":"):
                return float(line.split()[1])
    raise KeyError(key)


def reset_peak_rss(pid: int) -> None:
    """Restart the kernel's resident high-water mark of ``pid`` at its
    current RSS, so the next ``peak_rss_mb`` covers only what follows."""
    with open(f"/proc/{pid}/clear_refs", "w") as fh:
        fh.write("5")


def peak_rss_mb(pid: int) -> float:
    return _status_kb(pid, "VmHWM") / 1024.0
