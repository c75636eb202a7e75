"""Readings taken from outside the engine: the process tree through
``/proc``, Spark's status stores, and a streaming progress listener."""

from __future__ import annotations

import json
import os
import re
import threading
import time
from datetime import datetime

TICK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: str) -> tuple[int, str, int, int, int] | None:
    """(ppid, comm, start ticks, cpu ticks, rss pages) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1:raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2:].split()
    # fields[0] is field 3 (state) of proc(5)
    return int(fields[1]), comm, int(fields[19]), int(fields[11]) + int(fields[12]), int(fields[21])


def _jit_threads(pid: int) -> dict[tuple[int, int], int]:
    """{(tid, start ticks): CPU ticks} of the JIT compiler threads of one JVM."""
    out = {}
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        if "CompilerThre" in raw[:raw.rindex(")")]:
            fields = raw[raw.rindex(")") + 2:].split()
            out[(int(tid), int(fields[19]))] = int(fields[11]) + int(fields[12])
    return out


class ProcessTree:
    """Samples the CPU time and memory of this process and all its
    descendants (the JVM and the Python workers it forks).

    The last reading of every process ever seen is kept, so CPU spent
    by a worker that has since exited still counts and a sum over the
    tree can never go backwards. The JVM's JIT compiler threads are read
    apart (kind ``jit``) and left out of the JVM's own figure: their work
    is a warm-up transient that differs from run to run. The JVM lives
    for the whole run, so its threads are read only when a caller asks
    for a reading; the sampler thread, whose own CPU time is left out,
    tracks the short-lived processes and the peak memory."""

    def __init__(self, interval: float = 0.5) -> None:
        self.root = os.getpid()
        self.interval = interval
        self.cpu: dict[tuple, int] = {}
        self.kind: dict[tuple, str] = {}
        self.jit: dict[tuple, int] = {}
        self.peak_rss = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._sampler_cpu = 0.0

    def start(self) -> None:
        self.sample()
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()
            self._sampler_cpu = time.thread_time()

    def sample(self, threads: bool = False) -> None:
        procs = {}
        for pid in os.listdir("/proc"):
            if pid.isdigit():
                st = _stat(pid)
                if st is not None:
                    procs[int(pid)] = st
        children: dict[int, list[int]] = {}
        for pid, st in procs.items():
            children.setdefault(st[0], []).append(pid)
        rss, todo, seen = 0, [(self.root, "main")], []
        while todo:
            pid, parent_kind = todo.pop()
            st = procs.get(pid)
            if st is None:
                continue
            comm = st[1]
            if pid == self.root:
                kind = "main"
            elif parent_kind in ("jvm", "python") and "python" in comm:
                kind = "python"
            elif "java" in comm:
                kind = "jvm"
            else:
                kind = parent_kind
            key = (pid, st[2])
            if kind != "jvm":
                seen.append((key, kind, st[3]))
            elif threads:
                # compiler threads come and go; keep each one's last reading
                for tkey, ticks in _jit_threads(pid).items():
                    self.jit[key + tkey] = ticks
                jit = sum(v for k, v in self.jit.items() if k[:2] == key)
                seen.append((key, kind, st[3] - jit))
            rss += st[4]
            todo.extend((c, kind) for c in children.get(pid, ()))
        with self._lock:
            for key, kind, ticks in seen:
                self.cpu[key] = ticks
                self.kind[key] = kind
            for key, ticks in self.jit.items():
                self.cpu[key] = ticks
                self.kind[key] = "jit"
            self.peak_rss = max(self.peak_rss, rss * PAGE)

    def reading(self) -> dict[tuple, int]:
        self.sample(threads=True)
        with self._lock:
            return dict(self.cpu)

    def cpu_since(self, before: dict, kinds: tuple[str, ...] = ("main", "jvm", "python")) -> float:
        """CPU seconds the tree spent since the ``before`` reading."""
        now = self.reading()
        ticks = sum(v - before.get(k, 0) for k, v in now.items() if self.kind[k] in kinds)
        return ticks / TICK

    def sampler_cpu(self) -> float:
        return self._sampler_cpu

    def wait_descendants(self, timeout: float = 30.0) -> None:
        """Wait until every process of the tree but this one has exited;
        kill what is left after ``timeout`` seconds."""
        from signal import SIGKILL

        pids = {k[0] for k, kind in self.kind.items() if kind != "jit" and k[0] != self.root}
        deadline = time.time() + timeout
        while True:
            alive = [p for p in pids if os.path.exists(f"/proc/{p}")]
            if not alive:
                return
            if time.time() > deadline:
                for p in alive:
                    try:
                        os.kill(p, SIGKILL)
                    except OSError:
                        pass
                deadline = float("inf")
            time.sleep(0.1)


_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "min": 60.0}
_VALUE = re.compile(r"^\s*([-0-9.,]+)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Value of a formatted SQL metric: the total on its last line, in
    bytes for sizes and seconds for timings."""
    line = text.strip().splitlines()[-1]
    m = _VALUE.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


#: SQL node metrics summed per query, by metric name
SQL_METRICS = {
    "scan time": "sources.scan_s",
    "duration": "operators.codegen_s",
    "data sent to Python workers": "operators.arrow_out_mb",
    "data returned from Python workers": "operators.arrow_in_mb",
}

#: stage fields summed per query: (field, metric, scale)
STAGE_FIELDS = (
    ("inputRecords", "sources.input_rows", 1),
    ("inputBytes", "sources.input_mb", 2**-20),
    ("executorRunTime", "operators.task_busy_s", 1e-3),
    ("executorCpuTime", "operators.jvm_cpu_s", 1e-9),
    ("jvmGcTime", "operators.gc_s", 1e-3),
    ("shuffleWriteBytes", "operators.shuffle_write_mb", 2**-20),
    ("shuffleReadBytes", "operators.shuffle_read_mb", 2**-20),
    ("shuffleFetchWaitTime", "operators.fetch_wait_s", 1e-3),
    ("diskBytesSpilled", "operators.spill_mb", 2**-20),
    ("numTasks", "operators.tasks", 1),
)


class StatusStore:
    """Per job group totals from the core and SQL status stores, both of
    which are kept with the UI disabled."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        jvm = sc._jvm
        self._jvm = jvm
        self._core = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper().registerModule(
            getattr(scala_module, "MODULE$"))
        self._no_doubles = sc._gateway.new_array(jvm.double, 0)

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def group_totals(self, groups: set[str]) -> dict[str, dict[str, float]]:
        """{group: {metric: total}} for the jobs tagged with each group."""
        jvm = self._jvm
        jobs = self._json(self._core.jobsList(None))
        job_group = {j["jobId"]: j.get("jobGroup") for j in jobs}
        stage_group = {}
        out = {g: {"plans.jobs": 0} for g in groups}
        for j in jobs:
            g = j.get("jobGroup")
            if g in out:
                out[g]["plans.jobs"] += 1
                for sid in j["stageIds"]:
                    stage_group[sid] = g
        stages = self._json(self._core.stageList(
            jvm.java.util.ArrayList(), False, False, self._no_doubles, jvm.java.util.ArrayList()))
        for s in stages:
            g = stage_group.get(s["stageId"])
            if g is None or s["status"] == "SKIPPED":
                continue
            tot = out[g]
            tot["operators.stages"] = tot.get("operators.stages", 0) + 1
            for field, metric, scale in STAGE_FIELDS:
                tot[metric] = tot.get(metric, 0.0) + s[field] * scale
        execs = self._sql.executionsList()
        for i in range(execs.size()):
            e = execs.apply(i)
            job_ids = [int(k) for k in self._json(e.jobs())]
            groups_hit = {job_group.get(j) for j in job_ids} & set(out)
            if not groups_hit:
                continue
            tot = out[groups_hit.pop()]
            values = self._sql.executionMetrics(e.executionId())
            nodes = self._sql.planGraph(e.executionId()).allNodes()
            for n in range(nodes.size()):
                ms = nodes.apply(n).metrics()
                for k in range(ms.size()):
                    m = ms.apply(k)
                    metric = SQL_METRICS.get(m.name())
                    if metric is None:
                        continue
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        scale = 2**-20 if metric.endswith("_mb") else 1.0
                        tot[metric] = tot.get(metric, 0.0) + parse_metric(v.get()) * scale
        return out


class BatchLog:
    """Streaming micro-batch progress, collected by a listener."""

    def __init__(self) -> None:
        self.batches: list[dict] = []
        self._lock = threading.Lock()

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        log = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                with log._lock:
                    log.batches.append({
                        "query": str(p.id),
                        "run": str(p.runId),
                        "start_wall": datetime.fromisoformat(p.timestamp).timestamp(),
                        "duration_s": p.batchDuration / 1000.0,
                        "input_rows": p.numInputRows,
                    })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        return _Listener()

    def settle(self, timeout: float = 3.0) -> None:
        """Wait until progress events stop arriving (they are delivered
        asynchronously, after the query that made them returns)."""
        deadline = time.time() + timeout
        n = -1
        while time.time() < deadline:
            with self._lock:
                cur = len(self.batches)
            if cur == n:
                return
            n = cur
            time.sleep(0.2)

    def since(self, wall_start: float, wall_end: float) -> list[dict]:
        with self._lock:
            return [b for b in self.batches
                    if wall_start <= b["start_wall"] <= wall_end]
