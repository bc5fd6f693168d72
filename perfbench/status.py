"""Readers for what Spark, the JVM and the kernel already record: the
application status store (jobs, stages, tasks), the SQL status store
(per-operator metrics), the JVM's memory pools and ``/proc`` (resident
memory). All reads happen between or after the timed operations, so they
cost the measured operations nothing."""

from __future__ import annotations

import os
import re

from record import driver_time

#: plan nodes that hand rows to Python workers (pandas/Arrow UDF operators)
_PY_NODE = re.compile(r"Pandas|Python|Arrow")
_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
               "TiB": 1 << 40}


def parse_metric(text: str | None, kind: str) -> float:
    """A SQL metric as the status store formats it → a number. ``sum``
    metrics read ``1,234``; ``size`` metrics read ``0.0 B`` or, for several
    tasks, ``total (min, med, max ...)\\n4.8 MiB (...)``."""
    if not text:
        return 0.0
    line = text.split("\n")[-1].strip()
    if kind == "size":
        m = re.match(r"([0-9.,]+)\s*([KMGT]?i?B)", line)
        if not m:
            return 0.0
        return float(m.group(1).replace(",", "")) * _SIZE_UNITS[m.group(2)]
    m = re.match(r"[0-9,.]+", line)
    return float(m.group(0).replace(",", "")) if m else 0.0


class StatusReader:
    """Per-job-group totals from the status stores of one SparkSession.
    Works with ``spark.ui.enabled=false`` (the engine default)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self.store = self._jsc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self._exec_jobs: list[tuple[int, set[int]]] | None = None

    def drain(self) -> None:
        """Block until the listener bus has delivered every event, so the
        stores hold the final state of every finished job."""
        self._jsc.listenerBus().waitUntilEmpty()
        self._exec_jobs = None

    def jobs(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def failed_tasks(self, group: str) -> int:
        return sum(int(self.store.job(j).numFailedTasks())
                   for j in self.jobs(group))

    def group(self, group: str, lo_ms: float, hi_ms: float) -> dict:
        """Totals of one operation's job group; ``lo_ms``/``hi_ms`` bound
        the operation's wall time (epoch ms) for ``driver_ms``."""
        job_ids = self.jobs(group)
        intervals, stage_ids = [], set()
        failed = 0
        for j in job_ids:
            jd = self.store.job(j)
            failed += int(jd.numFailedTasks())
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((float(sub.get().getTime()),
                                  float(done.get().getTime())))
            ids = jd.stageIds()
            stage_ids.update(int(ids.apply(i)) for i in range(ids.size()))
        out = {"jobs": len(job_ids), "stages": 0, "tasks": 0,
               "executor_run_ms": 0, "shuffle_write_bytes": 0,
               "spill_bytes": 0, "failed_tasks": failed, "stage_retries": 0,
               "driver_ms": driver_time(lo_ms, hi_ms, intervals)}
        for sid in stage_ids:
            st = self.store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += int(st.numTasks())
            out["executor_run_ms"] += int(st.executorRunTime())
            out["shuffle_write_bytes"] += int(st.shuffleWriteBytes())
            out["spill_bytes"] += int(st.diskBytesSpilled())
            out["stage_retries"] += int(st.attemptId())
        out.update(self._sql_totals(set(job_ids)))
        return out

    def _executions(self) -> list[tuple[int, set[int]]]:
        if self._exec_jobs is None:
            execs = self.sql.executionsList()
            self._exec_jobs = []
            for i in range(execs.size()):
                e = execs.apply(i)
                keys = e.jobs().keys().mkString(",")
                self._exec_jobs.append(
                    (int(e.executionId()),
                     {int(k) for k in keys.split(",") if k})
                )
        return self._exec_jobs

    def _sql_totals(self, job_ids: set[int]) -> dict:
        """Operator metrics of every SQL execution that ran one of
        ``job_ids``: bytes across the Python-worker boundary, the largest
        join output (the pair stream of a product join) and the number of
        shuffle exchanges in the final (adaptive) plans."""
        out = {"pyworker_bytes_sent": 0.0, "pyworker_bytes_received": 0.0,
               "join_rows": 0.0, "exchanges": 0}
        for eid, jobs in self._executions():
            if not jobs & job_ids:
                continue
            values = self.sql.executionMetrics(eid)
            nodes = self.sql.planGraph(eid).allNodes()
            for i in range(nodes.size()):
                node = nodes.apply(i)
                name = node.name()
                if name == "Exchange":
                    out["exchanges"] += 1
                    continue
                is_join = name.endswith("Join")
                if not (is_join or _PY_NODE.search(name)):
                    continue
                metrics = node.metrics()
                for k in range(metrics.size()):
                    m = metrics.apply(k)
                    v = values.get(m.accumulatorId())
                    num = parse_metric(v.get() if v.isDefined() else None,
                                       m.metricType())
                    label = m.name()
                    if label == "data sent to Python workers":
                        out["pyworker_bytes_sent"] += num
                    elif label == "data returned from Python workers":
                        out["pyworker_bytes_received"] += num
                    elif is_join and label == "number of output rows":
                        out["join_rows"] = max(out["join_rows"], num)
        return out


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                # the command name may hold spaces; ppid follows its ')'
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def jvm_heap_peak_mb(spark) -> float:
    """Summed peak used size of the JVM's survivor and old heap pools since
    it started: the heap that objects held past a young collection. Eden
    is left out: it is emptied at every young collection, which starts
    when eden is full, so its peak is the size the collector chose for it,
    not what the program kept."""
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(p.getPeakUsage().getUsed() for p in mx.getMemoryPoolMXBeans()
               if p.getType().name() == "HEAP" and "Eden" not in p.getName()
               ) / (1 << 20)


def pyworker_rss_mb(spark) -> float:
    """Summed resident-memory high-water marks (VmHWM) of the Python daemon
    and workers, every process the JVM started. A worker that has exited
    no longer counts, so callers sample this after every operation."""
    jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current()
                  .pid())
    return sum(_hwm_kb(p) for p in descendants(jvm_pid)) / 1024.0
