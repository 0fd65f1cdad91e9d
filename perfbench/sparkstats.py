"""Work counters read from the status stores Spark already keeps, plus the
host-side readings of a run: resident memory, JVM GC time, the run stamp.

Counters cover the Spark jobs with ids in ``[first_job, end_job)``, which
the caller brackets with :func:`next_job_id`. They count work (jobs,
stages, tasks, bytes, rows, plan nodes), not time, so two runs of the same
questions give the same numbers unless the plans changed.
"""

from __future__ import annotations

import os
import platform
import re
import subprocess
import sys


def next_job_id(sc) -> int:
    """Id the next Spark job will get."""
    return int(sc._jsc.sc().dagScheduler().nextJobId())  # py4j unboxes the AtomicInteger


def drain_listeners(sc) -> None:
    """Block until the status stores have seen every event posted so far."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def jvm_gc_ms(spark) -> int:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(beans.get(i).getCollectionTime() for i in range(beans.size()))


def work_counters(spark, first_job: int, end_job: int, marker: str | None = None) -> dict:
    """Totals over the jobs in ``[first_job, end_job)``. When ``marker`` is
    given, SQL executions whose physical plan mentions it (the query-log
    sink path) are also totalled apart under ``marked_*``."""
    sc = spark.sparkContext
    drain_listeners(sc)
    store = sc._jsc.sc().statusStore()
    out = dict(jobs=0, stages=0, tasks=0, shuffle_write_bytes=0, input_rows=0,
               sql_executions=0, exchanges=0, broadcasts=0,
               marked_executions=0, marked_jobs=0)
    tracker = sc.statusTracker()
    for job_id in range(first_job, end_job):
        info = tracker.getJobInfo(job_id)
        if info is None:
            continue
        out["jobs"] += 1
        for stage_id in info.stageIds:
            try:
                data = store.lastStageAttempt(stage_id)
            except Exception:  # evicted from the store
                continue
            if data.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += data.numTasks()
            out["shuffle_write_bytes"] += data.shuffleWriteBytes()
            out["input_rows"] += data.inputRecords()
    sql_store = spark._jsparkSession.sharedState().statusStore()
    executions = sql_store.executionsList()
    for i in range(executions.size() - 1, -1, -1):
        execution = executions.apply(i)
        jobs = [int(j) for j in re.findall(r"\d+", execution.jobs().keySet().toString())]
        if not jobs:
            continue
        if max(jobs) < first_job:
            break
        if min(jobs) >= end_job:
            continue
        out["sql_executions"] += 1
        nodes = sql_store.planGraph(execution.executionId()).allNodes()
        names = [nodes.apply(k).name() for k in range(nodes.size())]
        out["exchanges"] += names.count("Exchange")
        out["broadcasts"] += names.count("BroadcastExchange")
        if marker and marker in execution.physicalPlanDescription():
            out["marked_executions"] += 1
            out["marked_jobs"] += len(jobs)
    return out


def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def rss_peak_mb(spark) -> float:
    """Peak resident set of this Python process plus the JVM it drives."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    jvm = _vm_hwm_kb(proc.pid) if proc is not None else 0
    return (_vm_hwm_kb("self") + jvm) / 1024.0


def _proc_cpu_s(pid) -> float:
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def cpu_seconds(spark) -> float:
    """User plus system CPU seconds of this process and the JVM so far."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return _proc_cpu_s("self") + (_proc_cpu_s(proc.pid) if proc is not None else 0.0)


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the machine: CPU time the hypervisor gave to
    other guests is the usual sign of a contaminated run."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def run_stamp(seed: int, driver_memory: str, root: str) -> dict:
    """Host and version facts that let a contaminated run be spotted from
    the artifact alone."""
    import duckdb
    import pyspark

    commit = None
    try:
        commit = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=5,
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        pass
    return {
        "seed": seed,
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_start": os.getloadavg(),
        "git_commit": commit,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "driver_memory": driver_memory,
        "argv": sys.argv[1:],
    }
