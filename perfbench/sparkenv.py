"""Spark session and the counters read from outside the program.

Task and shuffle counters come from Spark's own status store (the
public status tracker for task counts, the JVM ``AppStatusStore`` for
byte counts); memory comes from ``/proc``.  Nothing here reaches into
the package under test.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Dict, List


def host_cpus() -> int:
    """Cores this process may run on (``nproc`` without OMP_NUM_THREADS)."""
    return len(os.sched_getaffinity(0))


def build_session(work_dir: str, cpus: int):
    """``local[cpus]`` session whose scratch, warehouse and JVM temp
    files all stay under ``work_dir``."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "1g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2000")
        .config("spark.local.dir", os.path.join(work_dir, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work_dir, "warehouse"))
        .config(
            "spark.driver.extraJavaOptions",
            # a fixed, pre-touched heap keeps the JVM's resident memory
            # independent of GC timing, so peak_rss_mb moves with the
            # workers' and off-heap memory only
            f"-Xms1g -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        )
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


@dataclass
class JobCounters:
    """Task and shuffle totals over the Spark jobs of one job group."""

    tasks: int = 0
    failed_tasks: int = 0
    shuffle_write_bytes: int = 0
    # shuffle bytes read by each task of the job group's widest shuffle
    # read stage (the kernel stage on the extraction workloads)
    kernel_task_read_bytes: List[int] = field(default_factory=list)


def job_counters(spark, group: str) -> JobCounters:
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = JobCounters()
    widest = (-1, None)
    for job_id in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job_id)
        if info is None:
            continue
        for stage_id in info.stageIds:
            st = tracker.getStageInfo(stage_id)
            if st is None or st.numTasks == 0:
                continue  # skipped stage (shuffle output reused)
            out.tasks += st.numCompletedTasks + st.numFailedTasks
            out.failed_tasks += st.numFailedTasks
            data = store.lastStageAttempt(stage_id)
            out.shuffle_write_bytes += data.shuffleWriteBytes()
            read = data.shuffleReadBytes()
            if read > widest[0]:
                widest = (read, (stage_id, data.attemptId(), st.numTasks))
    if widest[1] is not None and widest[0] > 0:
        stage_id, attempt, n = widest[1]
        tasks = store.taskList(stage_id, attempt, n)
        for i in range(tasks.size()):
            metrics = tasks.apply(i).taskMetrics()
            if metrics.isDefined():
                sr = metrics.get().shuffleReadMetrics()
                out.kernel_task_read_bytes.append(
                    sr.localBytesRead() + sr.remoteBytesRead()
                )
    return out


def _children() -> Dict[int, List[int]]:
    kids: Dict[int, List[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: ppid is the 2nd field after ')'
        ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakRss:
    """Peak resident memory of the Spark JVM plus its Python workers.

    Each process's own peak (``VmHWM``) is summed over the JVM and every
    process below it; ``sample`` keeps the largest sum seen, so workers
    that exit between samples still count at their last reading."""

    def __init__(self, spark) -> None:
        self.jvm_pid = spark.sparkContext._gateway.proc.pid
        self.peak_kb = 0

    def sample(self) -> None:
        kids = _children()
        total, todo = 0, [self.jvm_pid]
        while todo:
            pid = todo.pop()
            total += _hwm_kb(pid)
            todo.extend(kids.get(pid, ()))
        self.peak_kb = max(self.peak_kb, total)

    @property
    def mb(self) -> float:
        return self.peak_kb / 1024.0
