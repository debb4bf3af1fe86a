"""Counters read from the Spark driver JVM through the py4j gateway.

These live in the benchmark, not the package: the package stays usable
under Spark Connect, where no gateway exists.
"""

from __future__ import annotations

import os
import subprocess


def _hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class SparkCounters:
    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._mgmt = self._sc._jvm.java.lang.management.ManagementFactory
        self.jvm_pid = int(self._sc._jvm.java.lang.ProcessHandle.current().pid())

    def snapshot(self) -> dict[str, float]:
        """Next job/stage/task ids (exact: read from the schedulers'
        id counters at submission, no listener-bus lag) and cumulative
        JVM GC seconds."""
        dag = self._jsc.dagScheduler()
        return {
            "jobs": int(dag.nextJobId()),
            "stages": int(dag.nextStageId()),
            "tasks": int(self._jsc.taskScheduler().nextTaskId()),
            "gc_s": sum(
                b.getCollectionTime() for b in self._mgmt.getGarbageCollectorMXBeans()
            )
            / 1000.0,
        }

    def failed_tasks(self) -> int:
        """Failed tasks so far, once the listener bus has drained."""
        self._jsc.listenerBus().waitUntilEmpty(10_000)
        executors = self._jsc.statusStore().executorList(True)
        return sum(int(executors.apply(i).failedTasks()) for i in range(executors.size()))

    def peak_rss_mb(self) -> float:
        """Peak RSS of the driver JVM plus this Python process."""
        return _hwm_mb(self.jvm_pid) + _hwm_mb(os.getpid())


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop the session and wait until the gateway JVM has exited: it
    exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=timeout_s)
