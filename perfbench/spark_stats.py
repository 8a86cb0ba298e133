"""Read Spark's in-process status store and the driver JVM's memory.

Works with the UI disabled: the ``AppStatusStore`` behind the status
tracker is populated by the listener bus either way. Reads wait for the
bus to drain first, since job-end events arrive asynchronously.
"""

from __future__ import annotations

from dataclasses import dataclass, fields

MB = 1024 * 1024


@dataclass
class JobTotals:
    """Executor-side totals over a set of Spark jobs."""

    jobs: int = 0
    cpu_s: float = 0.0
    run_s: float = 0.0
    shuffle_mb: float = 0.0
    spill_mb: float = 0.0

    def __iadd__(self, other: "JobTotals") -> "JobTotals":
        for f in fields(self):
            setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))
        return self


class StatusStore:
    """Job and stage metrics of one SparkContext."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._store = self._jsc.statusStore()

    def drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty(30_000)

    def job_ids(self) -> set[int]:
        """Ids of every retained job."""
        self.drain()
        jobs = self._store.jobsList(None)
        return {jobs.apply(i).jobId() for i in range(jobs.size())}

    def group_job_ids(self, group: str) -> set[int]:
        self.drain()
        return set(self._sc.statusTracker().getJobIdsForGroup(group))

    def totals(self, job_ids) -> JobTotals:
        """Totals over the completed stages of ``job_ids``."""
        self.drain()
        out = JobTotals()
        seen: set[int] = set()
        for job_id in job_ids:
            job = self._store.job(job_id)
            out.jobs += 1
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                sid = stage_ids.apply(i)
                if sid in seen:
                    continue
                seen.add(sid)
                stage = self._store.lastStageAttempt(sid)
                if stage.status().toString() != "COMPLETE":
                    continue
                out.cpu_s += stage.executorCpuTime() / 1e9
                out.run_s += stage.executorRunTime() / 1e3
                out.shuffle_mb += stage.shuffleWriteBytes() / MB
                out.spill_mb += (stage.memoryBytesSpilled() + stage.diskBytesSpilled()) / MB
        return out

    def cached_mb(self) -> float:
        """Bytes held by persisted RDDs and DataFrames, memory plus disk."""
        return sum(
            (info.memSize() + info.diskSize()) / MB for info in self._jsc.getRDDStorageInfo()
        )

    def jvm_pid(self) -> int:
        return self._sc._jvm.java.lang.ProcessHandle.current().pid()


def peak_rss_mb(pid: int) -> float:
    """Peak resident set size of process ``pid`` (VmHWM), in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")
