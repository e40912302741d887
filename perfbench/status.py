"""Read Spark's status store from outside the package.

The status store is the listener-fed record the Spark UI is drawn from;
it is kept even with ``spark.ui.enabled=false``. Over py4j only the
5-argument ``AppStatusStore.stageList(statuses, details, withSummaries,
quantiles, taskStatus)`` resolves (the 1-argument overload raises "method
does not exist"); ``jobsList`` gives each job's submission and
completion time, from which the driver-only share of a call follows.
Both lists come newest first, so a delta reads only the entries
submitted since a mark.
"""

from __future__ import annotations

from dataclasses import dataclass, field, fields


@dataclass
class Delta:
    """What Spark ran between two marks."""

    stages: int = 0
    single_task_stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    input_bytes: int = 0
    jobs: list[tuple[float, float]] = field(default_factory=list)

    def counts(self) -> dict:
        return {f.name: getattr(self, f.name) for f in fields(self) if f.name != "jobs"}

    def job_covered_s(self, start: float, end: float) -> float:
        """Seconds of ``[start, end]`` during which some job ran."""
        covered, reach = 0.0, start
        for a, b in sorted(self.jobs):
            a, b = max(a, reach), min(b, end)
            if b > a:
                covered += b - a
                reach = b
        return covered


@dataclass
class Mark:
    job_id: int
    stage_id: int


class StatusStore:
    """Stage and job deltas for one SparkContext."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._jvm = sc._jvm
        self._gateway = sc._gateway
        self._store = self._sc.statusStore()
        statuses = self._jvm.org.apache.spark.status.api.v1.StageStatus
        self._finished = self._jvm.java.util.ArrayList()
        self._finished.add(statuses.COMPLETE)
        self._finished.add(statuses.FAILED)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event so far."""
        self._sc.listenerBus().waitUntilEmpty()

    def _jobs(self):
        return self._store.jobsList(self._jvm.java.util.ArrayList()).iterator()

    def _stages(self):
        return self._store.stageList(
            self._finished,
            False,
            False,
            self._gateway.new_array(self._jvm.double, 0),
            self._jvm.java.util.ArrayList(),
        ).iterator()

    def mark(self) -> Mark:
        self.drain()
        jobs, stages = self._jobs(), self._stages()
        return Mark(
            jobs.next().jobId() if jobs.hasNext() else -1,
            stages.next().stageId() if stages.hasNext() else -1,
        )

    def since(self, mark: Mark) -> Delta:
        """Everything that finished after ``mark`` was taken."""
        self.drain()
        delta = Delta()
        it = self._jobs()
        while it.hasNext():
            job = it.next()
            if job.jobId() <= mark.job_id:
                break
            start, end = job.submissionTime(), job.completionTime()
            if start.isDefined() and end.isDefined():
                delta.jobs.append(
                    (start.get().getTime() / 1000.0, end.get().getTime() / 1000.0)
                )
        it = self._stages()
        while it.hasNext():
            stage = it.next()
            if stage.stageId() <= mark.stage_id:
                break
            tasks = stage.numTasks()
            delta.stages += 1
            delta.single_task_stages += tasks == 1
            delta.tasks += tasks
            delta.executor_run_s += stage.executorRunTime() / 1000.0
            delta.executor_cpu_s += stage.executorCpuTime() / 1e9
            delta.gc_s += stage.jvmGcTime() / 1000.0
            delta.shuffle_write_bytes += stage.shuffleWriteBytes()
            delta.input_bytes += stage.inputBytes()
        return delta

    def cached(self) -> tuple[int, int]:
        """(blocks, bytes) of every RDD the block manager still holds."""
        blocks = size = 0
        for info in self._sc.getRDDStorageInfo():
            blocks += info.numCachedPartitions()
            size += info.memSize() + info.diskSize()
        return blocks, size
