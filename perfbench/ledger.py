"""Outside-in layer ledger for the traced run.

Each call into a layer is a span: name, start, end and parent, kept in
memory and written out once at the end.  Every span is tagged with a Spark
job group, and the Spark work it caused is read back from the local status
store (which works with the UI disabled): jobs, stages that ran, tasks,
failed tasks, shuffle bytes, executor run time and the intervals during
which a job was running.

Jobs are attributed to a span by job id, not by group: the miner submits
jobs from its own worker threads, which do not inherit the caller's job
group.  Spans run one at a time, so the jobs submitted between a span's
start and end are exactly its jobs.
"""

from __future__ import annotations

import gc
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: str | None = None
    call: int = 0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    executor_run_s: float = 0.0
    no_job_s: float = 0.0

    @property
    def s(self) -> float:
        return self.end - self.start


def _epoch_s(opt) -> float | None:
    """A Scala ``Option[java.util.Date]`` as epoch seconds."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class Ledger:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._scala_sc = self.sc._jsc.sc()
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def _max_job_id(self) -> int:
        """The newest job id; the store lists jobs newest first."""
        jobs = self._scala_sc.statusStore().jobsList(None)
        return jobs.apply(0).jobId() if jobs.size() else -1

    def _drain(self) -> None:
        """Wait until the status listener has seen every event so far."""
        self._scala_sc.listenerBus().waitUntilEmpty()

    @contextmanager
    def span(self, name: str, call: int = 0):
        parent = self._stack[-1].name if self._stack else None
        self._drain()
        first_job = self._max_job_id() + 1
        self.sc.setJobGroup(f"perfbench:{name}:{call}", name)
        sp = Span(name, time.time(), parent=parent, call=call)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if self._stack:
                outer = self._stack[-1]
                self.sc.setJobGroup(f"perfbench:{outer.name}:{outer.call}", outer.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self._drain()
            self._account(sp, first_job)
            self.spans.append(sp)

    def _account(self, sp: Span, first_job: int) -> None:
        store = self._scala_sc.statusStore()
        intervals = []
        for jid in range(first_job, self._max_job_id() + 1):
            job = store.job(jid)
            sp.jobs += 1
            t0, t1 = _epoch_s(job.submissionTime()), _epoch_s(job.completionTime())
            if t0 is not None:
                intervals.append((max(t0, sp.start), min(t1 or sp.end, sp.end)))
            ids = job.stageIds()
            for i in range(ids.size()):
                stage = store.lastStageAttempt(ids.apply(i))
                if stage.status().toString() == "SKIPPED":
                    continue
                sp.stages += 1
                sp.tasks += stage.numTasks()
                sp.failed_tasks += stage.numFailedTasks()
                sp.shuffle_read_bytes += stage.shuffleReadBytes()
                sp.shuffle_write_bytes += stage.shuffleWriteBytes()
                sp.executor_run_s += stage.executorRunTime() / 1000.0
        busy, edge = 0.0, sp.start
        for a, b in sorted(intervals):
            a = max(a, edge)
            if b > a:
                busy += b - a
                edge = b
        sp.no_job_s = max(0.0, sp.s - busy)

    def leaked_rdds(self, baseline: int) -> int:
        """Persistent RDDs still registered after a Python and a JVM GC,
        beyond the ``baseline`` the caller holds on purpose.  The context
        cleaner unregisters collected RDDs asynchronously, so poll briefly
        until the count settles."""
        count = baseline
        for _ in range(20):
            gc.collect()
            self.sc._jvm.System.gc()
            time.sleep(0.1)
            now = self.persistent_rdds()
            if now <= baseline or now == count:
                break
            count = now
        return max(0, now - baseline)

    def persistent_rdds(self) -> int:
        return self.sc._jsc.getPersistentRDDs().size()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f, indent=1)
