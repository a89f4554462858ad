"""Per-layer spans whose Spark counters come from the status store.

A span wraps the calls a benchmark job makes into one engine layer. It sets
a Spark job group unique to the span, times the block, and on exit reads
the group's jobs and stages from the driver's status store. The store works
with the UI disabled, but keeps only ``spark.ui.retainedStages`` stages, so
the counters are read as each span closes rather than once per job.
"""

from __future__ import annotations

import itertools
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

# The counters reported as per-layer metrics. A LayerRecord also holds
# rows_out, failed_tasks and lost_stages, which are checks rather than costs.
COUNTERS = (
    "wall_s",
    "driver_only_s",
    "exec_cpu_s",
    "spark_stages",
    "shuffle_write_mb",
    "spill_mb",
)

_GROUP_IDS = itertools.count()


@dataclass
class GroupCounters:
    """What the status store holds for one job group."""

    stages: int = 0
    lost_stages: int = 0
    exec_cpu_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    failed_tasks: int = 0
    # (submission, completion) of each job, in epoch seconds
    job_spans: tuple = ()


@dataclass
class LayerRecord:
    name: str
    group: str
    wall_s: float
    driver_only_s: float
    exec_cpu_s: float
    spark_stages: int
    shuffle_write_mb: float
    spill_mb: float
    rows_out: int
    failed_tasks: int
    lost_stages: int
    # time spent reading this span's counters, after the span closed
    read_s: float

    def as_dict(self) -> dict:
        return asdict(self)


def read_group(sc, group: str, until: float) -> GroupCounters:
    """Sum the stage counters of every job in ``group``.

    A job also lists the stages it skipped because their shuffle output
    was reused; those count for the job that ran them. A stage that ran but
    is no longer in the store counts as lost: the store keeps jobs longer
    than stages, and each job knows how many of its stages ran."""
    jsc = sc._jsc.sc()
    # the status store is filled by an asynchronous listener
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    out = GroupCounters()
    spans = []
    for job_id in sc.statusTracker().getJobIdsForGroup(group):
        job = store.job(job_id)
        sub, done = job.submissionTime(), job.completionTime()
        if not sub.isDefined():
            continue
        start_ms = sub.get().getTime()
        end = done.get().getTime() / 1e3 if done.isDefined() else until
        spans.append((start_ms / 1e3, end))
        ran = job.numCompletedStages() + job.numFailedStages()
        out.failed_tasks += job.numFailedTasks()
        ids = job.stageIds()
        for k in range(ids.size()):
            try:
                st = store.lastStageAttempt(ids.apply(k))
            except Exception:  # py4j wraps the store's NoSuchElementException
                continue
            st_sub = st.submissionTime()
            if st.status().toString() == "SKIPPED" or not st_sub.isDefined():
                continue
            if st_sub.get().getTime() < start_ms:
                continue  # ran in an earlier job
            ran -= 1
            out.stages += 1
            out.exec_cpu_s += st.executorCpuTime() / 1e9
            out.shuffle_write_mb += st.shuffleWriteBytes() / 1e6
            out.spill_mb += st.diskBytesSpilled() / 1e6
        out.lost_stages += max(ran, 0)
    out.job_spans = tuple(spans)
    return out


def busy_seconds(spans, start: float, end: float) -> float:
    """Length of the union of ``spans`` clipped to [start, end]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in spans):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Span:
    """Handle a span body uses to report the rows its layer produced."""

    rows: int = 0


class Tracer:
    """Collects one LayerRecord per span; a disabled tracer only runs the
    bodies, so the traced and untraced jobs share their code."""

    def __init__(self, spark, enabled: bool = True):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.records: list[LayerRecord] = []

    @contextmanager
    def span(self, name: str):
        sp = Span()
        if not self.enabled:
            yield sp
            return
        group = f"perfbench-{next(_GROUP_IDS)}-{name}"
        self.sc.setJobGroup(group, name)
        t0 = time.time()
        try:
            yield sp
        finally:
            t1 = time.time()
            self.sc._jsc.clearJobGroup()
        c = read_group(self.sc, group, t1)
        wall = t1 - t0
        read_s = time.time() - t1
        self.records.append(
            LayerRecord(
                name=name,
                group=group,
                wall_s=wall,
                driver_only_s=max(0.0, wall - busy_seconds(c.job_spans, t0, t1)),
                exec_cpu_s=c.exec_cpu_s,
                spark_stages=c.stages,
                shuffle_write_mb=c.shuffle_write_mb,
                spill_mb=c.spill_mb,
                rows_out=int(sp.rows),
                failed_tasks=c.failed_tasks,
                lost_stages=c.lost_stages,
                read_s=read_s,
            )
        )
