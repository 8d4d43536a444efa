"""Spans around public layer calls, with Spark task metrics per span.

Each span runs its Spark work in a job group of its own; a lazy result is
persisted and forced through the ``noop`` sink inside the span, so the
span holds that layer's work and nothing upstream of it. After a traced
repetition, ``StatusStore`` reads each group's jobs and their stages'
task metrics from Spark's status store (executor run time, CPU, GC,
shuffle, spill, input bytes). Nothing is traced inside the package.

Spans are kept in memory and written out once, at the end of the run.
"""

from __future__ import annotations

import contextlib
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    run_id: str
    phase: str  # "job" or "resume"
    group: str
    t0: float = 0.0  # epoch seconds
    t1: float = 0.0
    jobs: list[dict] = field(default_factory=list)

    @property
    def wall_s(self) -> float:
        return self.t1 - self.t0


class TracedHooks:
    """Drop-in for ``workloads.PlainHooks`` that records spans."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.phase = "job"
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._persisted = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        s = Span(sid, name, parent.sid if parent else None, self.run_id, self.phase,
                 f"{self.run_id}/{sid}/{name}")
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.group, name)
        s.t0 = time.time()
        try:
            yield s
        finally:
            s.t1 = time.time()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1].group, self._stack[-1].name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    @contextlib.contextmanager
    def root(self, phase: str):
        """Span around one whole pipeline run; jobs not claimed by a layer
        span (stage writes, row-count scans) land in its group."""
        self.phase = phase
        with self.span(phase) as s:
            yield s

    def call(self, layer, fn, *args, **kw):
        with self.span(layer):
            return fn(*args, **kw)

    def force(self, layer, df):
        if self.phase == "resume" and layer == "sources":
            return df  # the resume run reads checkpoints, not the source
        with self.span(layer):
            df = df.persist()
            df.write.format("noop").mode("overwrite").save()
        self._persisted.append(df)
        return df

    def release(self):
        for df in self._persisted:
            df.unpersist()
        self._persisted = []

    def dump(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


class StatusStore:
    """Job and stage metrics from Spark's status store, by job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self._seen: set[int] = set()  # a stage is counted for the first job that ran it

    def _stage(self, stage_id: int) -> dict:
        gw = self.sc._gateway
        seq = self.store.stageData(
            stage_id, False, gw.jvm.java.util.ArrayList(), False, gw.new_array(gw.jvm.double, 0)
        )
        out = dict(run_s=0.0, cpu_s=0.0, gc_s=0.0, input_bytes=0, output_bytes=0,
                   shuffle_read_bytes=0, shuffle_write_bytes=0, spill_bytes=0, skew=0.0)
        it = seq.iterator()
        while it.hasNext():
            sd = it.next()
            out["run_s"] += sd.executorRunTime() / 1e3
            out["cpu_s"] += sd.executorCpuTime() / 1e9
            out["gc_s"] += sd.jvmGcTime() / 1e3
            out["input_bytes"] += sd.inputBytes()
            out["output_bytes"] += sd.outputBytes()
            out["shuffle_read_bytes"] += sd.shuffleReadBytes()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.diskBytesSpilled() + sd.memoryBytesSpilled()
            out["skew"] = max(out["skew"], self._task_skew(stage_id, sd.attemptId()))
        return out

    def _task_skew(self, stage_id: int, attempt: int) -> float:
        """Slowest task's run time over the median task's, in one stage."""
        gw = self.sc._gateway
        q = gw.new_array(gw.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        dist = self.store.taskSummary(stage_id, attempt, q)
        if dist.isEmpty():
            return 0.0
        rt = dist.get().executorRunTime()
        med, top = rt.apply(0), rt.apply(1)
        return top / max(med, 1.0)

    def jobs(self, group: str) -> list[dict]:
        out = []
        for jid in sorted(self.sc.statusTracker().getJobIdsForGroup(group)):
            jd = self.store.job(jid)
            sub, done = jd.submissionTime(), jd.completionTime()
            stages = []
            it = jd.stageIds().iterator()
            while it.hasNext():
                sid = it.next()
                if sid not in self._seen:
                    self._seen.add(sid)
                    stages.append(self._stage(sid))
            out.append(dict(
                id=jid,
                name=jd.name(),
                t0=sub.get().getTime() / 1e3 if sub.isDefined() else 0.0,
                t1=done.get().getTime() / 1e3 if done.isDefined() else 0.0,
                stages=stages,
            ))
        return out

    def fill(self, spans: list[Span]) -> None:
        for s in spans:
            s.jobs = self.jobs(s.group)


# -- aggregation ----------------------------------------------------------------


def totals(jobs: list[dict], wall_s: float, cores: int) -> dict:
    """Sum stage metrics over jobs; derive slot use and straggler skew."""
    keys = ("run_s", "cpu_s", "gc_s", "input_bytes", "output_bytes",
            "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")
    t = {k: 0.0 for k in keys}
    heaviest = (0.0, 0.0)  # (run_s, skew) of the stage with the most task time
    for j in jobs:
        for st in j["stages"]:
            for k in keys:
                t[k] += st[k]
            if st["run_s"] > heaviest[0]:
                heaviest = (st["run_s"], st["skew"])
    t["jobs"] = len(jobs)
    t["wall_s"] = wall_s
    t["slot_util"] = t["run_s"] / (wall_s * cores) if wall_s > 0 else 0.0
    t["task_max_over_median"] = heaviest[1]
    return t


def job_wall(jobs: list[dict]) -> float:
    return sum(max(j["t1"] - j["t0"], 0.0) for j in jobs)


def in_window(jobs: list[dict], t0: float, t1: float) -> list[dict]:
    """Jobs submitted within ``[t0, t1)`` (epoch seconds, ms resolution)."""
    return [j for j in jobs if t0 - 1e-3 <= j["t0"] < t1]
