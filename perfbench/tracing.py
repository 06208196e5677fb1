"""Traced-run plumbing: in-memory spans and Spark status-store counters.

Spans are recorded around the benchmark's own calls into the engine's
layers and written out once, when the run ends.  Counters come from
Spark's status store, which is populated with the UI off; every traced
call runs under its own job group so its jobs and stages can be told
apart from everything else the session did.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Counters:
    """What the status store knows about one job group's work."""

    jobs: int = 0
    stages: int = 0  # executed stages; skipped (reused) ones not counted
    tasks: int = 0
    run_s: float = 0.0  # executorRunTime: includes Python-worker time
    cpu_s: float = 0.0  # executorCpuTime: JVM CPU only
    gc_s: float = 0.0
    input_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0  # disk spill

    def __add__(self, other: "Counters") -> "Counters":
        return Counters(**{k: v + getattr(other, k) for k, v in asdict(self).items()})


class StatusStore:
    """Reads per-job-group counters from ``sc.statusStore()``.

    Only jobs newer than the last :meth:`take` are examined, so each
    read costs a py4j round trip per new job and stage, not per job the
    session ever ran.
    """

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        jsc = self._sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._seen_job = self._newest_job_id()

    def _newest_job_id(self) -> int:
        it = self._store.jobsList(None).iterator()
        return it.next().jobId() if it.hasNext() else -1

    @contextmanager
    def group(self, name: str):
        self._sc.setJobGroup(name, name)
        try:
            yield
        finally:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)

    def take(self) -> dict[str, Counters]:
        """Counters per job group for every job since the last call."""
        # job and stage end events reach the store asynchronously
        self._bus.waitUntilEmpty()
        by_group: dict[str, Counters] = {}
        stages_by_group: dict[str, list[int]] = {}
        newest = self._seen_job
        it = self._store.jobsList(None).iterator()  # newest job first
        while it.hasNext():
            job = it.next()
            job_id = job.jobId()
            if job_id <= self._seen_job:
                break
            newest = max(newest, job_id)
            opt = job.jobGroup()
            name = opt.get() if opt.isDefined() else ""
            by_group.setdefault(name, Counters()).jobs += 1
            sids = job.stageIds().iterator()
            while sids.hasNext():
                stages_by_group.setdefault(name, []).append(sids.next())
        self._seen_job = newest
        for name, sids in stages_by_group.items():
            c = by_group[name]
            for sid in sorted(set(sids)):
                s = self._store.lastStageAttempt(sid)
                if s.status().toString() == "SKIPPED":
                    continue
                c.stages += 1
                c.tasks += s.numTasks()
                c.run_s += s.executorRunTime() / 1e3
                c.cpu_s += s.executorCpuTime() / 1e9
                c.gc_s += s.jvmGcTime() / 1e3
                c.input_bytes += s.inputBytes()
                c.shuffle_write_bytes += s.shuffleWriteBytes()
                c.spill_bytes += s.diskBytesSpilled()
        return by_group


@dataclass
class Tracer:
    """Spans kept in memory; :meth:`dump` writes them out at the end."""

    store: StatusStore
    spans: list[dict] = field(default_factory=list)
    _next_id: int = 0

    @contextmanager
    def span(self, name: str, parent: int | None = None, counted: bool = True):
        """Time the block; yields the span dict.  A counted span runs
        under its own job group and gets ``counters`` when it exits; an
        uncounted one only groups child spans (counted spans do not nest)."""
        self._next_id += 1
        rec = {"id": self._next_id, "parent": parent, "name": name,
               "counters": Counters()}
        if not counted:
            rec["start"] = time.perf_counter()
            yield rec
            rec["end"] = time.perf_counter()
        else:
            self.store.take()  # attribute nothing earlier to this span
            with self.store.group(f"{name}#{self._next_id}"):
                rec["start"] = time.perf_counter()
                yield rec
                rec["end"] = time.perf_counter()
            rec["counters"] = sum(self.store.take().values(), Counters())
        self.spans.append(rec)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps({**rec, "counters": asdict(rec["counters"])}) + "\n")


def seconds(rec: dict) -> float:
    return rec["end"] - rec["start"]
