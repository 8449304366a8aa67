"""In-memory spans, Spark status-store reads and a process-tree RSS
sampler for the benchmark.

Spans are recorded by the benchmark's own files around the calls it
makes into the package's public functions (and, in a traced run, around
the functions it wraps); nothing inside the package is edited. Spark's
counts come from the driver's status store, read per job group, so a
span and the jobs it ran share one name.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans with parent links; ``enabled=False`` still times the spans
    the benchmark needs for its end-to-end numbers but keeps no tree."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, **attrs):
        s = Span(name, time.perf_counter(), parent=self._stack[-1] if self._stack else None,
                 attrs=attrs)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if not self.enabled:
                self.spans.pop()

    def total(self, name: str, after: int = 0) -> float:
        return sum(s.seconds for s in self.spans[after:] if s.name == name)

    def write(self, path: str, extra: dict) -> None:
        doc = {
            "spans": [
                {"id": i, "name": s.name, "start_s": round(s.start - self.t0, 6),
                 "end_s": round(s.end - self.t0, 6), "parent": s.parent, **s.attrs}
                for i, s in enumerate(self.spans)
            ],
            **extra,
        }
        tmp = f"{path}.tmp"
        with open(tmp, "w") as fh:
            json.dump(doc, fh, indent=1, sort_keys=True)
        os.replace(tmp, path)


# ------------------------------------------------------- Spark status store


@dataclass
class StageStats:
    stage_id: int
    status: str
    tasks: int
    seconds: float
    input_bytes: int
    input_records: int
    output_bytes: int
    shuffle_read_bytes: int
    shuffle_write_bytes: int


def _seconds(sd) -> float:
    sub, comp = sd.submissionTime(), sd.completionTime()
    if sub.isDefined() and comp.isDefined():
        return (comp.get().getTime() - sub.get().getTime()) / 1000.0
    return 0.0


def group_stats(spark, group: str) -> tuple[list[int], list[StageStats]]:
    """Job ids of one job group and the last attempt of each of their
    stages, in stage-id order (skipped stages included, marked so)."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    jobs = sorted(sc.statusTracker().getJobIdsForGroup(group))
    stage_ids: set[int] = set()
    for j in jobs:
        ids = store.job(j).stageIds().mkString(",")
        stage_ids.update(int(x) for x in ids.split(",") if x)
    stages = []
    for sid in sorted(stage_ids):
        sd = store.lastStageAttempt(sid)
        stages.append(StageStats(
            stage_id=sid, status=sd.status().toString(), tasks=sd.numTasks(),
            seconds=_seconds(sd), input_bytes=sd.inputBytes(),
            input_records=sd.inputRecords(), output_bytes=sd.outputBytes(),
            shuffle_read_bytes=sd.shuffleReadBytes(),
            shuffle_write_bytes=sd.shuffleWriteBytes(),
        ))
    return jobs, stages


def ran(stages: list[StageStats]) -> list[StageStats]:
    return [s for s in stages if s.status == "COMPLETE"]


# ------------------------------------------------------------ peak RSS


def _parents() -> dict[int, int]:
    """pid -> parent pid for every visible process."""
    out: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat", "rb") as fh:
                    stat = fh.read()
            except OSError:
                continue
            out[int(name)] = int(stat[stat.rindex(b")") + 2:].split()[1])
    return out


def _pss_kb(pid: int) -> int:
    """Proportional set size: RSS with each shared page split among the
    processes sharing it. A child the JVM forks shares all of the JVM's
    pages until it execs; summing plain RSS would count them twice."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler(threading.Thread):
    """Peak of the summed PSS of this process and its descendants,
    sampled every ``interval`` seconds; ``exclude`` prunes subtrees
    (the scratch database server is not part of the program)."""

    def __init__(self, interval: float = 0.1):
        super().__init__(daemon=True)
        self.interval = interval
        self.exclude: set[int] = set()
        self.peak_kb = 0
        self._stop_evt = threading.Event()

    def sample(self) -> int:
        kids: dict[int, list[int]] = {}
        for pid, ppid in _parents().items():
            kids.setdefault(ppid, []).append(pid)
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            if pid in self.exclude:
                continue
            total += _pss_kb(pid)
            todo.extend(kids.get(pid, ()))
        self.peak_kb = max(self.peak_kb, total)
        return total

    def run(self) -> None:
        while not self._stop_evt.wait(self.interval):
            self.sample()

    def stop(self) -> float:
        self._stop_evt.set()
        if self.is_alive():
            self.join()
        self.sample()
        return self.peak_kb / 1024.0
