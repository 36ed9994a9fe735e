"""Run records read from Spark's status store, and in-memory spans.

``StatusStore.mark()`` notes the newest job and stage; ``delta(mark)``
returns what ran since as a ``Counts``. Both read the application's
status store over Py4J, which works with ``spark.ui.enabled=false``:

- ``jobsList(ArrayList())`` and ``stageList(ArrayList(), False, False,
  new_array(double, 0), ArrayList())`` have no default arguments over
  Py4J, so every argument is passed;
- both return a Scala ``Seq``, newest first, indexed with ``.apply(i)``;
- the listener bus is drained first, so the store holds every event of
  an action that has returned.

``Tracer`` keeps one span per traced call (name, start, end, parent, run
id, counts) in memory; the benchmark writes them out when it ends.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

MB = 1024.0 * 1024.0


@dataclass
class Counts:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    exec_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    output_mb: float = 0.0
    spill_mb: float = 0.0


@dataclass(frozen=True)
class Mark:
    job_id: int
    stage_id: int


class StatusStore:
    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        jsc = sc._jsc.sc()  # noqa: SLF001 - the status store has no Python API
        self._jvm = sc._jvm  # noqa: SLF001
        self._gateway = sc._gateway  # noqa: SLF001
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()

    def _jobs(self):
        self._bus.waitUntilEmpty()
        return self._store.jobsList(self._jvm.java.util.ArrayList())

    def _stages(self):
        no_quantiles = self._gateway.new_array(self._jvm.double, 0)
        return self._store.stageList(
            self._jvm.java.util.ArrayList(), False, False, no_quantiles, self._jvm.java.util.ArrayList()
        )

    def mark(self) -> Mark:
        jobs = self._jobs()
        stages = self._stages()
        return Mark(
            jobs.apply(0).jobId() if jobs.size() else -1,
            stages.apply(0).stageId() if stages.size() else -1,
        )

    def delta(self, mark: Mark) -> Counts:
        out = Counts()
        jobs = self._jobs()
        for i in range(jobs.size()):
            if jobs.apply(i).jobId() <= mark.job_id:
                break
            out.jobs += 1
        stages = self._stages()
        for i in range(stages.size()):
            s = stages.apply(i)
            if s.stageId() <= mark.stage_id:
                break
            if str(s.status()) == "SKIPPED":
                continue
            out.stages += 1
            out.tasks += s.numCompleteTasks()
            out.exec_s += s.executorRunTime() / 1000.0
            out.shuffle_read_mb += (s.shuffleLocalBytesRead() + s.shuffleRemoteBytesRead()) / MB
            out.shuffle_write_mb += s.shuffleWriteBytes() / MB
            out.output_mb += s.outputBytes() / MB
            out.spill_mb += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / MB
        return out


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""
    counts: dict = field(default_factory=dict)


class Tracer:
    """Spans around calls into the program's layers. ``store=None`` keeps
    spans without status-store counts."""

    def __init__(self, run_id: str, store: StatusStore | None = None) -> None:
        self.run_id = run_id
        self.store = store
        self.spans: list[Span] = []
        self._open: list[int] = []
        self._t0 = time.monotonic()

    @contextmanager
    def span(self, name: str):
        """Yields the span; its ``counts`` are filled in when the call
        returns, its ``start``/``end`` exclude the status-store reads."""
        mark = self.store.mark() if self.store else None
        sp = Span(name, 0.0, parent=self._open[-1] if self._open else None, run_id=self.run_id)
        self.spans.append(sp)
        self._open.append(len(self.spans) - 1)
        sp.start = time.monotonic() - self._t0
        try:
            yield sp
        finally:
            sp.end = time.monotonic() - self._t0
            self._open.pop()
            if mark is not None:
                sp.counts = asdict(self.store.delta(mark))

    def records(self) -> list[dict]:
        return [asdict(s) | {"id": i} for i, s in enumerate(self.spans)]
