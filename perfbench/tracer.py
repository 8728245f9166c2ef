"""Outside-in tracer: spans around the package's public entry points.

The tracer never edits the package. It replaces module or class
attributes (``cli.cmd_gen_raincell``, ``TimeseriesStore.get_timeseries``,
``sinks.ordered_text.write_ordered_text`` ...) with wrappers that open a
span, and restores them afterwards. Each span tags the Spark jobs it
starts with its own job group, so after the operation the tracer reads
per-span counters from Spark's status store, which works with the UI
disabled.

Lazy layers (plan builders, parsers) only show their build time: the
jobs that execute their plans start inside the sink or commit span that
triggers them, and are counted there.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

COUNTERS = ("jobs", "stages", "spark_s", "task_cpu_s", "input_bytes",
            "output_bytes", "shuffle_write_bytes", "spill_bytes")


@dataclass
class Span:
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    tag: str = ""
    own: dict = field(default_factory=dict)  # counters of jobs started directly here


def self_times(spans: list[Span]) -> list[float]:
    """Duration of each span minus the part its children cover.
    Children of one parent run one after another (the benchmark is a
    single client), so their covered time is the sum of their
    durations, clipped to the parent's interval."""
    out = [s.end - s.start for s in spans]
    for s in spans:
        if s.parent is not None:
            p = spans[s.parent]
            out[s.parent] -= min(s.end, p.end) - max(s.start, p.start)
    return out


def inclusive(spans: list[Span]) -> list[dict]:
    """Counters of each span plus those of all its descendants."""
    acc = [{k: s.own.get(k, 0) for k in COUNTERS} for s in spans]
    for i in range(len(spans) - 1, -1, -1):  # children always follow parents
        p = spans[i].parent
        if p is not None:
            for k in COUNTERS:
                acc[p][k] += acc[i][k]
    return acc


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patches: list[tuple] = []

    # -- spans
    def _set_group(self, idx: int | None) -> None:
        if idx is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(self.spans[idx].tag, self.spans[idx].name)

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, parent, time.perf_counter(), tag=f"perfbench-{id(self)}-{idx}"))
        self._stack.append(idx)
        self._set_group(idx)
        try:
            yield self.spans[idx]
        finally:
            self.spans[idx].end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)

    # -- wrapping public entry points
    def wrap(self, owner, attr: str, name) -> None:
        """Replace ``owner.attr`` with a spanned wrapper. ``name`` is a
        span name or a function of the call's arguments returning one."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def spanned(*args, **kwargs):
            with self.span(name(*args, **kwargs) if callable(name) else name):
                return orig(*args, **kwargs)

        setattr(owner, attr, spanned)
        self._patches.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # -- Spark counters
    def harvest(self) -> None:
        """Fill each span's ``own`` counters from the jobs of its group."""
        from py4j.protocol import Py4JJavaError

        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()  # stage metrics arrive asynchronously
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        for s in self.spans:
            c = dict.fromkeys(COUNTERS, 0)
            for jid in tracker.getJobIdsForGroup(s.tag):
                job = store.job(jid)
                c["jobs"] += 1
                if job.submissionTime().isDefined() and job.completionTime().isDefined():
                    c["spark_s"] += (job.completionTime().get().getTime()
                                     - job.submissionTime().get().getTime()) / 1000.0
                ids = job.stageIds()
                for k in range(ids.size()):
                    try:
                        st = store.lastStageAttempt(ids.apply(k))
                    except Py4JJavaError:  # stage evicted from the store
                        continue
                    if st.status().toString() != "COMPLETE":
                        continue  # skipped: its output was reused
                    c["stages"] += 1
                    c["task_cpu_s"] += st.executorCpuTime() / 1e9
                    c["input_bytes"] += st.inputBytes()
                    c["output_bytes"] += st.outputBytes()
                    c["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    c["spill_bytes"] += st.diskBytesSpilled()
            s.own = c

    def dump(self, path: str) -> None:
        selfs = self_times(self.spans)
        with open(path, "w") as fh:
            json.dump([dict(asdict(s), self_s=st) for s, st in zip(self.spans, selfs)],
                      fh, indent=1)
