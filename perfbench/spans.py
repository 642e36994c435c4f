"""Layer spans around the engine's public calls, and per-layer work.

A span is opened by a wrapper patched over an engine function, at the
name the caller looks it up by (``pipeline.ingest.upsert_parquet_
partitioned``, not only ``operators.upsert``). There is one span stack
for the whole process: folds run on the streaming thread while the
caller blocks in ``drain``, and the change probe submits its jobs from
a thread pool, so a per-thread stack would lose the nesting.

Each span records its name, start, end, parent, the thread that opened
it and the scheduler's next-job-id at entry and exit. While it is open,
its opening thread carries a Spark job tag naming it (job tags are
thread-local and listed with each job in the status store), so a job
belongs to the innermost span open on the thread that submitted it: its
highest-numbered tag (a thread Spark starts, like a streaming query's,
inherits the tags of the thread that started it). A job with none of
these tags was submitted from a thread with no span of its own (the
probe's pool threads); it belongs to the innermost span open on the
client thread when it was submitted, the most recently opened one whose
job-id range holds it. Its stages' task metrics
(``counters.StatusReader``) are charged to that span only, so per-layer
counters are self counters and add up without double counting. Self
time is a span's duration minus the time its children cover. Spans stay
in memory until ``report``.
"""

from __future__ import annotations

import functools
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

from counters import StatusReader, Work


@dataclass
class Span:
    name: str
    parent: int | None
    start: float
    job_lo: int
    thread: int
    end: float = 0.0
    job_hi: int = 0
    children_s: float = 0.0
    extra: dict = field(default_factory=dict)


TAG = "perfbench-span-"


class Tracer:
    def __init__(self, reader: StatusReader, sc):
        self.reader = reader
        self._sc = sc
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    # -- spans ------------------------------------------------------------

    def open(self, name: str) -> int:
        with self._lock:
            parent = self._stack[-1] if self._stack else None
            idx = len(self.spans)
            self._sc.addJobTag(f"{TAG}{idx}")
            self.spans.append(
                Span(
                    name, parent, time.perf_counter(), self.reader.next_job_id(),
                    threading.get_ident(),
                )
            )
            self._stack.append(idx)
            return idx

    def close(self, idx: int) -> None:
        with self._lock:
            s = self.spans[idx]
            s.end = time.perf_counter()
            s.job_hi = self.reader.next_job_id()
            self._sc.removeJobTag(f"{TAG}{idx}")
            self._stack.remove(idx)
            if s.parent is not None:
                self.spans[s.parent].children_s += s.end - s.start

    def call(self, name: str, fn, *args, **kwargs):
        idx = self.open(name)
        try:
            return fn(*args, **kwargs)
        finally:
            self.close(idx)

    # -- patching -----------------------------------------------------------

    def wrap(self, owner, attr: str, name: str, on_call=None) -> None:
        """Replace ``owner.attr`` with a spanned wrapper. ``on_call(span,
        args, kwargs)`` may add extra fields to the span."""
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def spanned(*args, **kwargs):
            idx = tracer.open(name)
            try:
                if on_call is not None:
                    on_call(tracer.spans[idx], args, kwargs)
                return original(*args, **kwargs)
            finally:
                tracer.close(idx)

        setattr(owner, attr, spanned)
        self._patches.append((owner, attr, original))

    def unpatch(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    # -- report -------------------------------------------------------------

    def layers(self) -> dict[str, dict]:
        """Per span name: calls, self_s, the self-attributed Work of its
        jobs, and the summed ``extra`` fields."""
        lo = min((s.job_lo for s in self.spans), default=0)
        hi = max((s.job_hi for s in self.spans), default=0)
        per_job = self.reader.per_job(lo, hi)
        owner: dict[int, int] = {}
        # spans are appended in opening order, so a later client-thread
        # span that holds a job is nested inside every earlier one
        client = threading.main_thread().ident
        for idx, s in enumerate(self.spans):
            if s.thread == client:
                for jid in range(s.job_lo, s.job_hi):
                    owner[jid] = idx
        for jid, tags in self.reader.job_tags(lo, hi).items():
            mine = [int(t[len(TAG):]) for t in tags if t.startswith(TAG)]
            if mine:
                owner[jid] = max(mine)
        out: dict[str, dict] = defaultdict(
            lambda: {"calls": 0, "self_s": 0.0, "work": Work(), "extra": {}}
        )
        for s in self.spans:
            row = out[s.name]
            row["calls"] += 1
            row["self_s"] += (s.end - s.start) - s.children_s
            for k, v in s.extra.items():
                row["extra"][k] = row["extra"].get(k, 0) + v
        for jid, idx in owner.items():
            if jid in per_job:
                out[self.spans[idx].name]["work"].add(per_job[jid])
        return dict(out)
