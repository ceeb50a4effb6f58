"""In-memory span recorder for the traced benchmark run.

Spans are recorded from the benchmark's own files only: :meth:`Tracer.wrap`
replaces a public entry point of one engine layer (a module function or a
class method) with a timing shim for the length of the run, and
:meth:`Tracer.span` marks the benchmark's own phases. Nothing is written
until :meth:`Tracer.dump` at the end of the run.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    request: int | None


class Tracer:
    """Records spans when ``enabled``; every method is a no-op otherwise."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self.request: int | None = None
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        idx = len(self.spans)
        self.spans.append(
            Span(name, layer, time.perf_counter(), 0.0, stack[-1] if stack else None, self.request)
        )
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            self.spans[idx].end = time.perf_counter()

    def patch(self, owner: object, attr: str, replacement) -> None:
        """Replace ``owner.attr`` until :meth:`unwrap` restores it."""
        raw = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        setattr(owner, attr, replacement)
        self._patched.append((owner, attr, raw))

    def wrap(self, owner: object, attr: str, name: str, layer: str) -> None:
        """Time every call of ``owner.attr`` as a span until :meth:`unwrap`."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def shim(*args, **kwargs):
            with self.span(name, layer):
                return orig(*args, **kwargs)

        self.patch(owner, attr, shim)

    def unwrap(self) -> None:
        while self._patched:
            owner, attr, raw = self._patched.pop()
            setattr(owner, attr, raw)

    # -- read-out --------------------------------------------------------------

    def spans_named(self, name: str, *, in_setup: bool = False) -> list[Span]:
        """Spans called ``name`` from timed operations (which carry a
        request id) or, with ``in_setup``, from set-up (which carries none)."""
        return [
            s for s in self.spans
            if s.name == name and (s.request is None) == in_setup
        ]

    def total(self, name: str, *, in_setup: bool = False) -> float:
        """Summed duration (s) of the spans :meth:`spans_named` returns."""
        return sum(s.end - s.start for s in self.spans_named(name, in_setup=in_setup))

    def self_times(self) -> dict[str, float]:
        """Per layer, over timed operations: span time minus the part
        covered by child spans."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            if s.request is not None:
                out[s.layer] = out.get(s.layer, 0.0) + (s.end - s.start) - child[i]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(
                {"spans": [asdict(s) for s in self.spans], "self_s": self.self_times()},
                fh,
            )


class JobCounter:
    """Spark jobs and completed tasks run under one job group, read from
    the status tracker (skipped stages add no tasks)."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self._n = 0

    @contextmanager
    def group(self):
        """Run the block under a fresh job group; yields a dict that holds
        ``jobs`` and ``tasks`` once the block has finished."""
        self._n += 1
        gid = f"perfbench-{self._n}"
        self.sc.setJobGroup(gid, gid)
        counts = {"jobs": 0, "tasks": 0}
        try:
            yield counts
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            tracker = self.sc.statusTracker()
            ids = tracker.getJobIdsForGroup(gid)
            # the tracker is fed by the asynchronous listener bus
            deadline = time.perf_counter() + 2.0
            while time.perf_counter() < deadline and any(
                (tracker.getJobInfo(j) or _Unknown).status not in ("SUCCEEDED", "FAILED")
                for j in ids
            ):
                time.sleep(0.01)
            counts["jobs"] = len(ids)
            for jid in ids:
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    st = tracker.getStageInfo(sid)
                    counts["tasks"] += st.numCompletedTasks if st else 0


class _Unknown:
    status = "UNKNOWN"
