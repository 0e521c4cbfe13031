"""Spans, counts and interval arithmetic for the traced run (no Spark).

A span is one call into an engine layer, timed from the benchmark's own
files: name, start, end, parent span and the thread it ran on. Spans are
kept in memory and written out when the run ends.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float | None = None
    parent: int | None = None
    thread: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


class Tracer:
    """Records spans when ``enabled``. Untraced, spans are still timed but
    not kept, so callers read durations the same way in both modes."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.hook_s = 0.0  # time spent inside tracing hooks
        self._lock = threading.Lock()
        self._local = threading.local()

    def enter(self, name: str, **attrs) -> Span:
        """Open a span as the child of this thread's current span and make
        it the current one."""
        span = Span(
            sid=-1, name=name, start=time.time(),
            parent=getattr(self._local, "current", None),
            thread=threading.get_ident(), attrs=attrs,
        )
        if self.enabled:
            with self._lock:
                span.sid = len(self.spans)
                self.spans.append(span)
            self._local.current = span.sid
        return span

    def exit(self, span: Span) -> Span:
        span.end = time.time()
        if self.enabled:
            self._local.current = span.parent
        return span

    @contextmanager
    def span(self, name: str, **attrs):
        s = self.enter(name, **attrs)
        try:
            yield s
        finally:
            self.exit(s)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.end is not None]

    def dump(self, path: str, counts: dict) -> None:
        """Write the spans, each with its self time, and the run's
        per-layer counts as JSON."""
        own = self_times(self.spans)
        spans = [dict(asdict(s), self_s=own.get(s.sid)) for s in self.spans]
        with open(path, "w") as f:
            json.dump({"spans": spans, "counts": counts}, f)


def union_length(intervals) -> float:
    """Total length covered by the union of ``(start, end)`` intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
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


def uncovered(start: float, end: float, intervals) -> float:
    """Part of ``[start, end]`` not covered by any of ``intervals``.

    With Spark job intervals this is a call's driver gap: wall time in
    which no job of the call was running."""
    clipped = [(max(s, start), min(e, end)) for s, e in intervals]
    return (end - start) - union_length(clipped)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time per span id: its duration minus the part of its interval
    covered by its child spans."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None and s.end is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.sid: uncovered(s.start, s.end, children.get(s.sid, []))
        for s in spans
        if s.end is not None
    }


def commit_for_files(files, commits):
    """Map each landed file to the commit that applied it.

    ``files``: ``(seq_lo, seq_hi)`` per file; ``commits``: dicts with
    ``version``, ``seq_min`` and ``seq_max`` (the lineage entries of
    merges). A file is applied by the earliest commit whose seq range
    covers the file's highest seq. Returns one commit (or ``None`` if no
    commit covers it yet) per file.
    """
    ordered = sorted(
        (c for c in commits if c.get("seq_min") is not None),
        key=lambda c: c["version"],
    )
    out = []
    for lo, hi in files:
        if lo > hi:
            raise ValueError(f"file seq range ({lo}, {hi}) is empty")
        out.append(
            next(
                (c for c in ordered if c["seq_min"] <= hi <= c["seq_max"]),
                None,
            )
        )
    return out
