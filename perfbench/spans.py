"""In-memory layer spans and a py4j round-trip counter.

A ``Tracer`` records one span per layer call: name, start, end, parent span
and the item it belongs to, plus the py4j commands sent while it was open.
Only the thread that created the tracer records spans; py4j commands sent
from worker threads count toward the span open on that thread meanwhile.
Self time of a span is its duration minus the time its child spans cover, so
the self times of one item's spans add up to the item's wall time exactly;
the part no layer claims stays on the item's root span.

``Py4jCounter`` wraps the gateway client's ``send_command`` and counts the
commands it sends, splitting the garbage-collection detach commands (``m``)
from every other round trip (calls, constructors, field and reflection
lookups). Detaches follow Python's GC and drift between passes; the rest
repeat exactly for the same work.
"""

from __future__ import annotations

import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Py4jCounter:
    """Counts py4j commands while installed. Thread-safe: operator code may
    call into the JVM from a thread pool."""

    def __init__(self, gateway_client) -> None:
        self._client = gateway_client
        self._lock = threading.Lock()
        self.calls = 0
        self.detaches = 0

    def install(self) -> None:
        """Wrap ``send_command`` on the client instance for the rest of the
        process's life."""
        orig = self._client.send_command

        def send_command(command, *args, **kwargs):
            with self._lock:
                if command.startswith("m\n"):
                    self.detaches += 1
                else:
                    self.calls += 1
            return orig(command, *args, **kwargs)

        self._client.send_command = send_command

    def snapshot(self) -> tuple[int, int]:
        with self._lock:
            return self.calls, self.detaches


class Span:
    __slots__ = ("name", "item", "parent", "start", "end", "calls", "children")

    def __init__(self, name: str, item: str, parent: "Span | None") -> None:
        self.name, self.item, self.parent = name, item, parent
        self.start = self.end = 0.0
        self.calls = 0
        self.children: list[Span] = []


class Tracer:
    """Span recorder for one run. ``enabled`` is switched per pass so a run
    can alternate traced and untraced passes; when off, ``span`` does no
    bookkeeping at all."""

    def __init__(self, counter: Py4jCounter | None = None) -> None:
        self.counter = counter
        self.enabled = False
        self.roots: list[Span] = []
        self.counts: dict[str, int] = defaultdict(int)
        self._stack: list[Span] = []
        self._item = ""
        self._thread = threading.get_ident()

    def _calls(self) -> int:
        return self.counter.snapshot()[0] if self.counter else 0

    @contextmanager
    def span(self, name: str, item: str | None = None):
        if not self.enabled or threading.get_ident() != self._thread:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(name, item if item is not None else self._item, parent)
        if parent is None:
            self.roots.append(s)
            self._item = s.item
        else:
            parent.children.append(s)
        self._stack.append(s)
        c0 = self._calls()
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            s.calls = self._calls() - c0
            self._stack.pop()

    def count(self, name: str, n: int) -> None:
        """Add ``n`` to a per-pass counter (bytes through a codec)."""
        if self.enabled:
            self.counts[name] += n

    def wrap(self, name: str, fn):
        """``fn`` with a span around every call."""
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    def take(self) -> tuple[list[Span], dict[str, int]]:
        """Hand over the finished root spans and counters; start afresh."""
        roots, counts = self.roots, dict(self.counts)
        self.roots, self.counts = [], defaultdict(int)
        return roots, counts


@contextmanager
def patched(bindings: list[tuple[object, str, object]]):
    """Temporarily set ``obj.attr = value`` for each binding; restore after."""
    saved = [(obj, attr, getattr(obj, attr)) for obj, attr, _ in bindings]
    for obj, attr, value in bindings:
        setattr(obj, attr, value)
    try:
        yield
    finally:
        for obj, attr, value in reversed(saved):
            setattr(obj, attr, value)


def self_times(roots: list[Span]) -> tuple[dict[str, float], dict[str, int]]:
    """Seconds and py4j round trips per layer name, each span counted net of
    its children, summed over ``roots`` and all their descendants."""
    secs: dict[str, float] = defaultdict(float)
    calls: dict[str, int] = defaultdict(int)
    todo = list(roots)
    while todo:
        s = todo.pop()
        secs[s.name] += (s.end - s.start) - sum(c.end - c.start for c in s.children)
        calls[s.name] += s.calls - sum(c.calls for c in s.children)
        todo.extend(s.children)
    return dict(secs), dict(calls)


def to_records(roots: list[Span], pass_no: int, first_id: int = 0) -> list[dict]:
    """Flatten spans to JSON-ready rows with integer ids (from ``first_id``)
    and parent ids."""
    rows: list[dict] = []
    ids: dict[int, int] = {}
    todo = list(roots)
    while todo:
        s = todo.pop(0)
        ids[id(s)] = first_id + len(rows)
        rows.append({"id": first_id + len(rows), "pass": pass_no, "name": s.name,
                     "item": s.item, "start": s.start, "end": s.end,
                     "parent": ids.get(id(s.parent)) if s.parent else None,
                     "py4j_calls": s.calls})
        todo.extend(s.children)
    return rows
