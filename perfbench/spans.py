"""In-memory spans around calls into the program's layers.

Spans are recorded from the benchmark's own files: ``instrument_engine``
wraps the public entry points of the engine layers (session, dialect,
catalog, model) and restores them on ``close``. The program itself is
not changed.

A span has a name, start, end, parent and request id. Spans nest per
thread; the request id is set by the client before it sends a request
(one client, closed loop, so the server-side spans of a request see it).
"""

from __future__ import annotations

import functools
import json
import threading
import time
from collections import defaultdict
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    request: int


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.request = 0
        self.enabled = True
        self._local = threading.local()
        self._undo: list[tuple[object, str, object]] = []

    # -- recording -------------------------------------------------------

    def wrap(self, name: str, fn, before=None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            if before is not None:
                before()
            stack = self._stack()
            idx = len(self.spans)
            span = Span(name, time.perf_counter(), 0.0, stack[-1] if stack else None, self.request)
            self.spans.append(span)
            stack.append(idx)
            try:
                return fn(*args, **kwargs)
            finally:
                span.end = time.perf_counter()
                stack.pop()

        return traced

    def patch(self, owner, attr: str, name: str, before=None) -> None:
        """Replace ``owner.attr`` with a traced wrapper until ``close``;
        ``before()`` runs first on each traced call."""
        orig = getattr(owner, attr)
        self._undo.append((owner, attr, orig))
        setattr(owner, attr, self.wrap(name, orig, before))

    def close(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    # -- analysis --------------------------------------------------------

    def self_ms(self, requests: set[int]) -> dict[int, dict[str, float]]:
        """Per request: span name -> self time (ms), i.e. duration minus
        the time covered by its direct children (children of one span
        run on its thread, one after another)."""
        child = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for i, s in enumerate(self.spans):
            if s.request in requests:
                out[s.request][s.name] += 1e3 * (s.end - s.start - child[i])
        return out

    def calls(self, name: str, requests: set[int]) -> int:
        return sum(1 for s in self.spans if s.name == name and s.request in requests)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


def instrument_engine(tracer: Tracer, on_request=None) -> None:
    """Span the engine layers a statement passes through.

    ``on_request()`` runs at the start of every traced ``DustSession``
    execute/query call, on the serving thread (the benchmark sets the
    Spark job group there)."""
    from dust_spark import catalog, dialect, session

    for attr in ("execute", "query"):
        tracer.patch(session.DustSession, attr, f"session.{attr}", on_request)
    for fn in ("rewrite_sqlite_fns", "escape_raw_literals", "statement_kind"):
        tracer.patch(dialect, fn, "dialect")
    tracer.patch(session, "statement_kind", "dialect")  # imported by name
    tracer.patch(catalog.Catalog, "materialize", "catalog.materialize")
    tracer.patch(catalog.Catalog, "publish", "catalog.publish")
    tracer.patch(session, "rows_from_dataframe", "model.rows")
