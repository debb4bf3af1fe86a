"""In-memory span tracer for the traced benchmark run.

Spans are recorded from the benchmark's own files, around the calls it
makes into each package layer. Wrappers replace a function at the
module that CALLS it: ``plans.runner`` binds ``read_listing_json`` and
friends at import, so patching ``sources.readers`` alone would miss
every call the DAG makes.

A span is (id, name, start, end, parent, op, phase). Its parent is the
innermost open span on the same thread or, on a thread with none open
(``run_all`` runs its branches on a pool), the op being timed. Spans
stay in memory until ``dump`` writes them when the run ends.
"""

from __future__ import annotations

import functools
import itertools
import json
import sys
import threading
import time
from collections import Counter
from contextlib import contextmanager

from stats import self_times


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counts: Counter = Counter()  # (phase, name) -> events
        self.phase = "setup"
        self._ids = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()
        self._op_id: int | None = None
        self._op_span: int | None = None
        self._undo: list[tuple[object, str, object]] = []

    # --- recording ---------------------------------------------------------

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        parent = stack[-1] if stack else self._op_span
        op = self._op_id
        sid = next(self._ids)
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            record = {
                "id": sid,
                "name": name,
                "start": start,
                "end": end,
                "parent": parent,
                "op": op,
                "phase": self.phase,
            }
            with self._lock:
                self.spans.append(record)

    @contextmanager
    def op(self, op_id: int):
        """Root span of one timed or warm-up op."""
        self._op_id = op_id
        try:
            with self.span("op"):
                self._op_span = self._stack()[-1]
                yield
        finally:
            self._op_id = self._op_span = None

    def count(self, name: str, n: int = 1) -> None:
        with self._lock:
            self.counts[(self.phase, name)] += n

    # --- installing wrappers ------------------------------------------------

    def wrap(self, module, attr: str, layer: str) -> None:
        """Replace ``module.attr`` by a wrapper recording a ``layer``
        span per call."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer):
                return fn(*args, **kwargs)

        setattr(module, attr, traced)
        self._undo.append((module, attr, fn))

    def wrap_call_sites(self, fn, layer: str, package: str) -> None:
        """Wrap ``fn`` in every loaded module of ``package`` that bound
        it by name."""
        for name, module in list(sys.modules.items()):
            if module is None or not name.startswith(package):
                continue
            for attr, value in list(vars(module).items()):
                if value is fn:
                    self.wrap(module, attr, layer)

    def count_calls(self, cls, attr: str, classify) -> None:
        """Count calls of method ``cls.attr`` by the event name
        ``classify(result)`` returns (no span: these are counters)."""
        fn = getattr(cls, attr)

        @functools.wraps(fn)
        def counted(*args, **kwargs):
            result = fn(*args, **kwargs)
            self.count(classify(result))
            return result

        setattr(cls, attr, counted)
        self._undo.append((cls, attr, fn))

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, fn = self._undo.pop()
            setattr(owner, attr, fn)

    # --- reporting ------------------------------------------------------------

    def layer_seconds(self, phase: str) -> dict[str, float]:
        """Self seconds per span name over one phase (``op`` included:
        an op's self time is the part no layer span covers)."""
        selfs = self_times(self.spans)
        out: dict[str, float] = {}
        for s in self.spans:
            if s["phase"] == phase:
                out[s["name"]] = out.get(s["name"], 0.0) + selfs[s["id"]]
        return out

    def inclusive_seconds(self, phase: str) -> dict[str, float]:
        out: dict[str, float] = {}
        for s in self.spans:
            if s["phase"] == phase:
                out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"]
        return out

    def calls(self, phase: str) -> Counter:
        return Counter(s["name"] for s in self.spans if s["phase"] == phase)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
