"""In-memory spans around the program's layer calls.

The spans are recorded from the benchmark's side of each call; the
program's source is not edited. ``load_table`` and ``release_caches`` are
called from inside query construction, so ``instrument`` rebinds them at
run time in every namespace that holds them.
"""

from __future__ import annotations

import itertools
import sys
import time
from contextlib import contextmanager, nullcontext

from stats import Span


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.recording = False
        self.released = 0
        self._ids = itertools.count(1)
        self._stack: list[int] = []
        self._trace = 0

    @contextmanager
    def _record(self, name: str):
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        if parent is None:
            self._trace = sid
        self._stack.append(sid)
        start = time.perf_counter()
        try:
            yield sid
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.spans.append(Span(self._trace, sid, parent, name, start, end))

    def span(self, name: str):
        """A span named ``name`` under the open one, if recording."""
        return self._record(name) if self.recording else nullcontext()


def _rebind(prefixes: tuple[str, ...], attr: str, original, wrapper) -> list:
    """Point ``attr`` at ``wrapper`` in every loaded module under
    ``prefixes`` that holds ``original``; return what to undo."""
    undo = []
    for name, mod in list(sys.modules.items()):
        if name.startswith(prefixes) and getattr(mod, attr, None) is original:
            setattr(mod, attr, wrapper)
            undo.append((mod, attr, original))
    return undo


def instrument(tracer: Tracer):
    """Wrap ``load_table`` and ``release_caches`` in spans; return a
    function that restores the originals."""
    from frauddetection_spark.operators import caching
    from frauddetection_spark.sources import tables

    load_table = tables.load_table
    release_caches = caching.release_caches

    def traced_load_table(spark, sf_dir, name):
        with tracer.span("tables.load_table"):
            return load_table(spark, sf_dir, name)

    def traced_release_caches():
        with tracer.span("cache.release"):
            n = release_caches()
        if tracer.recording:
            tracer.released += n
        return n

    undo = _rebind(("frauddetection_spark.sources.tables", "frauddetection_spark.queries."),
                   "load_table", load_table, traced_load_table)
    undo += _rebind(("frauddetection_spark.",), "release_caches", release_caches,
                    traced_release_caches)

    def restore() -> None:
        for mod, attr, original in undo:
            setattr(mod, attr, original)

    return restore
