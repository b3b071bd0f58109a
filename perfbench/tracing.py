"""Spans recorded from outside the engine.

The traced run replaces module and class attributes with wrappers at the
place the caller looks them up (``api.rpc.search_objects`` for the RPC
layer's call into the search facade, ``plans.search.topk`` for the
facade's call into top-k, ...). A wrapper records a span (layer, name,
start, end, parent, request id) around the original call. Spans stay in
memory; the benchmark reduces them to per-layer numbers at the end.

Only the thread that created the tracer records spans: the index build
commits posting groups from a thread pool, and their calls would
otherwise interleave with the main thread's span stack.
"""

from __future__ import annotations

import functools
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.request = None  # id stamped on every span opened meanwhile
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object, bool]] = []
        self._thread = threading.get_ident()

    @contextmanager
    def span(self, layer: str, name: str):
        if threading.get_ident() != self._thread:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "layer": layer,
            "name": name,
            "req": self.request,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def patch(self, owner, attr: str, layer: str) -> None:
        """Wrap ``owner.attr`` (a module function or a class method)."""
        orig = getattr(owner, attr)
        own = not isinstance(owner, type) or attr in vars(owner)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(layer, attr):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig, own))

    def unpatch(self) -> None:
        while self._patches:
            owner, attr, orig, own = self._patches.pop()
            if own:
                setattr(owner, attr, orig)
            else:
                delattr(owner, attr)  # was inherited: uncover the parent's
