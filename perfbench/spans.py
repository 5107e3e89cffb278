"""Wrapper spans around the public calls into each layer.

The benchmark does not instrument the program: it replaces a layer's
public function or method with a wrapper that records a span (name,
start, end, parent, attributes), and ``unwrap_all`` restores the
originals.  Spans stay in memory; the traced run writes them as one
JSON file at its end.

Parents follow the calling thread's open spans.  A call made on
another thread (the streaming engine runs ``foreachBatch`` on its own
thread) takes the main thread's innermost open span as its parent.
"""

from __future__ import annotations

import functools
import threading
import time


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if threading.current_thread() is self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str, **attrs) -> dict:
        stack = self._stack()
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            span = {"id": len(self.spans), "name": name, "parent": parent,
                    "start": time.time(), "end": None, **attrs}
            self.spans.append(span)
        stack.append(span["id"])
        return span

    def close(self, span: dict, **attrs) -> None:
        span["end"] = time.time()
        span.update(attrs)
        stack = self._stack()
        if stack and stack[-1] == span["id"]:
            stack.pop()

    def wrap(self, owner: object, attr: str, name: str, attrs=None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper.
        ``attrs(args, kwargs, result)`` may return extra span fields."""
        orig = getattr(owner, attr)
        raw = owner.__dict__.get(attr, orig) if isinstance(owner, type) else orig

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            span = self.open(name)
            try:
                result = orig(*args, **kwargs)
            except BaseException as e:
                self.close(span, error=type(e).__name__)
                raise
            self.close(span, **(attrs(args, kwargs, result) if attrs else {}))
            return result

        self._patched.append((owner, attr, raw))
        setattr(owner, attr, wrapper)

    def unwrap_all(self) -> None:
        for owner, attr, raw in reversed(self._patched):
            setattr(owner, attr, raw)
        self._patched.clear()

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["end"] is not None]

    def total_s(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.named(name))
