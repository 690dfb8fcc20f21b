"""Spans for the traced run.

A span is one call into a layer: name, start, end, parent span and the
operation it served.  Spans live in memory and are written out once, when
the run ends.  The benchmark records them from its own files: around the
calls it makes itself, and, in a traced run, by wrapping the layers'
public methods for the life of the process, so calls the engine makes
internally (the pipeline's tier commits, the streaming sink's compactions)
are seen too.  An untraced run installs nothing and its ``span`` is a
no-op.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ recording

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def set_op(self, op: str | None) -> None:
        """Operation id for spans opened by this thread from now on."""
        self._local.op = op

    @contextmanager
    def span(self, name: str):
        """Record one span around the block; the block may add attributes
        to the dict it receives."""
        attrs: dict = {}
        if not self.enabled:
            yield attrs
            return
        st = self._stack()
        sid = next(self._ids)
        rec = {
            "id": sid,
            "name": name,
            "parent": st[-1] if st else None,
            "op": getattr(self._local, "op", None),
            "thread": threading.get_ident(),
            "attrs": attrs,
        }
        st.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield attrs
        finally:
            rec["end"] = time.perf_counter()
            st.pop()
            with self._lock:
                self.spans.append(rec)

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` by a wrapper that opens a span named
        ``name`` (``name`` may be a callable of the call's arguments).
        ``after(attrs, result, args)`` may add attributes once it returns."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            label = name(*args, **kwargs) if callable(name) else name
            with self.span(label) as attrs:
                out = orig(*args, **kwargs)
                if after is not None:
                    after(attrs, out, args)
                return out

        setattr(owner, attr, traced)
        self._patched.append((owner, attr, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -------------------------------------------------------------- reading

    def self_times(self) -> dict[str, float]:
        """Seconds each span name spent outside its child spans."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            own = s["end"] - s["start"] - child.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({**extra, "self_s": self.self_times(), "spans": self.spans}, f, default=str)


def span_cost_s(n: int = 2000) -> float:
    """Measured cost of opening and closing one span, in seconds."""
    probe = Tracer(True)
    t = time.perf_counter()
    for _ in range(n):
        with probe.span("probe"):
            pass
    return (time.perf_counter() - t) / n
