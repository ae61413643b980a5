"""Spans recorded by the benchmark around its own calls into each layer.

A span is (name, start, end, parent, run): `name` is
`<layer>.<call>` where the layer is the curator_spark module the call
enters, `parent` is the index of the enclosing span (or None) and `run`
identifies the workload iteration the call belongs to. Spans stay in
memory and are written once, at exit. With tracing off, `span` returns
a shared no-op context, so untraced runs pay one attribute lookup per
call.
"""

from __future__ import annotations

import contextlib
import json
import time


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.run = "setup"

    @contextlib.contextmanager
    def _record(self, name: str):
        idx = len(self.spans)
        span = {"name": name, "start": time.perf_counter(), "end": None,
                "parent": self._stack[-1] if self._stack else None,
                "run": self.run}
        self.spans.append(span)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            span["end"] = time.perf_counter()

    def span(self, name: str):
        if not self.enabled:
            return contextlib.nullcontext()
        return self._record(name)

    def self_times(self) -> dict[str, float]:
        """Per layer: the time its spans cover minus what their child
        spans cover (children are sequential and nested, so their
        durations add)."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = (child.get(s["parent"], 0.0)
                                      + s["end"] - s["start"])
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            layer = s["name"].split(".", 1)[0]
            out[layer] = (out.get(layer, 0.0) + s["end"] - s["start"]
                          - child.get(i, 0.0))
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
