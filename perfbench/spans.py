"""In-memory span recorder for traced benchmark runs.

A span is (name, start, end, parent) on the ``perf_counter`` clock; every
span of one run carries the run's id. Spans stay in memory and are written
as one JSON file when the run ends, so recording costs a clock read and a
list append per span.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time
import uuid


class Tracer:
    def __init__(self):
        self.run_id = uuid.uuid4().hex
        self.spans = []
        self._stack = []

    @contextlib.contextmanager
    def span(self, name, **attrs):
        rec = {
            "run_id": self.run_id,
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        if attrs:
            rec["attrs"] = attrs
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    @contextlib.contextmanager
    def wrap(self, owner, attr, name):
        """Record a span around every call of ``owner.attr`` while active.
        The attribute is restored on exit, so untraced code never sees it."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        try:
            yield
        finally:
            setattr(owner, attr, orig)

    def write(self, path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, "spans": self.spans}, fh)
