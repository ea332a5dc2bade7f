"""In-memory span recorder around the engine's public calls.

A span is (name, start, end, parent). Calls are recorded by replacing the
module attribute each caller resolves at call time with a wrapper; the
originals are put back by ``restore``.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager


def union_length(ivs) -> float:
    """Total length of the union of ``(start, end)`` intervals."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(ivs):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    return total + (cur_b - cur_a if cur_b is not None else 0.0)


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": stack[-1] if stack else None,
        }
        self.spans.append(rec)
        stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()

    def wrap(self, owner, attr: str, name: str, on_call=None) -> None:
        """Record every call of ``owner.attr`` as span ``name``;
        ``on_call(rec, args, kwargs)`` may add attributes to the span."""
        original = getattr(owner, attr)

        def wrapper(*args, **kwargs):
            with self.span(name) as rec:
                if on_call is not None:
                    on_call(rec, args, kwargs)
                return original(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, original))

    def restore(self) -> None:
        while self._patched:
            owner, attr, original = self._patched.pop()
            setattr(owner, attr, original)

    def named(self, name: str, within: dict | None = None) -> list[dict]:
        """Spans called ``name``, optionally only those inside ``within``."""
        out = [s for s in self.spans if s["name"] == name]
        if within is not None:
            out = [s for s in out if within["start"] <= s["start"] and s["end"] <= within["end"]]
        return out

    def self_time(self, rec: dict) -> float:
        """Duration minus the part of it that child spans cover."""
        me = self.spans.index(rec)
        kids = [(s["start"], s["end"]) for s in self.spans if s["parent"] == me]
        return (rec["end"] - rec["start"]) - union_length(kids)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({k: v for k, v in s.items() if not k.startswith("_")}) + "\n")
