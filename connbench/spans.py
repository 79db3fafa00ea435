"""In-memory spans and the process tree's peak RSS.

A span records one call into a layer: name, start, end (``perf_counter``
seconds), the span that caused it and the op it belongs to.  Spans stay
in memory and are written once, when the run ends.  A disabled tracer
records nothing, so the untraced run pays one attribute test per call.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: dict[str, list] = {}
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "op": op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def count(self, name: str, value: float) -> None:
        """A count taken at a layer boundary (ranges, files, bytes ...)."""
        if self.enabled:
            self.counts.setdefault(name, []).append(value)

    def durations(self, name: str) -> list[float]:
        """Durations in seconds of every finished span called ``name``."""
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and s["end"]]

    def dump(self, path: str, meta: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"meta": meta, "spans": self.spans, "counts": self.counts}, fh)


def tree_peak_rss_mb(root: int) -> float:
    """Summed peak RSS (``VmHWM``) of ``root`` and its live descendants:
    the Spark driver process, the JVM and the Python worker pools.  Read once, when the
    measured work is done, so nothing samples while ops run."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue  # the process ended while we looked
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(name))
    total_kb, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024
