"""In-process tracing for the benchmark: spans around calls into the
package's layers, a streaming progress listener and an RSS sampler.

Spans are kept in memory and written out once, at the end of the run.
Each span tags the Spark jobs it launches with its own job group, so the
event-log parser can attribute jobs (and their SQL executions) to it.
"""

from __future__ import annotations

import itertools
import os
import sys
import threading
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
GROUP_PREFIX = "perfbench-span-"
PACKAGE = "data_finder_comparator_spark"
RSS_INTERVAL_S = 0.1


class Spans:
    """Span recorder. Disabled, ``span`` is a bare context manager and
    ``wrap`` installs nothing, so an untraced run pays nothing."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.records: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[int] = []
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        with self._lock:
            sid = next(self._ids)
            parent = self._stack[-1] if self._stack else None
            self._stack.append(sid)
        saved = [self.sc.getLocalProperty(k) for k in _GROUP_PROPS]
        self.sc.setJobGroup(f"{GROUP_PREFIX}{sid}", name)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            for k, v in zip(_GROUP_PROPS, saved):
                self.sc.setLocalProperty(k, v)
            with self._lock:
                self._stack.remove(sid)
                self.records.append(
                    {"id": sid, "name": name, "parent": parent, "start": start, "end": end, **attrs}
                )

    def wrap(self, original, name: str) -> None:
        """Run every call of the function ``original`` inside a span named
        ``name``: the wrapper replaces it in every loaded module of the
        package that binds it, including modules that imported it by
        name. ``unwrap_all`` restores the originals."""
        if not self.enabled:
            return

        def traced(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        attr = original.__name__
        for mod_name, module in list(sys.modules.items()):
            if mod_name.split(".")[0] == PACKAGE and getattr(module, attr, None) is original:
                setattr(module, attr, traced)
                self._patched.append((module, attr, original))

    def unwrap_all(self) -> None:
        for module, attr, original in reversed(self._patched):
            setattr(module, attr, original)
        self._patched.clear()

    def named(self, name: str) -> list[dict]:
        return [r for r in self.records if r["name"] == name]


class ProgressListener(StreamingQueryListener):
    """Collects every micro-batch's progress as plain numbers."""

    def __init__(self):
        super().__init__()
        self.batches: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        d = dict(p.durationMs)
        with self._lock:
            self.batches.append(
                {
                    "rows": p.numInputRows,
                    "trigger_s": d.get("triggerExecution", 0) / 1000.0,
                    "add_batch_s": d.get("addBatch", 0) / 1000.0,
                }
            )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def take(self) -> list[dict]:
        with self._lock:
            out, self.batches = self.batches, []
        return out


def _tree_pids(root: int) -> list[int]:
    """``root`` and every descendant, from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, with pages shared between
    processes (forked workers, a JVM child before its exec) split among
    them, so the sum over processes counts each page once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    driver JVM, the Python worker daemon and its workers), summed as PSS,
    sampled every ``RSS_INTERVAL_S`` seconds while the context is open."""

    def __init__(self):
        self.peak = 0
        self.peak_parts: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(RSS_INTERVAL_S)

    def _sample(self) -> None:
        rss = {p: _pss_bytes(p) for p in _tree_pids(os.getpid())}
        total = sum(rss.values())
        if total > self.peak:
            self.peak = total
            self.peak_parts = rss

    def breakdown(self) -> str:
        """The peak's split by process name, e.g. ``java 2100 MB``."""
        parts: dict[str, int] = {}
        for pid, b in self.peak_parts.items():
            try:
                with open(f"/proc/{pid}/comm") as f:
                    name = f.read().strip()
            except OSError:
                name = "exited"
            parts[name] = parts.get(name, 0) + b
        return ", ".join(f"{k} {v / 2**20:.0f} MB" for k, v in sorted(parts.items()))

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
