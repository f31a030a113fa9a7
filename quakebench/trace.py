"""Tracing for the traced run: spans recorded from the benchmark's own
wrappers around the program's public functions, Spark job groups set
per span, and per-layer Spark counters read back from Spark's event
log. No program file changes: a wrapper replaces a module attribute
for the traced operations only, and ``Tracer.restore`` puts it back.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

MB = 1024 * 1024


class Tracer:
    """Keeps spans in memory: name, start, end, parent and call notes.

    Each span sets the Spark job group to its name, so every job a
    layer launches is labelled with the innermost layer that caused it.
    """

    def __init__(self, sc, root_group: str = "bench"):
        self._sc = sc
        self._root = root_group
        self._stack: list[dict] = []
        self._patched: list[tuple[object, str, object]] = []
        self.spans: list[dict] = []
        self.active = True
        self.t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, **notes):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "start": time.perf_counter() - self.t0,
            "end": None,
            **notes,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._sc.setJobGroup(name, notes.get("desc", name))
        try:
            yield rec
        except Exception as exc:
            rec["error"] = type(exc).__name__
            raise
        finally:
            rec["end"] = time.perf_counter() - self.t0
            self._stack.pop()
            group = self._stack[-1]["name"] if self._stack else self._root
            self._sc.setJobGroup(group, group)

    def wrap(self, module, attr: str, name: str, note=None) -> None:
        """Replace ``module.attr`` with a span-recording wrapper.
        ``note(rec, args, kwargs)`` runs before the call and may return
        a ``done(result)`` callback that adds fields to the span."""
        original = getattr(module, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name) as rec:
                done = note(rec, args, kwargs) if note is not None else None
                result = original(*args, **kwargs)
                if done is not None:
                    done(result)
                return result

        self._patched.append((module, attr, original))
        setattr(module, attr, traced)

    def restore(self) -> None:
        for module, attr, original in reversed(self._patched):
            setattr(module, attr, original)
        self._patched.clear()
        self.active = False

    def of(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["end"] is not None]


def busy_s(spans: list[dict]) -> float:
    return sum(s["end"] - s["start"] for s in spans)


def self_s(tracer: Tracer, name: str) -> float:
    """Span duration minus the part covered by direct children (the
    program's calls are sequential, so children never overlap)."""
    total = 0.0
    for s in tracer.of(name):
        kids = [c for c in tracer.spans if c["parent"] == s["id"] and c["end"] is not None]
        total += (s["end"] - s["start"]) - busy_s(kids)
    return total


def tail(samples: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it, and
    its value; with ten samples or fewer that is the maximum (100)."""
    n = len(samples)
    if n == 0:
        return 0.0, 0.0
    ordered = sorted(samples)
    if n <= 10:
        return 100.0, ordered[-1]
    pct = int(100 * (n - 10) / n)
    return float(pct), ordered[min(n - 1, int(n * pct / 100))]


def p50(samples: list[float]) -> float:
    return statistics.median(samples) if samples else 0.0


def tree_bytes(path: str) -> tuple[int, int, int]:
    """(data bytes, data files, leaf partition dirs) under ``path``,
    skipping ``_SUCCESS``, ``.crc`` and other hidden/metadata files."""
    size = files = 0
    leaves: set[str] = set()
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith(("_", ".")) or n.endswith(".crc"):
                continue
            size += os.path.getsize(os.path.join(dirpath, n))
            files += 1
            leaves.add(dirpath)
    return size, files, len(leaves)


def read_event_log(log_dir: str) -> tuple[dict[str, dict], dict[str, dict]]:
    """Spark counters summed from the task-end records of Spark's event
    log: jobs, tasks, run time, CPU, GC, spill, input and shuffle
    volume. Returned twice: per job group (a layer), and per job group
    and job description (a catalog entry, say)."""
    stage_keys: dict[int, tuple[str, str]] = {}
    by_group: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    by_desc: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    # a rolling log is a directory of events_<n>_<app> files
    files = [
        (dirpath, name)
        for dirpath, _dirs, names in os.walk(log_dir)
        for name in names
        if not name.startswith(("appstatus", "."))
    ]
    files.sort(key=lambda f: int(f[1].split("_")[1]) if f[1].startswith("events_") else 0)
    for dirpath, name in files:
        with open(os.path.join(dirpath, name), encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    group = props.get("spark.jobGroup.id") or "none"
                    key = (group, f"{group}:{props.get('spark.job.description') or ''}")
                    for g, k in zip((by_group, by_desc), key):
                        g[k]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_keys.setdefault(sid, key)
                elif kind == "SparkListenerTaskEnd":
                    key = stage_keys.get(ev.get("Stage ID"), ("none", "none:"))
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    add = {
                        "tasks": 1,
                        "run_s": m.get("Executor Run Time", 0) / 1e3,
                        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                        "gc_s": m.get("JVM GC Time", 0) / 1e3,
                        "spill_mb": (
                            m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                        ) / MB,
                        "input_mb": (m.get("Input Metrics") or {}).get("Bytes Read", 0) / MB,
                        "shuffle_mb": (
                            sr.get("Remote Bytes Read", 0)
                            + sr.get("Local Bytes Read", 0)
                            + sw.get("Shuffle Bytes Written", 0)
                        ) / MB,
                    }
                    for g, k in zip((by_group, by_desc), key):
                        for name_, v in add.items():
                            g[k][name_] += v
    return (
        {k: dict(v) for k, v in by_group.items()},
        {k: dict(v) for k, v in by_desc.items()},
    )
