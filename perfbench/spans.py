"""Spans, Spark event-log aggregation and memory sampling for the benchmark.

A span is one call into a layer: name, start, end, parent span and run id.
Spans are kept in memory and written once, with the run's detail file.
While a span is open its id is the Spark job group, so every job Spark runs
inside it carries the span in its properties; ``job_group_metrics`` then
sums the task metrics of Spark's JSON event log per job group.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

MB = 1024 * 1024


class Tracer:
    """Records nested spans.  ``sc`` is a SparkContext, or None in tests."""

    def __init__(self, sc, run_id: str, t0: float) -> None:
        self.sc = sc
        self.run_id = run_id
        self.t0 = t0
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def current(self) -> dict:
        """The innermost open span."""
        return self._stack[-1]

    def group_of(self, span: dict) -> str:
        return f"{self.run_id}/{span['id']}"

    def _set_group(self, span: dict | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(self.group_of(span), span["name"])

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "run": self.run_id,
            "start": time.perf_counter() - self.t0,
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self.t0
            self._stack.pop()
            self._set_group(parent)


def spans_nest(spans: list[dict]) -> bool:
    """Every span ends after it starts and lies inside its parent."""
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        if s["end"] is None or s["end"] < s["start"]:
            return False
        p = by_id.get(s["parent"]) if s["parent"] is not None else None
        if p is not None and not (p["start"] <= s["start"] and s["end"] <= p["end"]):
            return False
    return True


def job_group_metrics(event_log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: jobs, tasks, executor run and CPU seconds, shuffle
    bytes written, bytes spilled to disk and output bytes written."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    tasks: list[tuple[int, dict]] = []
    paths = sorted(
        os.path.join(root, fn)
        for root, _dirs, files in os.walk(event_log_dir)
        for fn in files
        if not fn.startswith(".")
    )
    for path in paths:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    out[group]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    tasks.append((ev["Stage ID"], ev.get("Task Metrics") or {}))
    for sid, tm in tasks:
        group = stage_group.get(sid)
        if group is None:
            continue
        g = out[group]
        g["tasks"] += 1
        g["exec_run_s"] += tm.get("Executor Run Time", 0) / 1e3
        g["exec_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
        g["shuffle_write_mb"] += (
            (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / MB
        )
        g["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / MB
        g["output_mb"] += (tm.get("Output Metrics") or {}).get("Bytes Written", 0) / MB
    return {k: dict(v) for k, v in out.items()}


def _tree_rss_bytes(root_pid: int) -> int:
    """Summed resident set size of ``root_pid`` and all its descendants."""
    children: dict[int, list[int]] = defaultdict(list)
    rss: dict[int, int] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        pid = int(name)
        children[int(fields[1])].append(pid)
        rss[pid] = int(fields[21]) * page
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total


class RssSampler:
    """Peak summed RSS of a process tree, sampled from /proc every
    ``interval`` seconds on a background thread while active."""

    def __init__(self, root_pid: int, interval: float = 0.1) -> None:
        self.root_pid = root_pid
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(self.root_pid))
            self._stop.wait(self.interval)

    def __enter__(self) -> RssSampler:
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, _tree_rss_bytes(self.root_pid))
