"""Measurement from outside the program: layer spans with Spark job tags,
Spark job/task accounting by tag, and the per-run host record.

A span times one call into a package module and tags every Spark job the
call launches with ``perfbench-<layer>-<n>`` (``SparkContext.addJobTag``).
After the operation, ``Tracer.collect`` drains the listener bus and reads
the driver's status store, which keeps job data with ``spark.ui.enabled``
off: jobs per tag, tasks completed, and Σ executor run time of their stages.
"""

from __future__ import annotations

import hashlib
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError


class NullTracer:
    """Untraced runs: spans cost nothing and record nothing."""

    @contextmanager
    def span(self, layer: str):
        yield


@dataclass
class LayerCount:
    calls: int = 0
    seconds: float = 0.0
    jobs: int = 0
    tasks: int = 0
    task_s: float = 0.0

    def counts(self) -> tuple[int, int]:
        return self.jobs, self.tasks


@dataclass
class Tracer:
    spark: object
    spans: list = field(default_factory=list)  # (layer, tag, seconds)
    _seq: int = 0

    @contextmanager
    def span(self, layer: str):
        sc = self.spark.sparkContext
        self._seq += 1
        tag = f"perfbench-{layer}-{self._seq}"
        sc.addJobTag(tag)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append((layer, tag, time.perf_counter() - t0))
            sc.removeJobTag(tag)

    def collect(self) -> dict[str, LayerCount]:
        """Per-layer totals of the spans recorded since the last collect."""
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        layer_of = {tag: layer for layer, tag, _ in self.spans}
        out: dict[str, LayerCount] = defaultdict(LayerCount)
        for layer, _, sec in self.spans:
            out[layer].calls += 1
            out[layer].seconds += sec
        stages: dict[str, set] = defaultdict(set)
        jobs = store.jobsList(None).iterator()
        while jobs.hasNext():
            job = jobs.next()
            tags = job.jobTags().iterator()
            while tags.hasNext():
                layer = layer_of.get(tags.next())
                if layer is None:
                    continue
                out[layer].jobs += 1
                out[layer].tasks += job.numCompletedTasks()
                sids = job.stageIds().iterator()
                while sids.hasNext():
                    stages[layer].add(sids.next())
        for layer, sids in stages.items():
            for sid in sids:
                try:
                    out[layer].task_s += store.lastStageAttempt(sid).executorRunTime() / 1e3
                except Py4JJavaError:  # skipped stage: never ran
                    pass
        self.spans = []
        return dict(out)


# -- host record -------------------------------------------------------------


def steal_seconds() -> float:
    """Cumulative hypervisor steal of all CPUs (/proc/stat, USER_HZ=100)."""
    try:
        with open("/proc/stat", encoding="utf-8") as f:
            return int(f.readline().split()[8]) / 100.0
    except (OSError, IndexError, ValueError):
        return 0.0


def peak_rss_mb(pid: int | str = "self") -> float:
    """VmHWM of a process in MB (0 when it cannot be read)."""
    try:
        with open(f"/proc/{pid}/status", encoding="utf-8") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def tree_hash(root: str) -> str:
    """sha1 over the paths and bytes of the package's .py files, so runs of
    different code are never pooled (the checkout is not a git repo)."""
    h = hashlib.sha1()
    pkg = os.path.join(root, "arachne_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                p = os.path.join(d, name)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()
