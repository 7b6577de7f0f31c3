"""Spans around calls into the program's layers, and the Spark event-log
parser that attributes jobs, stages and tasks to them.

A span records its name, parent, wall interval and a unique Spark job tag
(``SparkSession.addTag``); every job started inside the span carries the
tag, and nested spans add theirs, so a job's tag set names every span that
caused it. Spans live in memory and are read when the run ends.

Wrappers are installed on the names the program resolves at call time:
module attributes (the workload builders import operator functions inside
their bodies) and class attributes (every writer and catalog instance).
Nothing in the program is edited.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import os
import re
import threading
import time
import uuid
from collections import defaultdict
from contextlib import contextmanager

PKG = "eirepolitic_data_pipeline_spark"
OPERATOR_MODULES = ("similarity", "vectors", "dedupe", "curation")
# SparkSession tags reach the job properties with a session prefix
SPAN_TAG = re.compile(r"pb-[0-9a-f]{8}-\d+")


class Tracer:
    """In-memory span recorder. ``enabled`` is flipped between passes so
    one traced run also measures its own untraced baseline."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self.enabled = True
        self.run_id = uuid.uuid4().hex[:8]  # tags unique per run
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        with self._lock:
            sid = len(self.spans)
            rec = {"id": sid, "name": name, "tag": f"pb-{self.run_id}-{sid}",
                   "parent": stack[-1] if stack else None,
                   "start": time.perf_counter(), "end": None,
                   "wall": time.time(), "wall_end": None, **attrs}
            self.spans.append(rec)
        stack.append(sid)
        self.spark.addTag(rec["tag"])
        try:
            yield rec
        finally:
            self.spark.removeTag(rec["tag"])
            rec["end"] = time.perf_counter()
            rec["wall_end"] = time.time()
            stack.pop()

    # -- wrappers ----------------------------------------------------------

    def patch(self, owner, attr: str, name: str, label=None,
              gen_stages: bool = False):
        """Replace ``owner.attr`` with a span-recording wrapper.
        ``label(args, kwargs)`` returns extra span attributes."""
        fn = getattr(owner, attr)
        tracer = self

        if gen_stages:
            @functools.wraps(fn)
            def wrapper(*a, **kw):
                return tracer._staged(fn(*a, **kw), name)
        else:
            @functools.wraps(fn)
            def wrapper(*a, **kw):
                if not tracer.enabled:
                    return fn(*a, **kw)
                attrs = label(a, kw) if label else {}
                with tracer.span(name, **attrs):
                    return fn(*a, **kw)
        self._patches.append((owner, attr, fn))
        setattr(owner, attr, wrapper)

    def _staged(self, gen, prefix: str):
        """Time each advance of a stage generator as its own span: the
        work a stage does when it is built (eager jobs included)."""
        while True:
            if not self.enabled:
                yield from gen
                return
            with self.span(prefix) as rec:
                try:
                    stage, frame = next(gen)
                except StopIteration:
                    rec["name"] = prefix + ".end"
                    return
                rec["name"] = f"{prefix}.{stage}"
            yield stage, frame

    def install_operators(self):
        """Wrap each public function of the operator modules, both in its
        own module and wherever ``workload.datapipe`` bound it at import."""
        datapipe = importlib.import_module(f"{PKG}.workload.datapipe")
        for short in OPERATOR_MODULES:
            mod = importlib.import_module(f"{PKG}.operators.{short}")
            for attr, fn in list(vars(mod).items()):
                if (attr.startswith("_") or not inspect.isfunction(fn)
                        or fn.__module__ != mod.__name__):
                    continue
                staged = attr == "curate_corpus_stages"
                self.patch(mod, attr, "operators.curation.stage" if staged
                           else f"operators.{short}", gen_stages=staged)
                if getattr(datapipe, attr, None) is fn:
                    self.patch(datapipe, attr, f"operators.{short}")

    def install_pipeline(self):
        """Wrap the write path: table builds, DQ suites, merge writes,
        catalog reads and batch promotion."""
        run_refresh = importlib.import_module(f"{PKG}.jobs.run_refresh")
        quality = importlib.import_module(f"{PKG}.plans.quality")
        writers = importlib.import_module(f"{PKG}.io.writers")
        catalog = importlib.import_module(f"{PKG}.io.catalog")
        self.patch(run_refresh, "build_table", "jobs.build_table",
                   label=lambda a, kw: {"table": a[3]})
        self.patch(quality.DQSuite, "run", "plans.dq")
        self.patch(writers.MergeWriter, "write", "io.merge_write")
        self.patch(catalog.BatchCatalog, "read_table", "io.catalog_read")
        self.patch(catalog.BatchCatalog, "carry_forward", "io.promote")
        self.patch(catalog.BatchCatalog, "promote", "io.promote")

    def uninstall(self):
        for owner, attr, fn in reversed(self._patches):
            setattr(owner, attr, fn)
        self._patches.clear()

    # -- aggregation -------------------------------------------------------

    def self_times(self, roots: set[int]) -> dict[str, float]:
        """Self seconds per span name, over spans under ``roots``."""
        under = self.descendants(roots)
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["id"] in under and s["end"] is not None:
                out[s["name"]] += s["end"] - s["start"] - child[s["id"]]
        return out

    def descendants(self, roots: set[int]) -> set[int]:
        ids = set(roots)
        for s in self.spans:  # parents precede children in the list
            if s["parent"] in ids:
                ids.add(s["id"])
        return ids


def read_event_log(log_dir: str) -> dict:
    """Parse the one application log in ``log_dir`` into per-job records:
    {job_id: {"tags": set, "start": s, "stages": [...],
    "tasks": n, "task_run_s", "task_cpu_s", "gc_s", "scan_bytes",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
    "python_bytes_sent", "python_bytes_returned"}}."""
    files = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}: {files}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(os.path.join(log_dir, files[0])) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                tags = (ev.get("Properties") or {}).get("spark.job.tags", "")
                job = {"tags": set(SPAN_TAG.findall(tags)),
                       "start": ev["Submission Time"] / 1000.0,
                       "stages": ev["Stage IDs"], "tasks": 0,
                       "task_run_s": 0.0, "task_cpu_s": 0.0, "gc_s": 0.0,
                       "scan_bytes": 0, "shuffle_write_bytes": 0,
                       "shuffle_read_bytes": 0, "spill_bytes": 0,
                       "python_bytes_sent": 0, "python_bytes_returned": 0}
                jobs[ev["Job ID"]] = job
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault(sid, ev["Job ID"])
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev["Stage ID"], -1))
                m = ev.get("Task Metrics")
                if job is None or not m:
                    continue
                job["tasks"] += 1
                job["task_run_s"] += m["Executor Run Time"] / 1000.0
                job["task_cpu_s"] += m["Executor CPU Time"] / 1e9
                job["gc_s"] += m["JVM GC Time"] / 1000.0
                job["scan_bytes"] += m["Input Metrics"]["Bytes Read"]
                sw = m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                sr = m["Shuffle Read Metrics"]
                job["shuffle_write_bytes"] += sw
                job["shuffle_read_bytes"] += (sr["Remote Bytes Read"]
                                              + sr["Local Bytes Read"])
                job["spill_bytes"] += (m["Memory Bytes Spilled"]
                                       + m["Disk Bytes Spilled"])
                for acc in ev["Task Info"].get("Accumulables", []):
                    name = acc.get("Name")
                    if name == "data sent to Python workers":
                        job["python_bytes_sent"] += int(acc["Update"])
                    elif name == "data returned from Python workers":
                        job["python_bytes_returned"] += int(acc["Update"])
    return jobs
