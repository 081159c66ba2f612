"""Layer spans recorded from outside the program, and Spark task metrics
folded into them.

``Tracer.install`` swaps the module-global names that ``run_snapshot``
and ``analyze_snapshot`` resolve at call time (``link_and_canonicalize``,
``connected_components``, ``write_snapshot``, ...) for wrappers that
open a span around the original call.  A span is (id, name, start, end,
parent, thread); spans stay in memory and are written when the run ends.

Each span also sets a Spark local property naming itself, so every job a
span submits (directly, or through Spark's own pools, which copy local
properties) carries the span id into the event log.  Jobs submitted from
threads with no span (the commit pool's stats job, the analytics
report threads) go to the innermost main-thread span open when the job
was submitted.  Task metrics reach spans through their job.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path
from typing import Any, Callable, Iterator, Optional

from perfbench.procfs import tree_cpu_seconds

SPAN_PROPERTY = "perfbench.span"
UNTRACKED = "0"  # jobs the tracer itself submits: attributed to no span
MB = 1 << 20


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict[str, Any]] = []
        self.active = True
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.main_thread().ident
        self._main_stack: list[dict[str, Any]] = []

    # -- spans -----------------------------------------------------------
    def _stack(self) -> list[dict[str, Any]]:
        if threading.get_ident() == self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current(self) -> Optional[dict[str, Any]]:
        stack = self._stack()
        return stack[-1] if stack else None

    @staticmethod
    def _set_property(value: Optional[str]) -> Optional[str]:
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        if sc is None:
            return None
        old = sc.getLocalProperty(SPAN_PROPERTY)
        sc.setLocalProperty(SPAN_PROPERTY, value)
        return old

    @contextmanager
    def span(self, name: str, **attrs: Any) -> Iterator[dict[str, Any]]:
        stack = self._stack()
        # a pool thread's first span hangs under the main thread's
        # innermost open span: the pool was started from inside it
        outer = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": outer["id"] if outer else None,
            "thread": threading.get_ident(),
            "main": threading.get_ident() == self._main,
            "start": time.time(),
            "end": None,
            # CPU of the whole process tree (JVM and Python workers) over
            # the span: Spark's task CPU counter misses Python workers
            "cpu0": tree_cpu_seconds(os.getpid()),
            "checkpoints": 0,
            "attrs": dict(attrs),
        }
        old = self._set_property(str(rec["id"]))
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            rec["cpu1"] = tree_cpu_seconds(os.getpid())
            stack.pop()
            self._set_property(old)
            with self._lock:
                self.spans.append(rec)

    @contextmanager
    def untracked(self) -> Iterator[None]:
        """Jobs the tracer submits for its own counts."""
        old = self._set_property(UNTRACKED)
        try:
            yield
        finally:
            self._set_property(old)

    def add_bracket(self, name: str, start: float, end: float, cpu0: float, cpu1: float) -> None:
        """A span known only by its bracket, under the current span; jobs
        its parent submitted inside the bracket are attributed to it."""
        outer = self.current()
        with self._lock:
            self.spans.append({
                "id": next(self._ids), "name": name,
                "parent": outer["id"] if outer else None,
                "thread": threading.get_ident(),
                "main": threading.get_ident() == self._main,
                "start": start, "end": end, "cpu0": cpu0, "cpu1": cpu1,
                "checkpoints": 0, "attrs": {}, "bracket": True,
            })

    # -- patching --------------------------------------------------------
    def _wrap(self, module: Any, attr: str, body: Callable[..., Any]) -> None:
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def wrapper(*args: Any, **kwargs: Any) -> Any:
            if not self.active:
                return orig(*args, **kwargs)
            return body(orig, *args, **kwargs)

        setattr(module, attr, wrapper)

    def _simple(self, module: Any, attr: str, name: str) -> None:
        def body(orig: Callable[..., Any], *args: Any, **kwargs: Any) -> Any:
            with self.span(name):
                return orig(*args, **kwargs)

        self._wrap(module, attr, body)

    def install(self) -> None:
        """Wrap the public entry points the pipeline resolves by name."""
        from pyspark.sql import Observation, functions as F
        from pyspark.sql.classic.dataframe import DataFrame

        import ffp_spark.graph as graph
        import ffp_spark.pipeline as pipeline
        import ffp_spark.snapshots as snapshots

        self._simple(pipeline, "warm_collation", "pipeline.warm_collation")
        self._simple(pipeline, "warm_python_workers", "pipeline.warm_workers")
        self._simple(graph, "analyze_snapshot", "graph.analytics")
        self._simple(graph, "pagerank", "graph.pagerank")

        def linking(orig, *args, **kwargs):
            with self.span("linking") as rec:
                canon = orig(*args, **kwargs)
            with self.untracked():  # the mapping comes back cached
                rec["attrs"]["surfaces"] = canon.count()
            return canon

        def cc(orig, edges, *args, **kwargs):
            obs = Observation()
            with self.span("cc") as rec:
                out = orig(edges.observe(obs, F.count(F.lit(1)).alias("n")), *args, **kwargs)
            rec["attrs"]["edges_in"] = int(obs.get["n"])
            return out

        def write(orig, df, root, table, *args, **kwargs):
            with self.span("snapshots.write", table=table):
                return orig(df, root, table, *args, **kwargs)

        self._wrap(pipeline, "link_and_canonicalize", linking)
        self._wrap(pipeline, "connected_components", cc)
        self._wrap(pipeline, "write_snapshot", write)
        self._wrap(snapshots, "write_snapshot_bucketed", write)

        # iterative operators checkpoint once per round: count the calls
        # per span (connected_components: one input checkpoint + rounds)
        def checkpoint(orig, df, *args, **kwargs):
            rec = self.current()
            if rec is not None:
                rec["checkpoints"] += 1
            return orig(df, *args, **kwargs)

        self._wrap(DataFrame, "localCheckpoint", checkpoint)

class StampedTimings(dict):
    """``stage_timings`` dict that remembers when (and at what process-tree
    CPU) each key was set, so a bracket the pipeline times itself becomes
    a span with real ends."""

    def __init__(self) -> None:
        super().__init__()
        self.stamps: dict[str, tuple[float, float]] = {}

    def __setitem__(self, key: str, value: float) -> None:
        self.stamps[key] = (time.time(), tree_cpu_seconds(os.getpid()))
        super().__setitem__(key, value)


# -- event log -----------------------------------------------------------

def read_event_log(path: Path) -> tuple[dict[int, dict], dict[int, list[dict]]]:
    """(jobs by id, task records by stage id) from an uncompressed,
    non-rolling Spark event log."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: dict[int, list[dict]] = defaultdict(list)
    with open(path) as fh:
        for line in fh:
            if '"SparkListenerJobStart"' in line[:40]:
                e = json.loads(line)
                props = e.get("Properties") or {}
                jobs[e["Job ID"]] = {
                    "id": e["Job ID"],
                    "submit": e["Submission Time"],
                    "tag": props.get(SPAN_PROPERTY),
                    "stages": [],
                }
                for sid in e["Stage IDs"]:
                    stage_job.setdefault(sid, e["Job ID"])
            elif '"SparkListenerTaskEnd"' in line[:40]:
                e = json.loads(line)
                info, m = e["Task Info"], e.get("Task Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                tasks[e["Stage ID"]].append({
                    "ms": info["Finish Time"] - info["Launch Time"],
                    "failed": bool(info.get("Failed") or info.get("Killed")),
                    "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                    "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                    "spill": m.get("Disk Bytes Spilled", 0),
                })
    for sid, jid in stage_job.items():
        if jid in jobs and sid in tasks:
            jobs[jid]["stages"].append(sid)
    return jobs, tasks


def attribute_jobs(jobs: dict[int, dict], spans: list[dict]) -> dict[int, list[dict]]:
    """span id -> jobs it submitted (see the module docstring)."""
    by_id = {s["id"]: s for s in spans}
    main = [s for s in spans if s["main"]]
    brackets: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s.get("bracket"):
            brackets[s["parent"]].append(s)
    out: dict[int, list[dict]] = defaultdict(list)
    for job in jobs.values():
        tag = job["tag"]
        if tag == UNTRACKED:
            continue
        t = job["submit"] / 1000.0
        if tag is not None and int(tag) in by_id:
            owner = int(tag)
            inside = [b for b in brackets[owner] if b["start"] <= t <= b["end"]]
            out[inside[0]["id"] if inside else owner].append(job)
            continue
        open_ = [s for s in main if s["start"] <= t <= s["end"]]
        if open_:  # main-thread spans nest: the shortest open one is innermost
            out[min(open_, key=duration)["id"]].append(job)
    return out


# -- folding ---------------------------------------------------------------

def union_length(intervals: list[tuple[float, float]]) -> float:
    total, reach = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > reach:
            total += b - max(a, reach)
            reach = b
    return total


def self_time(span: dict, children: list[dict]) -> float:
    """Span duration minus the part of it that its children cover."""
    a, b = span["start"], span["end"]
    clipped = [(max(a, c["start"]), min(b, c["end"])) for c in children]
    return (b - a) - union_length([(x, y) for x, y in clipped if y > x])


class SpanTree:
    def __init__(self, spans: list[dict], jobs_by_span: dict[int, list[dict]],
                 tasks: dict[int, list[dict]]) -> None:
        self.children: dict[Optional[int], list[dict]] = defaultdict(list)
        for s in spans:
            self.children[s["parent"]].append(s)
        self.jobs_by_span = jobs_by_span
        self.tasks = tasks

    def subtree(self, root: dict) -> list[dict]:
        out, todo = [], [root]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children[s["id"]])
        return out

    def find(self, root: dict, name: str, **attrs: Any) -> list[dict]:
        return [
            s for s in self.subtree(root)
            if s["name"] == name and all(s["attrs"].get(k) == v for k, v in attrs.items())
        ]

    def self_s(self, span: dict) -> float:
        return self_time(span, self.children[span["id"]])

    def jobs(self, spans: list[dict]) -> list[dict]:
        return [j for s in spans for j in self.jobs_by_span.get(s["id"], ())]

    def fold(self, spans: list[dict]) -> dict[str, float]:
        """Task metrics of the jobs these spans submitted."""
        stages = [self.tasks[sid] for j in self.jobs(spans) for sid in j["stages"]]
        flat = [t for st in stages for t in st]
        # skew of the stage holding the most task time: max / median task
        heavy = max(stages, key=lambda st: sum(t["ms"] for t in st), default=[])
        med = statistics.median([t["ms"] for t in heavy]) if heavy else 0
        return {
            "jobs": len(self.jobs(spans)),
            "tasks": len(flat),
            "failed_tasks": sum(t["failed"] for t in flat),
            "shuffle_write_mb": sum(t["shuffle_write"] for t in flat) / MB,
            "shuffle_mb": sum(t["shuffle_write"] + t["shuffle_read"] for t in flat) / MB,
            "spill_mb": sum(t["spill"] for t in flat) / MB,
            "skew": max(t["ms"] for t in heavy) / med if med > 0 else 0.0,
        }


def duration(span: Optional[dict]) -> float:
    return span["end"] - span["start"] if span else 0.0


def op_layer_metrics(tree: SpanTree, op: dict, lsh_bands: int) -> dict[str, float]:
    """Per-layer metrics of one operation span.  Layers the workload
    does not run read 0."""
    def one(name: str, **attrs: Any) -> Optional[dict]:
        found = tree.find(op, name, **attrs)
        return found[0] if found else None

    parse = one("udfs.parse")
    linking, cc = one("linking"), one("cc")
    pipeline, analytics = one("pipeline"), one("graph.analytics")
    writes = tree.find(op, "snapshots.write")
    triples_span = one("triples") or one("snapshots.write", table="triples")
    attrs = op["attrs"]

    parse_f = tree.fold([parse] if parse else [])
    link_f = tree.fold([linking] if linking else [])
    cc_f = tree.fold(tree.subtree(cc) if cc else [])
    graph_f = tree.fold(tree.subtree(analytics) if analytics else [])
    pipe_f = tree.fold([pipeline] if pipeline else [])
    all_f = tree.fold(tree.subtree(op))

    surfaces = linking["attrs"].get("surfaces", 0) if linking else 0
    band_rows = surfaces * lsh_bands
    edges_in = cc["attrs"].get("edges_in", 0) if cc else 0
    return {
        "udfs.parse_s": duration(parse),
        "udfs.task_cpu_s": parse["cpu1"] - parse["cpu0"] if parse else 0.0,
        "udfs.task_skew": parse_f["skew"],
        "udfs.error_rows": attrs.get("error_rows", 0),
        "triples.s": duration(triples_span),
        "triples.rows_out": attrs.get("triples", 0),
        "linking.self_s": tree.self_s(linking) if linking else 0.0,
        "linking.surfaces": surfaces,
        "linking.band_rows": band_rows,
        "linking.candidate_edges": edges_in,
        "linking.edge_yield": edges_in / band_rows if band_rows else 0.0,
        "linking.task_skew": link_f["skew"],
        "linking.shuffle_mb": link_f["shuffle_mb"],
        "linking.jobs": link_f["jobs"],
        "cc.s": duration(cc),
        "cc.rounds": max(cc["checkpoints"] - 1, 0) if cc else 0,
        "cc.jobs": cc_f["jobs"],
        "cc.edges_in": edges_in,
        "cc.shuffle_mb": cc_f["shuffle_mb"],
        "snapshots.commit_s": union_length([(w["start"], w["end"]) for w in writes]),
        "snapshots.write_s_sum": sum(duration(w) for w in writes),
        "snapshots.bytes_written": attrs.get("bytes_written", 0),
        "snapshots.files_written": attrs.get("files_written", 0),
        "pipeline.s": duration(pipeline),
        "pipeline.self_s": tree.self_s(pipeline) if pipeline else 0.0,
        "pipeline.jobs": pipe_f["jobs"],
        "graph.analytics_s": duration(analytics),
        "graph.pagerank_s": duration(one("graph.pagerank")),
        "graph.jobs": graph_f["jobs"],
        "graph.shuffle_mb": graph_f["shuffle_mb"],
        "spark.jobs": all_f["jobs"],
        "spark.tasks": all_f["tasks"],
        "spark.failed_tasks": all_f["failed_tasks"],
        "spark.spill_mb": all_f["spill_mb"],
        "spark.shuffle_write_mb": all_f["shuffle_write_mb"],
    }
