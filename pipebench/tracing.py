"""Tracing for the pipeline benchmark, all from the benchmark's side.

- Spans: the traced run wraps the public functions of each module of
  ``pyrdf2vec_spark`` (and the pipeline's stage writer, attributed to the
  layer whose output it writes) so each call records a span. A span sets
  a Spark local property, which every Spark job it submits carries.
- Spark's event log, read after the session stops, gives each job's
  wall interval and its tasks' run time, shuffle, spill and GC time.
- The JVM's GC log gives the peak heap after collection.
- /proc gives process-tree CPU time, host steal and load average.
"""

from __future__ import annotations

import functools
import inspect
import json
import os
import re
import time

LAYERS = ("extract", "canon", "graph", "walks", "samplers", "embed",
          "storage", "pipeline")
LAYER_KEYS = ("self_s", "driver_s", "task_s", "spark_jobs", "shuffle_bytes",
              "spill_bytes")
COUNTS = (
    "extract.mentions", "canon.candidate_pairs", "canon.false_merges",
    "canon.missed_merges", "graph.edges", "walks.walks", "walks.tokens",
    "walks.split_entities", "embed.vocab", "embed.tokens",
    "storage.files_written", "storage.bytes_written", "pipeline.stages_skipped",
)
SPARK_WIDE = ("spark.jobs", "spark.tasks", "spark.gc_s", "jvm.live_heap_mb",
              "trace.overhead_s")
# every metric the traced run prints; a layer or count a workload does
# not exercise reads 0
PER_LAYER = tuple(f"{L}.{k}" for L in LAYERS for k in LAYER_KEYS) + COUNTS \
    + SPARK_WIDE
SPAN_PROP = "pipebench.span"
# the pipeline's checkpointed stages, by the layer whose output they write
STAGE_LAYER = {"extract": "extract", "canon": "canon", "triples": "graph",
               "walks": "walks"}
_CLK = os.sysconf("SC_CLK_TCK")


def _targets():
    """(layer, owner, attribute) for every wrapped callable."""
    from pyrdf2vec_spark import embed, graph, pipeline, storage, walks

    out = [("pipeline", pipeline.RDF2VecPipeline, a) for a in
           ("build_graph", "get_walks", "fit", "update", "save", "load")]
    out += [("embed", embed.SparkWord2Vec, a) for a in
            ("fit", "transform", "vectors", "save", "load")]
    out += [("graph", graph.SparkKG, a) for a in
            ("__init__", "edge_count", "entity_names", "missing_entities")]
    out += [("extract", pipeline, a) for a in ("extract_triples", "triples_only")]
    out += [("canon", pipeline, a) for a in
            ("canonical_mapping", "canonicalize_triples")]
    out += [("walks", pipeline, a) for a in
            ("bfs_canonical_walks", "dfs_canonical_walks")]
    out += [("samplers", walks, a) for a in ("edge_weights", "normalize_hop_weights")]
    out += [("storage", storage, a) for a in
            ("materialize_kg", "write_table", "read_table")]
    return out


class Tracer:
    """Spans in memory; installs and removes the wrappers."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []  # id, parent, layer, job, t0, t1
        self._stack: list[int] = []
        self._saved: list[tuple] = []
        self.job = None
        # per job: seconds spent in the tracer's own bookkeeping
        self.overhead_s: dict[int, float] = {}

    # -- spans ----------------------------------------------------------
    def _charge(self, since: float) -> None:
        self.overhead_s[self.job] = (
            self.overhead_s.get(self.job, 0.0) + time.time() - since)

    def _push(self, layer: str) -> dict:
        t = time.time()
        span = {"id": len(self.spans) + 1, "layer": layer, "job": self.job,
                "parent": self._stack[-1] if self._stack else 0,
                "t0": None, "t1": None}
        self.spans.append(span)
        self._stack.append(span["id"])
        self.sc.setLocalProperty(SPAN_PROP, str(span["id"]))
        span["t0"] = time.time()
        self._charge(t)
        return span

    def _pop(self, span: dict) -> None:
        t = span["t1"] = time.time()
        self._stack.pop()
        self.sc.setLocalProperty(
            SPAN_PROP, str(self._stack[-1]) if self._stack else None
        )
        self._charge(t)

    def span(self, layer, fn, *args, **kwargs):
        s = self._push(layer)
        try:
            return fn(*args, **kwargs)
        finally:
            self._pop(s)

    # -- wrappers -------------------------------------------------------
    def _wrap(self, layer, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return self.span(layer, fn, *args, **kwargs)
        return traced

    def install(self) -> None:
        from pyrdf2vec_spark.pipeline import RDF2VecPipeline

        for layer, owner, attr in _targets():
            raw = inspect.getattr_static(owner, attr)
            self._saved.append((owner, attr, raw))
            if isinstance(raw, classmethod):
                new = classmethod(self._wrap(layer, raw.__func__))
            else:
                new = self._wrap(layer, raw)
            setattr(owner, attr, new)
        stage = inspect.getattr_static(RDF2VecPipeline, "_stage")
        self._saved.append((RDF2VecPipeline, "_stage", stage))

        def traced_stage(pipe, spark, name, *args, **kwargs):
            return self.span(STAGE_LAYER.get(name, "pipeline"), stage,
                             pipe, spark, name, *args, **kwargs)
        RDF2VecPipeline._stage = traced_stage

    def uninstall(self) -> None:
        for owner, attr, raw in reversed(self._saved):
            setattr(owner, attr, raw)
        self._saved.clear()


# -- event log ----------------------------------------------------------
def read_event_log(path: str) -> dict:
    """Per Spark job id: its span, wall interval and task totals."""
    jobs, stage_job = {}, {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                span = (ev.get("Properties") or {}).get(SPAN_PROP)
                jobs[ev["Job ID"]] = {
                    "span": int(span) if span else None,
                    "t0": ev["Submission Time"] / 1000.0, "t1": None,
                    "task_s": 0.0, "tasks": 0, "gc_s": 0.0,
                    "shuffle": 0, "spill": 0, "out_bytes": 0,
                }
                for sid in ev["Stage IDs"]:
                    stage_job[sid] = ev["Job ID"]
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["t1"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev["Stage ID"]))
                m = ev.get("Task Metrics")
                if job is None or not m:
                    continue
                job["tasks"] += 1
                job["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                job["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                job["shuffle"] += m.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0)
                job["spill"] += m.get("Disk Bytes Spilled", 0)
                job["out_bytes"] += m.get("Output Metrics", {}).get(
                    "Bytes Written", 0)
    return jobs


def _union(intervals) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def reduce_job(spans: list[dict], jobs: dict, job_index: int) -> dict:
    """Per-layer metrics of one traced benchmark job."""
    mine = [s for s in spans if s["job"] == job_index]
    ids = {s["id"] for s in mine}
    children: dict[int, list] = {}
    for s in mine:
        children.setdefault(s["parent"], []).append(s)
    by_span: dict[int, list] = {}
    for j in jobs.values():
        if j["span"] in ids and j["t1"] is not None:
            by_span.setdefault(j["span"], []).append(j)
    out = {f"{L}.{k}": 0.0 for L in LAYERS for k in LAYER_KEYS}
    for s in mine:
        kids = [(c["t0"], c["t1"]) for c in children.get(s["id"], [])]
        self_s = (s["t1"] - s["t0"]) - _union(kids)
        sj = by_span.get(s["id"], [])
        # the span's own Spark jobs run while it is the innermost span
        busy = _union(
            (max(j["t0"], s["t0"]), min(j["t1"], s["t1"])) for j in sj
            if j["t1"] > s["t0"] and j["t0"] < s["t1"]
        )
        L = s["layer"]
        out[f"{L}.self_s"] += self_s
        out[f"{L}.driver_s"] += max(0.0, self_s - busy)
        out[f"{L}.task_s"] += sum(j["task_s"] for j in sj)
        out[f"{L}.spark_jobs"] += len(sj)
        out[f"{L}.shuffle_bytes"] += sum(j["shuffle"] for j in sj)
        out[f"{L}.spill_bytes"] += sum(j["spill"] for j in sj)
    alljobs = [j for sj in by_span.values() for j in sj]
    out["spark.jobs"] = len(alljobs)
    out["spark.tasks"] = sum(j["tasks"] for j in alljobs)
    out["spark.gc_s"] = sum(j["gc_s"] for j in alljobs)
    out["storage.bytes_written"] = sum(j["out_bytes"] for j in alljobs)
    return out


_GC_LINE = re.compile(r"GC\(\d+\) Pause.*?(\d+)([KMG])->(\d+)([KMG])\(")
_UNIT_MB = {"K": 1 / 1024, "M": 1.0, "G": 1024.0}


def peak_live_heap_mb(gc_log: str) -> float:
    """Largest heap occupancy right after a collection, in MiB."""
    peak = 0.0
    with open(gc_log) as f:
        for line in f:
            m = _GC_LINE.search(line)
            if m:
                peak = max(peak, int(m.group(3)) * _UNIT_MB[m.group(4)])
    return peak


# -- /proc --------------------------------------------------------------
def _stat(pid: int) -> tuple[int, list[str]] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    fields = raw[raw.rindex(")") + 2:].split()
    return int(fields[1]), fields  # ppid, fields from "state" on


def descendants(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st:
                kids.setdefault(st[0], []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s() -> float:
    """User+system CPU of this process and every descendant (the JVM,
    the Python workers), including children they have reaped."""
    total = 0
    for pid in [os.getpid()] + descendants(os.getpid()):
        st = _stat(pid)
        if st:
            f = st[1]  # utime, stime, cutime, cstime are fields 11..14
            total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _CLK


def process_age_s() -> float:
    """Seconds since this process started."""
    with open("/proc/uptime") as f:
        up = float(f.read().split()[0])
    return up - int(_stat(os.getpid())[1][19]) / _CLK


def host_cpu() -> tuple[int, int]:
    """(steal, total) jiffies of the host since boot."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v[:8])


def load_average() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def unit(name: str) -> str:
    if name == "jvm.live_heap_mb":
        return "MiB"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes") or name.endswith("bytes_written"):
        return "bytes"
    return "count"
