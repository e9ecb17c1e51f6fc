"""Tracing for the benchmark's traced run (``--trace 1``).

Only the traced run creates a :class:`Tracer`; untraced runs call the engine
unmodified. The tracer

- wraps a layer's public functions *where their caller looks them up* (a
  module global such as ``delta_index.build_ivf``, or a class attribute such
  as ``VectorStore.upsert``) and records one span per call: name, start,
  end, parent span and the benchmark op (request) it belongs to;
- runs each benchmark op under its own Spark job group and, after the op,
  reads the op's jobs, stages and tasks (failed ones too) from
  ``sc.statusTracker()``. A stage's name carries the Python call site of
  the action, which attributes each job to the module that ran it;
- keeps everything in memory and writes it out once, at the end.

Spark is lazy, so spans come in two kinds. A wrapped function that returns
a DataFrame gets ``kind="lazy"``: its span covers planning and whatever
actions the function runs itself, not the execution of the plan it returns.
That execution is charged to the span that owns the ``collect`` (or write),
which is an ``eager`` span: the benchmark's op span, or a wrapped function
that returns no DataFrame.
"""

from __future__ import annotations

import importlib
import json
import os
import re
import time
from contextlib import contextmanager
from time import perf_counter

# (module, class or None, attributes): the call sites that get wrapped.
# A function imported into another module is wrapped in the importer's
# namespace, so its spans nest under the caller's span.
PATCHES = [
    ("pyrope_spark.store.vector_store", "VectorStore", ["add", "upsert", "delete", "compact"]),
    (
        "pyrope_spark.operators.delta_index",
        None,
        [
            "build_delta_index", "delta_search", "load_delta_index", "build_ivf",
            "pack_segments", "write_segments", "ivf_search_packed", "knn_bruteforce",
            "topk_per_group",
        ],
    ),
    ("pyrope_spark.operators.ivf", None, ["build_ivf"]),  # pq imports it per call
    ("pyrope_spark.operators.knn", None, ["hydrate"]),
    ("pyrope_spark.operators.pq", None, ["build_ivf_pq", "train_pq_np", "pq_encode"]),
    (
        "pyrope_spark.operators.segments",
        None,
        ["pack_pq_segments", "ivf_pq_search_packed", "segment_knn"],
    ),
    ("pyrope_spark.operators.hnsw", None, ["pack_hnsw_shards", "hnsw_search_packed_distributed"]),
    (
        "pyrope_spark.operators.search_pipeline",
        None,
        ["search_with_cache", "with_query_keys", "knn_bruteforce"],
    ),
    ("pyrope_spark.operators.cache", "ResultCacheTable", ["lookup", "write_back"]),
]

# module file stem -> layer name used in span names and spark.jobs.<layer>
LAYER_OF = {"vector_store": "store"}
JOB_LAYERS = (
    "store", "delta_index", "ivf", "segments", "knn", "topk", "pq", "hnsw",
    "cache", "search_pipeline", "bench", "other",
)
_CALL_SITE = re.compile(r" at (\S+?\.py):\d+")


def layer_of_module(module: str) -> str:
    stem = module.rsplit(".", 1)[-1]
    return LAYER_OF.get(stem, stem)


def _has_dataframe(value) -> bool:
    from pyspark.sql import DataFrame

    if isinstance(value, DataFrame):
        return True
    return isinstance(value, tuple) and any(isinstance(v, DataFrame) for v in value)


def job_layer(stage_name: str | None) -> str:
    """The layer whose code ran a job, from its stage's call site
    (e.g. ``collect at .../operators/segments.py:856`` -> ``segments``)."""
    m = _CALL_SITE.search(stage_name or "")
    if not m:
        return "other"
    path = m.group(1)
    if "/vecbench/" in path:
        return "bench"
    layer = layer_of_module(os.path.basename(path)[: -len(".py")])
    return layer if layer in JOB_LAYERS else "other"


class Tracer:
    """Spans and per-op Spark job counts of one traced run. It starts before
    the Spark session, to time its start; ``sc`` is set once that is up."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.t0 = perf_counter()
        self.epoch0 = time.time()  # wall clock at t0, to place JVM job times
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._stack: list[int] = []
        self._op: str | None = None
        self._patched: list[tuple[object, str, object]] = []
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping

    def _now(self) -> float:
        return perf_counter() - self.t0

    @contextmanager
    def span(self, name: str, kind: str = "eager"):
        t_in = perf_counter()
        rec = {
            "id": len(self.spans),
            "name": name,
            "kind": kind,
            "parent": self._stack[-1] if self._stack else None,
            "op": self._op,
            "start": t_in - self.t0,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        t_body = perf_counter()
        self.overhead_s += t_body - t_in
        try:
            yield rec
        finally:
            t_out = perf_counter()
            self._stack.pop()
            rec["end"] = t_out - self.t0
            self.overhead_s += perf_counter() - t_out

    @contextmanager
    def op(self, kind: str, op_id: str):
        """A top-level benchmark op: its own job group and span; afterwards
        the op's Spark jobs, stages and tasks are read and recorded."""
        t_in = perf_counter()
        self.sc.setJobGroup(op_id, kind)
        self._op = op_id
        self.overhead_s += perf_counter() - t_in
        try:
            with self.span(f"op.{kind}") as rec:
                yield rec
        finally:
            t_out = perf_counter()
            self._op = None
            self.ops.append({"id": op_id, "kind": kind, "span": rec["id"], **self._jobs_of(op_id)})
            self.sc.setJobGroup("bench.idle", "between ops")
            self.overhead_s += perf_counter() - t_out

    def _span_layer_at(self, group: str, job_id: int) -> str:
        """Layer of the innermost span of op ``group`` open when the job was
        submitted: attributes jobs whose call site is JVM code (MLlib
        KMeans, parquet writes) to the layer that started them."""
        from py4j.protocol import Py4JError

        try:
            sub = self.sc._jsc.sc().statusStore().job(job_id).submissionTime()
            at = sub.get().getTime() / 1000.0 - self.epoch0
        except Py4JError:  # job no longer in the status store, or not submitted
            return "other"
        best = None
        for s in self.spans:
            if s["op"] == group and s["start"] <= at <= s.get("end", at):
                if best is None or s["start"] >= best["start"]:
                    best = s
        if best is None:
            return "other"
        layer = best["name"].split(".", 1)[0]
        return "bench" if layer in ("op", "phase") else layer

    def _jobs_of(self, group: str) -> dict:
        st = self.sc.statusTracker()
        jobs = stages = tasks = failed = 0
        by_layer: dict[str, int] = {}
        sites: dict[str, int] = {}
        for jid in st.getJobIdsForGroup(group):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            name = None
            for sid in info.stageIds:
                si = st.getStageInfo(sid)
                if si is None:
                    continue
                stages += 1
                tasks += si.numCompletedTasks + si.numFailedTasks
                failed += si.numFailedTasks
                name = name or si.name
            layer = job_layer(name)
            if layer == "other":
                layer = self._span_layer_at(group, jid)
            by_layer[layer] = by_layer.get(layer, 0) + 1
            sites[name] = sites.get(name, 0) + 1
        return {
            "jobs": jobs, "stages": stages, "tasks": tasks, "failed_tasks": failed,
            "jobs_by_layer": by_layer, "call_sites": sites,
        }

    # ------------------------------------------------------------- wrappers

    def install(self) -> None:
        for mod_name, cls_name, attrs in PATCHES:
            mod = importlib.import_module(mod_name)
            owner = getattr(mod, cls_name) if cls_name else mod
            for attr in attrs:
                fn = getattr(owner, attr)
                name = f"{layer_of_module(fn.__module__)}.{fn.__name__}"
                setattr(owner, attr, self._wrap(fn, name))
                self._patched.append((owner, attr, fn))

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    def _wrap(self, fn, name: str):
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name) as rec:
                out = fn(*args, **kwargs)
                rec["kind"] = "lazy" if _has_dataframe(out) else "eager"
                return out

        traced.__wrapped__ = fn
        traced.__name__ = fn.__name__
        return traced

    # ------------------------------------------------------------- summary

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and "end" in s]

    def wall_s(self) -> float:
        return self._now()

    def top_span_coverage(self) -> float:
        top = sum(s["end"] - s["start"] for s in self.spans if s["parent"] is None and "end" in s)
        return top / self.wall_s()

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "ops": self.ops, **extra}, f)
