"""Span tracing for the traced benchmark run.

``instrument`` wraps the public layer functions named in ``LAYER_CALLS``
so each call records one span: name, start, end, parent span and the
operation it belongs to. Spark is
lazy, so the wrapper forces a returned DataFrame with
``localCheckpoint(eager=True)`` -- the stage commit the pipeline itself
uses -- and the span brackets the work of that layer. Every span tags its
Spark jobs with a job group, and ``read_event_log`` maps the event
log's jobs, stages and tasks back onto spans through that group.

Spans and counts stay in memory and are written out once, at the end.
"""

from __future__ import annotations

import functools
import importlib
import json
import statistics
import sys
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame

# (module, function, span name) for every public layer call that is traced
LAYER_CALLS = [
    ("graphiti_spark.sources.pages", "build_pages", "pages.build_pages"),
    ("graphiti_spark.operators.episodes", "build_episodes", "episodes.build_episodes"),
    ("graphiti_spark.operators.extract", "extract_all", "extract.extract_all"),
    ("graphiti_spark.operators.extract", "attach_labels", "extract.attach_labels"),
    ("graphiti_spark.operators.resolve", "resolve_entities", "resolve.resolve_entities"),
    ("graphiti_spark.operators.resolve", "distinct_entities", "resolve.distinct_entities"),
    ("graphiti_spark.operators.resolve", "match_edges_exact", "resolve.match_edges_exact"),
    ("graphiti_spark.operators.resolve", "lsh_band_rows", "resolve.lsh_band_rows"),
    ("graphiti_spark.operators.resolve", "match_edges_lsh", "resolve.match_edges_lsh"),
    ("graphiti_spark.operators.resolve", "connected_components", "resolve.connected_components"),
    ("graphiti_spark.operators.materialize", "resolve_edge_pointers", "materialize.resolve_edge_pointers"),
    ("graphiti_spark.operators.materialize", "materialize_edges", "materialize.materialize_edges"),
    ("graphiti_spark.operators.materialize", "invalidate_edges", "materialize.invalidate_edges"),
    ("graphiti_spark.operators.materialize", "build_mention_edges", "materialize.build_mention_edges"),
    ("graphiti_spark.operators.summaries", "with_summaries", "nodes.with_summaries"),
    ("graphiti_spark.operators.attributes", "with_attributes", "nodes.with_attributes"),
    ("graphiti_spark.plans.pipeline", "triples_view", "pipeline.triples_view"),
]


def _force(value):
    if isinstance(value, DataFrame):
        return value.localCheckpoint(eager=True)
    if isinstance(value, tuple):
        return tuple(_force(v) for v in value)
    return value


class Tracer:
    """In-memory span and count recorder bound to one SparkContext."""

    def __init__(self, sc):
        self._sc = sc
        self.spans: list[dict] = []
        self.counts: list[dict] = []
        self._stack: list[tuple[int, str]] = []
        self._next = 0
        self.op = "setup"  # id of the operation the next spans belong to

    def _tag(self) -> None:
        if self._stack:
            sid, name = self._stack[-1]
            self._sc.setJobGroup(f"span-{sid}", name)
        else:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def span(self, name: str):
        sid = self._next
        self._next += 1
        parent = self._stack[-1][0] if self._stack else None
        self._stack.append((sid, name))
        self._tag()
        start = time.perf_counter()
        try:
            yield sid
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self._tag()
            self.spans.append({"id": sid, "name": name, "parent": parent,
                               "op": self.op, "start": start, "end": end})

    def count(self, name: str, value: float) -> None:
        self.counts.append({"name": name, "value": value, "op": self.op})

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                out = _force(fn(*args, **kwargs))
            counter = COUNTERS.get(name)
            if counter is not None:
                # counting runs extra Spark jobs: its own span, so it is
                # excluded from the layer's time and from the Spark totals
                with self.span("trace.count"):
                    for k, v in counter(out, args, kwargs).items():
                        self.count(k, v)
            return out

        return traced


@contextmanager
def instrument(tracer: Tracer):
    """Patch every binding of the traced layer functions (the defining
    module and every loaded module that imported the name, the
    benchmark's own included); restore them on exit."""
    patched: list[tuple[object, str, object]] = []
    for mod_name, fn_name, span_name in LAYER_CALLS:
        mod = importlib.import_module(mod_name)
        orig = getattr(mod, fn_name)
        wrapped = tracer.wrap(orig, span_name)
        for m in list(sys.modules.values()):
            if getattr(m, "__dict__", {}).get(fn_name) is orig:
                patched.append((m, fn_name, orig))
                setattr(m, fn_name, wrapped)
    try:
        yield tracer
    finally:
        for obj, attr, orig in reversed(patched):
            setattr(obj, attr, orig)


# -- event-log attribution --------------------------------------------------


def read_event_log(path: str) -> dict:
    """Per job group: jobs, stages, tasks, shuffle bytes written, task wait
    (launch minus stage submission) and per-stage task durations. Stages
    map to jobs through SparkListenerJobStart's "Stage IDs" (a stage
    belongs to the first job that lists it before it is submitted), never
    through time windows, so nothing is counted twice."""
    job_group: dict[int, str] = {}
    stage_job: dict[int, int] = {}
    submitted: dict[int, float] = {}
    groups: dict[str, dict] = {}

    def g(job: int) -> dict:
        key = job_group.get(job, "")
        return groups.setdefault(key, {"jobs": 0, "stages": 0, "tasks": 0,
                                       "shuffle_write_bytes": 0,
                                       "task_wait_s": 0.0, "stage_tasks": {}})

    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                job = ev["Job ID"]
                job_group[job] = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                for s in ev.get("Stage IDs", []):
                    if s not in submitted:
                        stage_job[s] = job
                g(job)["jobs"] += 1
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                sid = info["Stage ID"]
                submitted[sid] = info.get("Submission Time", 0) / 1000.0
                if sid in stage_job:
                    g(stage_job[sid])["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                if sid not in stage_job:
                    continue
                rec = g(stage_job[sid])
                info = ev["Task Info"]
                launch, finish = info["Launch Time"] / 1000.0, info["Finish Time"] / 1000.0
                rec["tasks"] += 1
                rec["task_wait_s"] += max(0.0, launch - submitted.get(sid, launch))
                rec["stage_tasks"].setdefault(sid, []).append(finish - launch)
                sw = (ev.get("Task Metrics") or {}).get("Shuffle Write Metrics") or {}
                rec["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    return groups


def _self_time(span: dict, children: list[dict]) -> float:
    """Span duration minus the part of it its child spans cover."""
    covered, cur_s, cur_e = 0.0, None, None
    for c in sorted(children, key=lambda c: c["start"]):
        s, e = max(c["start"], span["start"]), min(c["end"], span["end"])
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (span["end"] - span["start"]) - covered


def summarize(tracer: Tracer, groups: dict) -> dict:
    """Per span: self time and inclusive Spark counters (own jobs plus all
    descendants'). Returns {"spans": [...]} ready to write out."""
    kids: dict = {}
    for s in tracer.spans:
        kids.setdefault(s["parent"], []).append(s)
    by_id = {s["id"]: s for s in tracer.spans}
    out = []
    for s in tracer.spans:
        own = groups.get(f"span-{s['id']}", {})
        rec = dict(s, duration_s=s["end"] - s["start"],
                   self_s=_self_time(s, kids.get(s["id"], [])))
        for k in ("jobs", "stages", "tasks", "shuffle_write_bytes", "task_wait_s"):
            rec["own_" + k] = own.get(k, 0)
        out.append(rec)
    # inclusive counters: fold each span's own counters into its ancestors
    incl = {r["id"]: {k: r["own_" + k] for k in
                      ("jobs", "stages", "tasks", "shuffle_write_bytes", "task_wait_s")}
            for r in out}
    for r in out:
        p = by_id[r["id"]]["parent"]
        while p is not None:
            for k in incl[p]:
                incl[p][k] += r["own_" + k]
            p = by_id[p]["parent"]
    for r in out:
        for k, v in incl[r["id"]].items():
            r[k] = v
    return {"spans": out}


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def task_skew(groups: dict, keys) -> float:
    """Median over stages (with at least two tasks) of max / median task
    time, over the stages of the given job groups."""
    skews = []
    for key in keys:
        for durs in groups.get(key, {}).get("stage_tasks", {}).values():
            if len(durs) >= 2:
                m = statistics.median(durs)
                skews.append(max(durs) / m if m > 0 else 1.0)
    return median(skews) if skews else 1.0


# -- counts recorded at layer boundaries (run outside the layer's span) -----


def _bucket_counts(bands, args, kwargs) -> dict:
    import inspect

    from graphiti_spark.operators.resolve import match_edges_lsh

    cap = inspect.signature(match_edges_lsh).parameters["max_bucket"].default
    sizes = [r[0] for r in bands.groupBy("group_id", "band", "bkey").count()
             .select("count").collect()]
    return {
        "resolve.band_rows": sum(sizes),
        "resolve.buckets_capped": sum(1 for n in sizes if n > cap),
        "resolve.lsh_candidate_pairs": sum(n * (n - 1) // 2 for n in sizes if n <= cap),
    }


def _triples_rows(extracted, args, kwargs) -> dict:
    return {"extract.triples_raw.rows": extracted.where("kind = 't'").count()}


def _rows(metric):
    return lambda df, args, kwargs: {metric: df.count()}


COUNTERS = {
    "pages.build_pages": _rows("pages.rows"),
    "episodes.build_episodes": _rows("episodes.rows"),
    "extract.extract_all": _triples_rows,
    "extract.attach_labels": _rows("extract.mentions_raw.rows"),
    "resolve.distinct_entities": _rows("resolve.entities"),
    "resolve.lsh_band_rows": _bucket_counts,
    "resolve.match_edges_lsh": _rows("resolve.lsh_verified_pairs"),
    "resolve.resolve_entities": lambda out, a, k: {"resolve.components": out[0].count()},
    "materialize.resolve_edge_pointers": _rows("materialize.raw_triples"),
    "materialize.materialize_edges": _rows("materialize.canonical_edges"),
    "materialize.invalidate_edges": lambda df, a, k: {
        "materialize.invalidated_edges": df.where("invalid_at is not null").count()},
}

# -- the per-layer metrics of BENCHMARK.json --------------------------------

SPAN_METRICS = [name for _, _, name in LAYER_CALLS]
COUNT_METRICS = [
    "pages.rows", "episodes.rows", "extract.triples_raw.rows",
    "extract.mentions_raw.rows", "resolve.entities", "resolve.band_rows",
    "resolve.buckets_capped", "resolve.components",
    "resolve.lsh_candidate_pairs", "resolve.lsh_verified_pairs",
    "materialize.invalidated_edges",
]
LAYER_PREFIXES = ["pages", "episodes", "extract", "resolve", "materialize",
                  "nodes", "pipeline", "op"]


def per_layer(summary: dict, tracer: Tracer, groups: dict) -> dict:
    """{metric: (value, unit)} for every per-layer metric. Span timings are
    the median self time per call over the measured operations; counts
    the median per call; Spark counters are totals over the measured
    operations; ``share.<layer>`` is the layer's self time over the
    measured operations' time; ``trace.op_p50_s`` the median traced
    operation time."""
    spans = [s for s in summary["spans"] if s["op"].startswith("op-")]
    out: dict = {}
    for name in SPAN_METRICS:
        out[f"{name}.s"] = (median(s["self_s"] for s in spans if s["name"] == name), "s")
    counts = [c for c in tracer.counts if c["op"].startswith("op-")]
    for name in COUNT_METRICS:
        out[name] = (median(c["value"] for c in counts if c["name"] == name), "count")

    def per_op(metric):
        agg: dict = {}
        for c in counts:
            if c["name"] == metric:
                agg[c["op"]] = agg.get(c["op"], 0) + c["value"]
        return agg

    cand, ver = per_op("resolve.lsh_candidate_pairs"), per_op("resolve.lsh_verified_pairs")
    out["resolve.lsh_yield"] = (median(ver.get(o, 0) / n for o, n in cand.items() if n), "ratio")
    raw, canon = per_op("materialize.raw_triples"), per_op("materialize.canonical_edges")
    out["materialize.dedup_ratio"] = (
        median(canon.get(o, 0) / n for o, n in raw.items() if n), "ratio")
    roots = [s for s in spans if s["parent"] is None and s["name"] == "op"]
    work = [s for s in spans if s["name"] != "trace.count"]
    for key, unit in (("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                      ("shuffle_write_bytes", "B"), ("task_wait_s", "s")):
        out[f"spark.{key}"] = (float(sum(s["own_" + key] for s in work)), unit)
    out["spark.task_skew"] = (task_skew(groups, [f"span-{s['id']}" for s in work]), "ratio")

    # layer shares of the measured operations' time, counting excluded
    def op_time(r):
        return r["duration_s"] - sum(s["duration_s"] for s in spans
                                     if s["op"] == r["op"] and s["name"] == "trace.count")

    total = sum(op_time(r) for r in roots)
    for p in LAYER_PREFIXES:
        sel = sum(s["self_s"] for s in work if s["name"].split(".")[0] == p)
        out[f"share.{p}"] = (sel / total if total > 0 else 0.0, "ratio")
    out["trace.op_p50_s"] = (
        median(op_time(r) for r in roots), "s")
    return out
