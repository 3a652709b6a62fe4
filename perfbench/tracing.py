"""Traced-run recorder: spans around the engine's layer boundaries.

The recorder wraps public functions of the layers by replacing module
and class attributes for the duration of a traced request, and puts
every attribute back afterwards; nothing under ``time_series_db_spark/``
is edited.  Every wrapped call records one span (name, start, end,
parent span, request id) in memory.  Spark work is attributed with a
job group per phase (build, collect) read back through the status
tracker, and py4j traffic with a counter on ``JavaClient.send_command``.

Self time of a span is its duration minus the union of its children's
intervals; :func:`layer_metrics` turns a run's spans into the per-layer
metrics listed in ``BENCHMARK.json``.
"""

from __future__ import annotations

import importlib
import statistics
import time
from dataclasses import dataclass, field

#: (module, attribute path, span name).  ``service`` binds ``to_matrix``
#: at import, so its own attribute is wrapped beside ``output``'s.
WRAPPED = [
    ("time_series_db_spark.service", "m3ql_query_range", "service"),
    ("time_series_db_spark.service", "promql_query_range", "service"),
    ("time_series_db_spark.lang.m3.parser", "parse", "lang.parse"),
    ("time_series_db_spark.lang.prom.parser", "parse", "lang.parse"),
    ("time_series_db_spark.lang.m3.builder", "execute", "lang.build"),
    ("time_series_db_spark.lang.prom.builder", "execute", "lang.build"),
    ("time_series_db_spark.sources.m3source", "EventsSource.fetch", "sources.fetch"),
    ("time_series_db_spark.sources.m3source", "MetricsSource.fetch", "sources.fetch"),
    ("time_series_db_spark.cache", "probe_memo", "cache.probe"),
    ("time_series_db_spark.cache", "persist_tracked", "cache.persist"),
    ("time_series_db_spark.cache", "release_others", "cache.release"),
    ("time_series_db_spark.output", "to_matrix", "output.shape"),
    ("time_series_db_spark.output", "to_vector", "output.shape"),
    ("time_series_db_spark.service", "to_matrix", "output.shape"),
    ("pyspark.sql.classic.dataframe", "DataFrame.collect", "collect"),
]

#: spans whose Spark jobs are attributed to a phase via a job group
JOB_GROUP_PHASE = {
    "lang.build": "build",
    "output.shape": "collect",
    "catalog.build": "catalog_build",
    "catalog.action": "catalog_action",
}


MEAN_METRICS = {
    "lang.build_jobs", "cache.probe_calls", "cache.persist_calls",
    "output.points", "exec.jobs", "exec.stages", "exec.tasks",
    "catalog.build_jobs", "catalog.action_jobs",
}


@dataclass
class Span:
    i: int  # index in the run's span list
    name: str
    start: float
    end: float
    parent: int | None
    req: int
    attrs: dict = field(default_factory=dict)


def _resolve(mod_name: str, attr: str):
    owner = importlib.import_module(mod_name)
    parts = attr.split(".")
    for p in parts[:-1]:
        owner = getattr(owner, p)
    return owner, parts[-1]


class Tracer:
    """In-memory span recorder for one benchmark run."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.requests: dict[int, dict] = {}
        self._stack: list[int] = []
        self._req = -1
        self._saved: list[tuple[object, str, object]] = []
        self._py4j = 0
        self._counting = False
        self._group_seq = 0
        self._current_group = None
        # fetch results seen so far, kept alive so an id is never reused
        self._frames: dict[int, object] = {}

    # -- installation ------------------------------------------------------
    def install(self) -> None:
        if self._saved:
            return
        from py4j.clientserver import JavaClient

        for mod, attr, name in WRAPPED:
            owner, leaf = _resolve(mod, attr)
            orig = getattr(owner, leaf)
            self._saved.append((owner, leaf, orig))
            setattr(owner, leaf, self._wrap(orig, name))
        orig_send = JavaClient.send_command
        self._saved.append((JavaClient, "send_command", orig_send))
        tracer = self

        def send_command(client, command, *a, **kw):
            if tracer._counting:
                tracer._py4j += 1
            return orig_send(client, command, *a, **kw)

        JavaClient.send_command = send_command

    def uninstall(self) -> None:
        for owner, leaf, orig in reversed(self._saved):
            setattr(owner, leaf, orig)
        self._saved = []

    def _wrap(self, fn, name: str):
        tracer = self

        def wrapped(*args, **kwargs):
            if tracer._req < 0:
                return fn(*args, **kwargs)
            if name == "collect" and not tracer._stack:
                return fn(*args, **kwargs)
            return tracer._call(name, fn, args, kwargs)

        wrapped.__wrapped__ = fn
        return wrapped

    # -- recording ---------------------------------------------------------
    def _call(self, name, fn, args, kwargs):
        parent = self._stack[-1] if self._stack else None
        span = Span(len(self.spans), name, time.perf_counter(), 0.0, parent, self._req)
        self.spans.append(span)
        self._stack.append(span.i)
        py4j_before = self._py4j
        phase = JOB_GROUP_PHASE.get(name)
        prev_group = None
        if phase is not None:
            prev_group = self._set_group(f"{phase}-{self._req}-{self._group_seq}")
            span.attrs["group"] = self._current_group
            self._group_seq += 1
        compute_ran = [False]
        if name == "cache.probe":
            args = list(args)
            inner = args[2] if len(args) > 2 else kwargs["compute"]

            def compute():
                compute_ran[0] = True
                return inner()

            if len(args) > 2:
                args[2] = compute
            else:
                kwargs["compute"] = compute
        try:
            out = fn(*args, **kwargs)
        finally:
            span.end = time.perf_counter()
            span.attrs["py4j"] = self._py4j - py4j_before
            self._stack.pop()
            if phase is not None:
                self._set_group(prev_group)
        if name == "cache.probe":
            span.attrs["hit"] = not compute_ran[0]
        elif name == "sources.fetch":
            span.attrs["hit"] = id(out) in self._frames
            self._frames[id(out)] = out
        elif name == "output.shape" and isinstance(out, dict):
            res = out.get("data", {}).get("result", [])
            span.attrs["points"] = sum(
                len(r.get("values", ())) or 1 for r in res
            )
        return out

    def call(self, name: str, fn, *args):
        """Record ``fn(*args)`` as a span of the current request — for
        layer boundaries the benchmark calls directly (catalog entries)."""
        return self._call(name, fn, args, {})

    def _set_group(self, group):
        """Set the job group; the property call is not counted as the
        request's py4j traffic."""
        prev, counting = self._current_group, self._counting
        self._counting = False
        self.sc.setLocalProperty("spark.jobGroup.id", group)
        self._counting = counting
        self._current_group = group
        return prev

    def begin(self, req: int, kind: str) -> None:
        """Start request ``req``: subsequent wrapped calls belong to it."""
        self._req = req
        self.requests[req] = {"kind": kind, "start": time.perf_counter()}
        self._py4j = 0
        self._counting = True

    def end(self, req: int) -> None:
        """Close request ``req`` and read its Spark and cache counters."""
        self._counting = False
        rec = self.requests[req]
        rec["end"] = time.perf_counter()
        rec["py4j_calls"] = self._py4j
        self._req = -1
        rec["jobs"] = {}
        st = self.sc.statusTracker()
        for s in self.spans:
            group = s.attrs.get("group") if s.req == req else None
            if group is None:
                continue
            phase = JOB_GROUP_PHASE[s.name]
            agg = rec["jobs"].setdefault(
                phase, {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
            )
            for jid in st.getJobIdsForGroup(group):
                agg["jobs"] += 1
                info = st.getJobInfo(jid)
                for sid in (info.stageIds if info else []):
                    si = st.getStageInfo(sid)
                    if si is None or si.numCompletedTasks == 0:
                        continue
                    agg["stages"] += 1
                    agg["tasks"] += si.numCompletedTasks
                    agg["failed_tasks"] += si.numFailedTasks
        rdds = self.sc._jsc.sc().getRDDStorageInfo()
        rec["cached_mb"] = sum(r.memSize() + r.diskSize() for r in rdds) / 2**20

    def dump(self) -> list[dict]:
        return [
            {
                "name": s.name, "start": s.start, "end": s.end,
                "parent": s.parent, "req": s.req, **s.attrs,
            }
            for s in self.spans
        ]


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span index → seconds of the span not covered by a child span."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_end = s.start
        for c in sorted(children.get(s.i, []), key=lambda c: c.start):
            lo, hi = max(c.start, cur_end), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                cur_end = hi
        out[s.i] = (s.end - s.start) - covered
    return out


def _request_metrics(rec: dict, spans: list[Span]) -> dict[str, float]:
    selft = self_times(spans)

    def total(name, self_only=False):
        return sum(
            selft[s.i] if self_only else s.end - s.start
            for s in spans if s.name == name
        )

    def jobs(phase, key="jobs"):
        return rec["jobs"].get(phase, {}).get(key, 0)

    shape_ids = {s.i for s in spans if s.name == "output.shape"}
    collect_s = sum(
        s.end - s.start for s in spans
        if s.name == "collect" and s.parent in shape_ids
    )
    shape_s = total("output.shape")
    out = {
        "lang.parse_ms": total("lang.parse") * 1e3,
        "lang.build_ms": total("lang.build", self_only=True) * 1e3,
        "lang.build_jobs": jobs("build"),
        "lang.py4j_calls": sum(s.attrs["py4j"] for s in spans if s.name == "lang.build"),
        "sources.fetch_ms": total("sources.fetch") * 1e3,
        "cache.probe_calls": sum(s.name == "cache.probe" for s in spans),
        "cache.persist_calls": sum(s.name == "cache.persist" for s in spans),
        "cache.release_ms": total("cache.release") * 1e3,
        "cache.cached_mb": rec["cached_mb"],
        "output.collect_ms": collect_s * 1e3,
        "output.shape_ms": (shape_s - collect_s) * 1e3,
        "output.points": sum(s.attrs.get("points", 0) for s in spans),
        "service.overhead_ms": (
            (rec["end"] - rec["start"] - total("lang.build") - shape_s) * 1e3
            if any(s.name == "service" for s in spans) else 0.0
        ),
        "catalog.build_ms": total("catalog.build") * 1e3,
        "catalog.action_ms": total("catalog.action") * 1e3,
        "catalog.build_jobs": jobs("catalog_build"),
        "catalog.action_jobs": jobs("catalog_action"),
    }
    for k in ("jobs", "stages", "tasks", "failed_tasks"):
        out[f"exec.{k}"] = jobs("collect", k)
    return out


def layer_metrics(tracer: Tracer) -> dict[str, float]:
    """Per-request medians (times, py4j calls) or means (work counts) over
    the traced requests of one run, and run-wide ratios."""
    by_req: dict[int, list[Span]] = {}
    for s in tracer.spans:
        by_req.setdefault(s.req, []).append(s)
    per_req: dict[str, list[float]] = {}
    for req, rec in tracer.requests.items():
        for k, v in _request_metrics(rec, by_req.get(req, [])).items():
            per_req.setdefault(k, []).append(float(v))
    out = {
        k: (statistics.fmean(v) if k in MEAN_METRICS else statistics.median(v))
        for k, v in per_req.items()
    }
    out["exec.failed_tasks"] = sum(per_req.get("exec.failed_tasks", []))
    for name, key in (("cache.probe", "cache.probe_hit_ratio"),
                      ("sources.fetch", "sources.fetch_memo_hit_ratio")):
        calls = [s for s in tracer.spans if s.name == name]
        out[key] = sum(s.attrs["hit"] for s in calls) / len(calls) if calls else 0.0
    return out
