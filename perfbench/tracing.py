"""Traced run: spans at layer boundaries, Spark work attributed to spans,
Py4J round trips counted per layer, per-layer metrics from the event log.

Spans are recorded by wrapping the engine's public functions where their
callers look them up (module attributes such as
`real_value_etl_spark.plans.pipeline.write_parquet`); no engine file is
touched. On entering a span the tracer sets the Spark job group to the span
id, so every job the span launches carries it in the event log; task
metrics then roll up to the innermost span's layer.
Spans stay in memory and are written out once, after the session stops.
"""

from __future__ import annotations

import json
import os
import time
from collections import Counter, defaultdict
from contextlib import contextmanager

from stats import clipped, self_times, union_length

# The span id doubles as the Spark job group: every job carries its group in
# the event log, and the engine sets no job groups of its own.
SPAN_PROP = "spark.jobGroup.id"

LAYERS = (
    "api",
    "sources.resolver",
    "sources.csv_source",
    "plans.transformers",
    "plans.merger",
    "plans.finalize",
    "sinks.writers",
    "queries",
    "operators.dedup",
    "operators.similarity",
)
# layers whose spans can launch Spark jobs
SPARK_LAYERS = (
    "api",
    "sources.csv_source",
    "sinks.writers",
    "queries",
    "operators.dedup",
    "operators.similarity",
)
SPARK_FIELDS = ("spark_jobs", "spark_tasks", "task_s", "gc_s", "shuffle_write_bytes", "spill_bytes")
FIRST_REQUEST_LAYERS = ("sources.csv_source", "plans.transformers", "plans.merger",
                        "plans.finalize", "sinks.writers", "queries", "api")


def per_layer_metric_specs() -> list[dict]:
    """Every per-layer metric the traced run prints, with unit and direction."""
    specs = []

    def add(name, unit, better="lower"):
        specs.append({"name": name, "unit": unit, "better": better})

    for layer in LAYERS:
        add(f"{layer}.calls", "count")
        add(f"{layer}.busy_s", "s")
    def spark_unit(field):
        return "s" if field.endswith("_s") else "bytes" if field.endswith("_bytes") else "count"

    for layer in SPARK_LAYERS:
        for f in SPARK_FIELDS:
            add(f"{layer}.{f}", spark_unit(f))
    add("api.driver_only_s", "s")
    add("sources.csv_source.jobs", "count")
    add("sinks.writers.bytes_written", "bytes")
    add("sinks.writers.files_written", "count")
    add("operators.dedup.candidate_pairs", "count")
    add("operators.dedup.verified_pairs", "count", "higher")
    add("operators.dedup.useful_ratio", "ratio", "higher")
    for f in SPARK_FIELDS:
        add(f"session.{f}", spark_unit(f))
    add("session.task_wait_s", "s")
    add("session.peak_rss_mb", "MB")
    for layer in LAYERS:
        add(f"py4j.{layer}.calls", "count")
    for layer in FIRST_REQUEST_LAYERS:
        add(f"first_request.{layer}.busy_s", "s")
    add("trace.request_p50_s", "s")
    add("trace.untraced_request_p50_s", "s")
    add("trace.overhead_ratio", "ratio")
    add("trace.self_time_share", "ratio", "higher")
    return specs


class Tracer:
    """Span recorder for one single-threaded client."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.request: int | None = None
        self.py4j: Counter = Counter()  # (request, layer) -> round trips
        self._stack: list[dict] = []
        self._patches: list[tuple[object, str, object]] = []
        self._quiet = False  # the tracer's own Py4J calls are not counted

    # ---------------------------------------------------------------- spans
    def _set_prop(self, value: str | None) -> None:
        self._quiet = True
        try:
            self.sc.setLocalProperty(SPAN_PROP, value)
        finally:
            self._quiet = False

    @contextmanager
    def span(self, name: str, layer: str):
        parent = self._stack[-1] if self._stack else None
        sp = {"id": len(self.spans), "name": name, "layer": layer,
              "parent": parent["id"] if parent else None, "request": self.request,
              "start": time.time(), "end": None}
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_prop(str(sp["id"]))
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            self._stack.pop()
            self._set_prop(str(parent["id"]) if parent else None)

    # ------------------------------------------------------------- patching
    def traced(self, fn, layer: str, name: str):
        """fn wrapped in a span of `layer`."""
        tracer = self

        def call(*args, **kwargs):
            with tracer.span(name, layer):
                return fn(*args, **kwargs)

        call.__wrapped__ = fn
        return call

    def patch(self, owner, attr: str, value) -> None:
        """Set owner.attr (module or object attribute) to value until
        `unpatch_all` restores the original."""
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def wrap(self, owner, attr: str, layer: str, name: str | None = None) -> None:
        self.patch(owner, attr, self.traced(getattr(owner, attr), layer, name or attr))

    def count_py4j(self, client) -> None:
        """Count GatewayClient.send_command round trips per active layer."""
        orig = client.send_command
        tracer = self

        def send_command(*args, **kwargs):
            if not tracer._quiet and tracer._stack:
                tracer.py4j[(tracer.request, tracer._stack[-1]["layer"])] += 1
            return orig(*args, **kwargs)

        self.patch(client, "send_command", send_command)

    @property
    def active(self) -> bool:
        """True while the call-site wrappers are installed."""
        return bool(self._patches)

    def unpatch_all(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(json.dumps(sp) + "\n")


def install_engine_spans(tracer: Tracer) -> None:
    """Wrap each layer's public entry points at the sites that call them."""
    from real_value_etl_spark import api
    from real_value_etl_spark.plans import pipeline
    from real_value_etl_spark.queries import all_queries  # noqa: F401
    from real_value_etl_spark.queries.registry import REGISTRY

    tracer.wrap(api, "handle_etl_start", "api")
    tracer.wrap(api, "handle_run_query", "api")
    tracer.wrap(pipeline, "list_local_catalog", "sources.resolver")
    tracer.wrap(pipeline, "resolve_dates", "sources.resolver")
    tracer.wrap(pipeline, "read_platform_csv", "sources.csv_source")
    tracer.wrap(pipeline, "merge_unified", "plans.merger")
    tracer.wrap(pipeline, "finalize_unified", "plans.finalize")
    tracer.wrap(pipeline, "write_parquet", "sinks.writers")
    tracer.wrap(pipeline, "write_csv", "sinks.writers")
    tracer.patch(pipeline, "TRANSFORMERS", {
        platform: tracer.traced(fn, "plans.transformers", f"transform_{platform}")
        for platform, fn in pipeline.TRANSFORMERS.items()
    })
    for name, spec in REGISTRY.items():
        tracer.wrap(spec, "fn", "queries", name)
    tracer.count_py4j(tracer.sc._gateway._gateway_client)


# ------------------------------------------------------------------ event log


def read_event_log(log_dir: str) -> list[dict]:
    """All events under log_dir, in either the single-file or the rolling
    (eventlog_v2_<app>/events_<n>_<app>) layout."""
    paths = []
    for dirpath, _, files in os.walk(log_dir):
        paths += [os.path.join(dirpath, f) for f in files
                  if not f.startswith((".", "appstatus"))]
    paths.sort(key=lambda p: [int(t) if t.isdigit() else t for t in p.replace("/", "_").split("_")])
    events = []
    for path in paths:
        with open(path) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def spark_work(events: list[dict]) -> tuple[dict, dict]:
    """(jobs, per-span task totals) from event-log records. jobs maps job
    id -> {span, start, end}; totals maps span id -> Counter of metrics."""
    jobs: dict[int, dict] = {}
    stage_span: dict[int, int | None] = {}
    stage_submit: dict[int, float] = {}
    totals: dict[int | None, Counter] = defaultdict(Counter)
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            span = (ev.get("Properties") or {}).get(SPAN_PROP)
            span = int(span) if span not in (None, "") else None
            jobs[ev["Job ID"]] = {"span": span, "start": ev["Submission Time"] / 1000, "end": None}
            for sid in ev.get("Stage IDs", []):
                stage_span.setdefault(sid, span)
            if span is not None:
                totals[span]["spark_jobs"] += 1
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            if "Submission Time" in info:
                stage_submit[info["Stage ID"]] = info["Submission Time"] / 1000
        elif kind == "SparkListenerTaskEnd":
            span = stage_span.get(ev["Stage ID"])
            if span is None:
                continue
            tm = ev.get("Task Metrics") or {}
            ti = ev["Task Info"]
            c = totals[span]
            c["spark_tasks"] += 1
            c["task_s"] += tm.get("Executor Run Time", 0) / 1000
            c["gc_s"] += tm.get("JVM GC Time", 0) / 1000
            c["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            c["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
            c["bytes_written"] += (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
            submit = stage_submit.get(ev["Stage ID"])
            if submit is not None:
                c["task_wait_s"] += max(0.0, ti["Launch Time"] / 1000 - submit)
    return jobs, totals


def layer_metrics(tracer: Tracer, events: list[dict], measured: set[int],
                  first_request: int | None) -> dict[str, float]:
    """Per-layer metrics as means per measured request."""
    spans = tracer.spans
    selfs = self_times(spans)
    jobs, totals = spark_work(events)
    n = max(1, len(measured))
    out: dict[str, float] = defaultdict(float)
    by_id = {sp["id"]: sp for sp in spans}
    for sp in spans:
        if sp["request"] in measured:
            out[f"{sp['layer']}.calls"] += 1 / n
            out[f"{sp['layer']}.busy_s"] += selfs[sp["id"]] / n
            for f, v in totals.get(sp["id"], {}).items():
                if sp["layer"] in SPARK_LAYERS and f in SPARK_FIELDS:
                    out[f"{sp['layer']}.{f}"] += v / n
                if f in SPARK_FIELDS or f == "task_wait_s":
                    out[f"session.{f}"] += v / n
                if f == "bytes_written" and sp["layer"] == "sinks.writers":
                    out["sinks.writers.bytes_written"] += v / n
        elif first_request is not None and sp["request"] == first_request:
            if sp["layer"] in FIRST_REQUEST_LAYERS:
                out[f"first_request.{sp['layer']}.busy_s"] += selfs[sp["id"]]
    out["sources.csv_source.jobs"] = out["sources.csv_source.spark_jobs"]
    for (req, layer), calls in tracer.py4j.items():
        if req in measured:
            out[f"py4j.{layer}.calls"] += calls / n
    # driver-only wall time of each api request: not covered by any job
    # launched from inside that request
    job_iv: dict[int, list] = defaultdict(list)
    for job in jobs.values():
        if job["span"] is not None and job["end"] is not None:
            job_iv[by_id[job["span"]]["request"]].append((job["start"], job["end"]))
    for sp in spans:
        if sp["request"] in measured and sp["layer"] == "api" and sp["parent"] is None:
            covered = union_length(clipped(job_iv[sp["request"]], sp["start"], sp["end"]))
            out["api.driver_only_s"] += (sp["end"] - sp["start"] - covered) / n
    return out
