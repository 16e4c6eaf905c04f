"""Traced-run tooling: spans around calls into the program, Spark job
attribution through an event log, and the per-layer table.

Spans are recorded from the benchmark's own code around each public call it
makes (the program itself is not instrumented).  While a span is open its id
is set as a Spark local property, so every job the call starts carries it;
the event log, enabled only in traced runs, then gives task time, GC,
shuffle and spill per span.  Streaming micro-batch jobs run on the query's
own thread, which inherits the local properties of the thread that started
the query, so they land on the span that started the stream.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

SPAN_PROP = "perfbench.span"

# span name -> the layer group whose spark.* metrics it feeds
SPAN_GROUP = {
    "session.start": "setup",
    "engine.init": "setup",
    "parquet.register_views": "setup",
    "kafka.decode_plan": "setup",
    "kafka.decode": "kafka",
    "engine.sql": "engine",
    "engine.collect": "engine",
    "streaming.start": "streaming",
    "functions.text.quality": "functions.text",
    "operators.dedup.lsh": "operators.dedup",
    "operators.dedup.candidates": "operators.dedup",
    "operators.graph.components": "operators.graph",
    "sink.compact": "sink",
}
SPARK_GROUPS = (
    "setup",
    "kafka",
    "engine",
    "streaming",
    "functions.text",
    "operators.dedup",
    "operators.graph",
    "sink",
)
SPARK_FIELDS = (("task_ms", "ms"), ("gc_ms", "ms"), ("shuffle_bytes", "bytes"), ("spill_bytes", "bytes"))

# Every per-layer metric a traced run prints, with its unit.  A layer a
# workload does not exercise reads 0.
PER_LAYER: dict[str, str] = {
    "session.import_s": "s",
    "session.start_s": "s",
    "parquet.register_views_ms": "ms",
    "engine.init_ms": "ms",
    "kafka.decode_plan_ms": "ms",
    "engine.sql_ms": "ms",
    "engine.collect_ms": "ms",
    "engine.rows_out": "count",
    "kafka.decode_s.avro_py": "s",
    "kafka.decode_s.json_jvm": "s",
    "kafka.decode_s.avro_py.local1": "s",
    "kafka.records_in": "count",
    "kafka.rows_out": "count",
    "kafka.tombstones_skipped": "count",
    "schema.avro.decode_us": "us",
    "streaming.batch_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.rows_per_batch": "count",
    "streaming.batches": "count",
    "streaming.backlog_files": "count",
    "streaming.generator_late_ms": "ms",
    "sink.files": "count",
    "sink.compact_ms": "ms",
    "functions.text.quality_s": "s",
    "operators.dedup.lsh_s": "s",
    "operators.dedup.candidate_pairs": "count",
    "operators.dedup.verify_yield": "ratio",
    "operators.graph.components_s": "s",
    "operators.graph.jobs": "count",
    "curation.pipeline_s": "s",
    "curation.pipeline_cold_s": "s",
    "trace.setup_s": "s",
    "trace.op_cpu_ms": "ms",
    "trace.op_p50_ms": "ms",
    "trace.first_query_s": "s",
    "mem.peak_rss_mb": "MB",
}
for _g in SPARK_GROUPS:
    for _f, _u in SPARK_FIELDS:
        PER_LAYER[f"spark.{_f}.{_g}"] = _u


class Tracer:
    """Span recorder; a disabled tracer records nothing and costs a branch."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[str] = []
        self._sc = None
        self._next = 0

    def bind(self, spark) -> None:
        """Tag the jobs of ``spark``'s context from now on (None: no context)."""
        self._sc = spark.sparkContext if spark is not None else None

    @contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield
            return
        sid = f"{self.run_id}.{self._next}"
        self._next += 1
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        if self._sc is not None:
            self._sc.setLocalProperty(SPAN_PROP, sid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            if self._sc is not None:
                self._sc.setLocalProperty(SPAN_PROP, parent)
            self.spans.append(
                {"id": sid, "name": name, "parent": parent, "op": op,
                 "start": t0, "end": t1, "run": self.run_id}
            )

    def durations(self, name: str) -> list[float]:
        """Seconds spent in each span called ``name``."""
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def spark_metrics(eventlog_dir: str, spans: list[dict]) -> tuple[dict, dict]:
    """Sum task metrics per layer group from every event log in
    ``eventlog_dir``.  Returns ({group: {field: value}}, {span name: jobs})."""
    name_of = {s["id"]: s["name"] for s in spans}
    totals: dict = defaultdict(lambda: dict.fromkeys((f for f, _ in SPARK_FIELDS), 0))
    jobs: dict = defaultdict(int)
    for path in sorted(glob.glob(os.path.join(eventlog_dir, "**", "*"), recursive=True)):
        if not os.path.isfile(path):
            continue
        stage_group: dict[int, str] = {}
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    name = name_of.get((ev.get("Properties") or {}).get(SPAN_PROP), "other")
                    jobs[name] += 1
                    for st in ev.get("Stage IDs", []):
                        stage_group.setdefault(st, SPAN_GROUP.get(name, "other"))
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    t = totals[stage_group.get(ev.get("Stage ID"), "other")]
                    t["task_ms"] += m.get("Executor Run Time", 0)
                    t["gc_ms"] += m.get("JVM GC Time", 0)
                    t["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    t["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    return dict(totals), dict(jobs)


def per_layer_table(layer: dict, eventlog_dir: str | None, tracer: Tracer) -> dict:
    """The full per-layer metric dict: ``layer`` values measured by the
    workload, spark.* sums from the event log, and 0 for the rest."""
    out = {name: 0.0 for name in PER_LAYER}
    if eventlog_dir:
        totals, jobs = spark_metrics(eventlog_dir, tracer.spans)
        for g in SPARK_GROUPS:
            for f, _ in SPARK_FIELDS:
                out[f"spark.{f}.{g}"] = float(totals.get(g, {}).get(f, 0))
        if "operators.graph.components" in jobs:
            out["operators.graph.jobs"] = float(jobs["operators.graph.components"])
    for k, v in layer.items():
        if k not in out:
            raise KeyError(f"per-layer metric {k!r} is not declared in PER_LAYER")
        out[k] = float(v)
    return out
