"""Spans around calls into the library, and the per-layer table.

Every call the benchmark makes into a layer's public function runs
inside :meth:`Tracer.span`. Untraced, a span only takes the wall time.
Traced, it also puts the call under its own Spark job group; after the
pass :meth:`Tracer.layer_table` reads the per-stage metrics from the
driver's in-process status store (it works with the UI disabled) and
charges each stage to the span whose job group ran it. Lazy work is
charged to the call that forces it, so each span also lists the names
of its stages.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

# Layers, one per library module (see the benchmark's BENCHMARK.json)
LAYERS = [
    "session",
    "sources.tiff_reader",
    "sources.netcdf",
    "operators.pyramid",
    "sources.raquet.write",
    "sources.raquet.read",
    "operators.tile_stats",
    "operators.region_stats",
    "operators.point_query",
    "sources.geotiff",
    "operators.textops",
    "operators.dedup",
    "operators.similarity",
]
READ_LAYERS = ("sources.tiff_reader", "sources.netcdf", "sources.raquet.read")
SUFFIXES = [
    ("calls", "count"),
    ("wall_s", "s"),
    ("driver_s", "s"),
    ("jobs", "count"),
    ("tasks", "count"),
    ("executor_cpu_s", "s"),
    ("shuffle_write_mb", "MB"),
    ("result_mb", "MB"),
]
_GROUP = "perfbench-"


def layer_metric_names():
    """(name, unit) of every per-layer metric, in output order."""
    out = [(f"{layer}.{s}", u) for layer in LAYERS for s, u in SUFFIXES]
    out += [(f"{layer}.input_rows", "count") for layer in READ_LAYERS]
    out.append(("operators.region_stats.rows_read_per_tile_hit", "count"))
    return out


class Tracer:
    """Records spans; ``traced`` adds one Spark job group per span."""

    def __init__(self, spark, traced: bool):
        self.sc = spark.sparkContext
        self.traced = traced
        self.spans: list[dict] = []

    @contextmanager
    def span(self, layer: str, op: str, **attrs):
        if layer not in LAYERS:
            raise ValueError(f"unknown layer {layer!r}")
        rec = {"id": len(self.spans), "layer": layer, "op": op, **attrs}
        if self.traced:
            self.sc.setJobGroup(f"{_GROUP}{rec['id']}", f"{layer} {op}")
        rec["epoch0"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["epoch1"] = time.time()
            if self.traced:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)

    # -- status store -------------------------------------------------

    def _stage_records(self) -> tuple[dict, dict]:
        """{span id: [job ids]}, {span id: [stage dicts]} from the
        status store, for the job groups this tracer set."""
        gw = self.sc._gateway
        conv = gw.jvm.scala.jdk.javaapi.CollectionConverters
        store = self.sc._jsc.sc().statusStore()

        def opt(o):
            return o.get() if o.isDefined() else None

        jobs_by_span: dict[int, list[int]] = {}
        span_of_stage: dict[int, int] = {}
        for j in conv.asJava(store.jobsList(None)):
            group = opt(j.jobGroup())
            if not group or not group.startswith(_GROUP):
                continue
            sid = int(group[len(_GROUP):])
            jobs_by_span.setdefault(sid, []).append(j.jobId())
            for st in conv.asJava(j.stageIds()):
                span_of_stage[int(st)] = sid
        stages_by_span: dict[int, list[dict]] = {}
        empty = gw.new_array(gw.jvm.double, 0)
        for s in conv.asJava(store.stageList(None, False, False, empty, None)):
            sid = span_of_stage.get(s.stageId())
            sub = opt(s.submissionTime())
            if sid is None or sub is None:  # skipped stages never ran
                continue
            done = opt(s.completionTime())
            stages_by_span.setdefault(sid, []).append({
                "stage": s.stageId(),
                "attempt": s.attemptId(),
                "name": s.name(),
                "status": str(s.status()),
                "tasks": s.numTasks(),
                "t0": sub.getTime() / 1000.0,
                "t1": (done.getTime() if done is not None else sub.getTime()) / 1000.0,
                "executor_run_s": s.executorRunTime() / 1000.0,
                "executor_cpu_s": s.executorCpuTime() / 1e9,
                "input_rows": s.inputRecords(),
                "input_mb": s.inputBytes() / 1e6,
                "shuffle_write_mb": s.shuffleWriteBytes() / 1e6,
                "shuffle_read_mb": (s.shuffleRemoteBytesRead() + s.shuffleLocalBytesRead()) / 1e6,
                "result_mb": s.resultSize() / 1e6,
            })
        return jobs_by_span, stages_by_span

    def layer_table(self) -> tuple[dict, list[dict]]:
        """Per-layer totals over the recorded spans, plus the per-span
        records (with their stages) for the JSON trace."""
        jobs_by_span, stages_by_span = self._stage_records()
        table = {layer: {s: 0.0 for s, _ in SUFFIXES} for layer in LAYERS}
        for layer in READ_LAYERS:
            table[layer]["input_rows"] = 0.0
        spans = []
        for rec in self.spans:
            stages = sorted(stages_by_span.get(rec["id"], []), key=lambda s: s["t0"])
            busy = _covered(
                [(max(s["t0"], rec["epoch0"]), min(s["t1"], rec["epoch1"])) for s in stages]
            )
            rec = dict(
                rec,
                jobs=len(jobs_by_span.get(rec["id"], [])),
                tasks=sum(s["tasks"] for s in stages),
                driver_s=max(0.0, rec["wall_s"] - busy),
                executor_cpu_s=sum(s["executor_cpu_s"] for s in stages),
                shuffle_write_mb=sum(s["shuffle_write_mb"] for s in stages),
                result_mb=sum(s["result_mb"] for s in stages),
                input_rows=sum(s["input_rows"] for s in stages),
                stages=stages,
            )
            spans.append(rec)
            row = table[rec["layer"]]
            row["calls"] += 1
            for key in ("wall_s", "driver_s", "jobs", "tasks", "executor_cpu_s",
                        "shuffle_write_mb", "result_mb"):
                row[key] += rec[key]
            if "input_rows" in row:
                row["input_rows"] += rec["input_rows"]
        return table, spans


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= a:
            continue
        if a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total
