"""Per-run bookkeeping shared by the workloads: failures, latencies,
warm-up-round Spark counts and the metrics a run reports."""

from __future__ import annotations

import math
import time
import traceback

from stats import median, tail
from tracing import JobCounter, Tracer

FAILED = object()          # what Run.attempt returns for a call that raised

END_TO_END = {             # name -> unit
    "setup_s": "s",
    "read_geomean_ms": "ms",
    "request_mean_ms": "ms",
}

# The per-layer names every workload reports. A layer a workload never
# calls reports 0, which is itself the check that the workload bypasses
# it. Query names come from batch.QUERY_SET.
LAYER_UNITS = {
    "bulk_s": "s",
    "request_p50_ms": "ms",
    "peak_rss_mb": "MB",
    "session.get_spark_s": "s",
    "streaming.ingest.top_s": "s",
    "streaming.ingest.years_s": "s",
    "streaming.ingest.items_per_s": "1/s",
    "plans.read_partitioned_ms": "ms",
    "plans.point_read_open_ms": "ms",
    "plans.point_read_files.top": "count",
    "plans.point_read_files.years": "count",
    "plans.table_files": "count",
    "api.search_build_ms": "ms",
    "api.search_exec_ms": "ms",
    "api.get_movie_ms": "ms",
    "api.by_ids_ms": "ms",
    "api.dashboard_ms": "ms",
    "api.reports_stats_ms": "ms",
    "api.moderate_ms": "ms",
    "api.report_ms": "ms",
    "read_p50_ms": "ms",
    "read_tail_ms": "ms",
    "read_tail_pct": "%",
    "read_samples": "count",
    "write_p50_ms": "ms",
    "write_tail_ms": "ms",
    "write_tail_pct": "%",
    "write_samples": "count",
    "spark.jobs_per_read": "count",
    "spark.tasks_per_read": "count",
    "spark.jobs_per_write": "count",
    "spark.tasks_per_write": "count",
    "spark.tasks_per_batch": "count",
    "spark.jobs_per_query": "count",
    "spark.tasks_per_query": "count",
    "spark.executor_run_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "batch.build_s": "s",
    "batch.exec_s": "s",
    "batch.reference_s": "s",
    "batch.pipeline_s": "s",
    "bench.request_self_ms": "ms",
}

# span name -> per-layer metric (median duration in ms)
SPAN_LAYERS = {
    "plans.read_partitioned": "plans.read_partitioned_ms",
    "plans.read_partitioned_for_key": "plans.point_read_open_ms",
    "api.search_movies": "api.search_build_ms",
    "api.search_exec": "api.search_exec_ms",
    "api.get_movie": "api.get_movie_ms",
    "api.movies_by_ids": "api.by_ids_ms",
    "api.moderate": "api.moderate_ms",
    "api.report_frame": "api.report_ms",
    "api.reports_stats": "api.reports_stats_ms",
}
DASHBOARD_SPANS = ("api.sync_status", "api.years_status",
                   "api.meta_sync_status")


class Run:
    def __init__(self, spark, trace: bool) -> None:
        self.spark = spark
        self.tracer = Tracer(trace)
        self.jobs = JobCounter(spark.sparkContext, trace)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.lat: dict[str, list[float]] = {"read": [], "write": [],
                                            "query": []}
        self.by_kind: dict[str, list[float]] = {}
        self.round = 0
        # Spark counts of the warm-up round only: the later rounds a run
        # fits in its window vary with speed, the warm-up is fixed by the
        # seed
        self.round0: dict[str, list[int]] = {}
        self.files: dict[str, list[int]] = {"top": [], "years": []}
        self.layer: dict[str, float] = {}

    def attempt(self, fn):
        """Call one engine operation; a raise counts as a failed operation
        and the run goes on."""
        self.attempted += 1
        try:
            return fn()
        except Exception:      # any engine error is a failed operation
            self.failed += 1
            self.errors.append(traceback.format_exc(limit=4)[-3000:])
            return FAILED

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.failed += 1
            self.errors.append(what[:3000])

    def rounds(self, seconds: float):
        """Round numbers for a workload's loop. Round 0 is the warm-up:
        the first requests after set-up are slower (JIT, first Python
        workers), so its latencies are not kept, only its Spark counts.
        Measured rounds follow until ``seconds`` have passed since the
        first of them began, at least one; a run that fits more rounds
        only gains steady-state samples."""
        self.round, self.jobs.phase = 0, "w"
        yield 0
        self.jobs.phase = "t"
        t_end = time.perf_counter() + seconds
        i = 1
        while i == 1 or time.perf_counter() < t_end:
            self.round = i
            yield i
            i += 1
        self.jobs.phase = "c"             # the checks after the loop

    def record(self, cls: str, kind: str, seconds: float,
               counts: dict) -> None:
        if self.round > 0:
            self.lat[cls].append(seconds)
            self.by_kind.setdefault(kind, []).append(seconds)
        elif counts:
            c = self.round0.setdefault(cls, [0, 0, 0])
            c[0] += 1
            c[1] += counts["jobs"]
            c[2] += counts["tasks"]

    def layer_metrics(self) -> dict[str, float]:
        out = dict.fromkeys(LAYER_UNITS, 0.0)
        tr = self.tracer
        for span, name in SPAN_LAYERS.items():
            out[name] = 1e3 * median(tr.durations(span))
        out["api.dashboard_ms"] = 1e3 * median(
            d for s in DASHBOARD_SPANS for d in tr.durations(s))
        for feed, files in self.files.items():
            out[f"plans.point_read_files.{feed}"] = (
                sum(files) / len(files) if files else 0.0)
        for cls in ("read", "write"):
            lat = self.lat[cls]
            out[f"{cls}_p50_ms"] = 1e3 * median(lat)
            out[f"{cls}_samples"] = len(lat)
            t = tail(lat)
            if t is not None:
                out[f"{cls}_tail_pct"] = t[0]
                out[f"{cls}_tail_ms"] = 1e3 * t[1]
        for cls in ("read", "write", "query"):
            n, jobs, tasks = self.round0.get(cls, (0, 0, 0))
            if n:
                out[f"spark.jobs_per_{cls}"] = jobs / n
                out[f"spark.tasks_per_{cls}"] = tasks / n
        selfs = [s for s in tr.dump() if s["parent"] is None
                 and s["request"] is not None
                 and not s["request"].startswith("0.")]
        out["bench.request_self_ms"] = 1e3 * median(s["self"] for s in selfs)
        out.update(self.layer)
        return out

    def end_to_end(self, setup_s: float) -> dict[str, float]:
        reads = self.lat["read"] + self.lat["query"]
        lat = reads + self.lat["write"]
        return {
            "setup_s": setup_s,
            "read_geomean_ms": 1e3 * math.exp(
                sum(map(math.log, reads)) / len(reads)),
            "request_mean_ms": 1e3 * sum(lat) / len(lat),
        }
