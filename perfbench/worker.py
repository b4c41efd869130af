"""One benchmark run, in a fresh process started by ``run.py``.

Set-up (imports + ``session.get_spark`` + the workload's bulk phase),
then its timed closed loop; then the session stops and the run record is
written as JSON.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, required=True)
    ap.add_argument("--state", required=True)
    ap.add_argument("--events", required=True)
    ap.add_argument("--record", required=True)
    a = ap.parse_args()

    # setup_s runs from here to the end of the bulk phase: the engine and
    # workload imports, get_spark and the workload's bulk phase.
    t0 = time.perf_counter()
    import bench
    from harness import END_TO_END, LAYER_UNITS, Run
    from stats import median
    from tracing import event_log_totals

    if a.workload == "catalog":
        from catalog import CatalogRun as Workload
    else:
        from batch import BatchRun as Workload
    from tmdb_sync_spark.session import get_spark

    t1 = time.perf_counter()
    spark = get_spark()
    run = Run(spark, bool(a.trace))
    run.layer["session.get_spark_s"] = time.perf_counter() - t1
    w = Workload(run, a.state) if a.workload == "catalog" else Workload(run)

    # The PSS sweep takes the JVM's mmap lock (see bench._tree_rss_bytes),
    # so memory is sampled in the traced run only.
    rss = bench._PeakRss() if a.trace else contextlib.nullcontext()
    with rss:
        tb = time.perf_counter()
        w.bulk()
        t2 = time.perf_counter()
        w.loop(a.seed, a.seconds)

    e2e = run.end_to_end(t2 - t0)
    lat = run.lat["read"] + run.lat["write"] + run.lat["query"]
    run.layer.update({
        "bulk_s": t2 - tb,
        "request_p50_ms": 1e3 * median(lat),
        "peak_rss_mb": rss.peak / 1e6 if a.trace else 0.0,
    })
    conf = spark.sparkContext.getConf()
    settings = {
        **{k: os.environ.get(k) for k in (
            "SPARK_GRAFT_CPUS", "JAVA_TOOL_OPTIONS", "PYSPARK_SUBMIT_ARGS")},
        "spark.master": spark.sparkContext.master,
        "spark.version": spark.version,
        "python": sys.version.split()[0],
        **{k: conf.get(k, None) for k in (
            "spark.driver.memory", "spark.eventLog.enabled")},
        **{k: spark.conf.get(k) for k in (
            "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
            "spark.sql.session.timeZone")},
    }
    layer = run.layer_metrics()
    spans = run.tracer.dump()
    from batch import layer_units

    units = {**LAYER_UNITS, **layer_units()}
    spark.stop()
    if a.trace:
        layer.update({k: v / run.round  # per measured round
                      for k, v in event_log_totals(a.events).items()})
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "settings": settings,
        "attempted": run.attempted, "failed": run.failed,
        "errors": run.errors[:20],
        "requests": len(lat), "measured_rounds": run.round,
        "latency_by_kind": run.by_kind,
        "end_to_end": {k: [e2e[k], u] for k, u in END_TO_END.items()},
        "per_layer": {k: [layer.get(k, 0.0), u] for k, u in units.items()},
    }
    with open(a.record, "w") as fh:
        json.dump(record, fh, indent=1)
    if a.trace:
        with open(a.record.replace(".json", "-spans.json"), "w") as fh:
            json.dump(spans, fh)


if __name__ == "__main__":
    main()
