"""The ``batch`` workload: registered analytics queries (``registry`` ->
``operators`` / ``streaming`` / ``functions``, all reading through
``io``) over the sf0.001 star schema kept beside this file.

Bulk phase: one cold pass that collects every query's result and checks
its digest against ``digests.json``. Timed loop: passes over the set in
a seeded order, pass 0 the warm-up; each query is built (plan
construction, timed on its own), written to the ``noop`` sink, then the
session cache and the staged materializations are dropped, as
``bench.py`` does between reps. A last, untimed pass checks the digests
again: its results are built from the warm module memos the timed passes
ran on.
"""

from __future__ import annotations

import json
import os
import random
import time

from digest import frame_digest
from harness import FAILED
from stats import median

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(HERE, "data", "sf0.001")
DIGESTS = os.path.join(HERE, "digests.json")

# One query per layer the workload measures, two for the pair-dedup
# family (similarity + components) whose plan shape regressed before.
# A full 50-query pass does not fit one run, and the sources layer is
# measured by the catalog workload's ingest (see README.md).
QUERY_SET = (
    "a1_sync_coverage",           # operators.aggregates
    "q5_revenue_by_nation",       # operators.joins
    "w1_argmax_exclusion",        # operators.windows
    "st_tumbling_window",         # streaming.windows
    "dd_embedding_cosine",        # functions.similarity
    "dd_cluster_components",      # functions.dedup
    "tx_text_features",           # functions.text
)


def module_of(fn) -> str:
    return fn.__module__.removeprefix("tmdb_sync_spark.")


def family(module: str) -> str:
    """``pipeline`` for the LLM-pipeline functions, ``reference`` for the
    reference service's operators, sources and streaming queries."""
    return "pipeline" if module.startswith("functions.") else "reference"


def layer_units() -> dict[str, str]:
    import tmdb_sync_spark.all_queries  # noqa: F401  (fills the registry)
    from tmdb_sync_spark.registry import QUERIES

    units = {f"batch.{q}.s": "s" for q in QUERY_SET}
    units.update({f"batch.{module_of(QUERIES[q])}.tasks": "count"
                  for q in QUERY_SET})
    return units


class BatchRun:
    def __init__(self, run) -> None:
        import tmdb_sync_spark.all_queries  # noqa: F401
        from tmdb_sync_spark.registry import QUERIES

        self.run = run
        self.spark = run.spark
        self.fns = {q: QUERIES[q] for q in QUERY_SET}
        with open(DIGESTS) as fh:
            self.digests = json.load(fh)
        self.passes: list[dict[str, tuple[float, float]]] = []

    def _reset(self) -> None:
        from tmdb_sync_spark.util import reset_materialization_cache

        self.spark.catalog.clearCache()
        reset_materialization_cache(kinds=("staged",))

    def bulk(self) -> None:
        """Cold pass: collect each result and compare its digest."""
        self._check_pass("check.")

    def _check_pass(self, group: str) -> None:
        r = self.run
        for name, fn in self.fns.items():
            with r.jobs.group(group + name), \
                    r.tracer.span("registry." + name):
                pdf = r.attempt(lambda: fn(self.spark, DATA_DIR).toPandas())
            if pdf is not FAILED:
                want = self.digests[name]
                r.check(len(pdf) == want["rows"]
                        and frame_digest(pdf) == want["digest"],
                        f"{name}: {len(pdf)} rows, digest differs from "
                        f"its oracle's ({want['rows']} rows)")
            self._reset()

    def loop(self, seed: int, seconds: float) -> None:
        r, tr = self.run, self.run.tracer
        rng = random.Random(seed)
        for i in r.rounds(seconds):
            order = list(QUERY_SET)
            rng.shuffle(order)
            times = {}
            for name in order:
                fn = self.fns[name]
                cnt: dict = {}
                with r.jobs.group(name, cnt), \
                        tr.request(f"{i}.{name}", "registry." + name):
                    t0 = time.perf_counter()
                    with tr.span("query.build"):
                        df = r.attempt(lambda: fn(self.spark, DATA_DIR))
                    t1 = time.perf_counter()
                    if df is not FAILED:
                        with tr.span("query.exec"):
                            r.attempt(lambda: df.write.format("noop")
                                      .mode("overwrite").save())
                    t2 = time.perf_counter()
                r.record("query", name, t2 - t0, cnt)
                times[name] = (t1 - t0, t2 - t1)
                if i == 0 and cnt:
                    key = f"batch.{module_of(fn)}.tasks"
                    r.layer[key] = r.layer.get(key, 0) + cnt["tasks"]
                self._reset()
            if i > 0:
                self.passes.append(times)
        self._summarize()
        self._check_pass("recheck.")

    def _summarize(self) -> None:
        """Per-query and per-family times: medians over the measured
        passes."""
        lay = self.run.layer
        per_q = {q: median(sum(p[q]) for p in self.passes)
                 for q in QUERY_SET}
        for q, v in per_q.items():
            lay[f"batch.{q}.s"] = v
        lay["batch.build_s"] = median(
            sum(b for b, _ in p.values()) for p in self.passes)
        lay["batch.exec_s"] = median(
            sum(e for _, e in p.values()) for p in self.passes)
        for fam in ("reference", "pipeline"):
            lay[f"batch.{fam}_s"] = median(
                sum(sum(p[q]) for q in QUERY_SET
                    if family(module_of(self.fns[q])) == fam)
                for p in self.passes)
