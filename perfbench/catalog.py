"""The ``catalog`` workload: the reference's sync jobs, then its serving
endpoints, driven through ``streaming.ingest``, ``plans.partitioned``
and ``api`` only.

Set-up (bulk phase): one ``run_sync_top(resume=True)`` micro-batch into
an empty state dir, then ``run_sync_years`` for one year. Timed loop: one
client sends request rounds (see ``model.requests``) and waits for each
reply; round 0 is the warm-up. Every request re-reads the table, like a
server that must see committed writes, and every reply is checked
against ``model.Catalog``.
"""

from __future__ import annotations

import glob
import os
import time
from collections import Counter

from harness import FAILED
from model import TOP_PAGES, YEAR, Catalog, requests

from tmdb_sync_spark import api
from tmdb_sync_spark.plans.partitioned import (
    read_partitioned,
    read_partitioned_for_key,
)
from tmdb_sync_spark.streaming.ingest import run_sync_top, run_sync_years

READ_KINDS = ("search", "get", "by_ids", "reports", "sync_status",
              "years_status", "meta")


def _doc(row) -> dict:
    d = row.asDict() if hasattr(row, "asDict") else dict(row)
    d["frames"] = [tuple(f) for f in d["frames"] or ()]
    return d


class CatalogRun:
    def __init__(self, run, state_dir: str) -> None:
        self.run = run                      # harness.Run
        self.spark = run.spark
        self.state = state_dir
        self.movies = os.path.join(state_dir, "movies")
        self.reports = os.path.join(state_dir, "reports")
        self.model = Catalog()

    # -- bulk phase: the sync jobs ---------------------------------------

    def bulk(self) -> None:
        r, tr, m = self.run, self.run.tracer, self.model
        top, years = {}, {}
        with r.jobs.group("ingest.top", top), \
                tr.span("streaming.ingest.run_sync_top"):
            t0 = time.perf_counter()
            got = r.attempt(lambda: run_sync_top(
                self.spark, self.state, max_pages=TOP_PAGES,
                batch_pages=TOP_PAGES, resume=True))
            t1 = time.perf_counter()
        if got is not FAILED:
            r.check(got == m.top_run, f"run_sync_top returned {got}, "
                    f"want {m.top_run}")
        with r.jobs.group("ingest.years", years), \
                tr.span("streaming.ingest.run_sync_years"):
            got = r.attempt(lambda: run_sync_years(
                self.spark, self.state, start_year=YEAR, end_year=YEAR))
            t2 = time.perf_counter()
        want = len(m.year_ids)
        if got is not FAILED:
            r.check(got["inserted"] == want and got["processed"] == want,
                    f"run_sync_years returned {got}, want {want} inserted")
        r.layer.update({
            "streaming.ingest.top_s": t1 - t0,
            "streaming.ingest.years_s": t2 - t1,
            "streaming.ingest.items_per_s":
                (m.top_run["inserted"] + want) / (t2 - t0),
            "spark.tasks_per_batch":
                (top.get("tasks", 0) + years.get("tasks", 0)) / 2,
        })

    # -- timed loop --------------------------------------------------------

    def loop(self, seed: int, seconds: float) -> None:
        r = self.run
        for i, units in zip(r.rounds(seconds), requests(seed, self.model)):
            for j, (kind, arg) in enumerate(units):
                getattr(self, "_" + kind)(f"{i}.{j}", arg)
            if i == 0 and r.tracer.enabled:
                r.layer["plans.table_files"] = len(
                    glob.glob(os.path.join(self.movies, "*", "*.parquet")))
        self._check_state()

    def _timed(self, rid: str, kind: str, fn):
        """Run one request; returns its result, or FAILED if it raised.
        Latency covers the engine calls only, never the answer check. A
        moderation's read-back is a check, outside the request mix: its
        latency is not kept."""
        r = self.run
        cls = "read" if kind in READ_KINDS else "write"
        cnt: dict = {}
        with r.jobs.group(kind, cnt), r.tracer.request(rid, "request." + kind):
            t0 = time.perf_counter()
            res = r.attempt(fn)
            dt = time.perf_counter() - t0
        if kind != "readback":
            r.record(cls, kind, dt, cnt)
        return res

    def _search(self, rid: str, p: dict) -> None:
        tr = self.run.tracer

        def go():
            with tr.span("plans.read_partitioned"):
                movies = read_partitioned(self.spark, self.movies)
            with tr.span("api.search_movies"):
                page = api.search_movies(movies, **p)
            with tr.span("api.search_exec"):
                return page.collect()

        rows = self._timed(rid, "search", go)
        if rows is FAILED:
            return
        want = self.model.search(p)
        got = [_doc(x) for x in rows]
        self.run.check(
            [d["id"] for d in got] == want
            and all(d == self.model.served(d["id"]) for d in got),
            f"search {p}: ids {[d['id'] for d in got]}, want {want}")

    def _get(self, rid: str, mid: int, kind: str = "get") -> None:
        tr, r = self.run.tracer, self.run
        feed = "top" if mid in self.model.top_ids else "years"
        holder = {}

        def go():
            with tr.span("plans.read_partitioned_for_key"):
                frame = read_partitioned_for_key(
                    self.spark, self.movies, "id", mid)
            holder["frame"] = frame
            with tr.span("api.get_movie"):
                return api.get_movie(frame, mid)

        doc = self._timed(rid, kind, go)
        if r.tracer.enabled and r.round == 0 and "frame" in holder:
            r.files[feed].append(len(holder["frame"].inputFiles()))
        if doc is FAILED:
            return
        r.check(doc is not None and _doc(doc) == self.model.served(mid),
                f"get_movie {mid}: {doc}")

    def _by_ids(self, rid: str, ids: list) -> None:
        tr = self.run.tracer

        def go():
            with tr.span("plans.read_partitioned"):
                movies = read_partitioned(self.spark, self.movies)
            with tr.span("api.movies_by_ids"):
                return api.movies_by_ids(movies, ids).collect()

        rows = self._timed(rid, "by_ids", go)
        if rows is FAILED:
            return
        got = sorted((_doc(x) for x in rows), key=lambda d: d["id"])
        self.run.check(
            [d["id"] for d in got] == self.model.by_ids(ids)
            and all(d == self.model.served(d["id"]) for d in got),
            f"movies_by_ids {ids}: {[d['id'] for d in got]}")

    def _sync_status(self, rid: str, _) -> None:
        tr = self.run.tracer

        def go():
            with tr.span("api.sync_status"):
                return api.sync_status(self.spark, self.state)

        s = self._timed(rid, "sync_status", go)
        if s is FAILED:
            return
        t = s["top_votes"] or {}
        got = {
            "top": (t.get("page"), t.get("inserted"), t.get("updated")),
            "years": [(y["content_type"], y["year"], y["page"],
                       y["inserted"], y["updated"]) for y in s["years"]],
            "errors": s["errors"]["total"],
        }
        want = self.model.sync_status()
        self.run.check(
            got == want and s["errors"]["last_hour"] == want["errors"],
            f"sync_status {got}, want {want}")

    def _years_status(self, rid: str, span: tuple) -> None:
        tr = self.run.tracer
        lo, hi = span

        def go():
            with tr.span("api.years_status"):
                return api.years_status(
                    self.spark, os.path.join(self.state, "cursors"),
                    year=lo, end_year=hi).collect()

        rows = self._timed(rid, "years_status", go)
        if rows is FAILED:
            return
        got = [(x["year"], x["page"], x["inserted"], x["updated"])
               for x in rows]
        self.run.check(got == self.model.years_status(lo, hi),
                       f"years_status {lo}..{hi}: {got}")

    def _meta(self, rid: str, span: tuple) -> None:
        tr = self.run.tracer
        lo, hi = span

        def go():
            with tr.span("plans.read_partitioned"):
                movies = read_partitioned(self.spark, self.movies)
            with tr.span("api.meta_sync_status"):
                return api.meta_sync_status(
                    movies, year_from=lo, year_to=hi).collect()

        rows = self._timed(rid, "meta", go)
        if rows is FAILED:
            return
        got = [(x["year"], x["total"], x["popularity_coverage"],
                x["vote_count_coverage"]) for x in rows]
        self.run.check(got == self.model.meta(lo, hi),
                       f"meta_sync_status {lo}..{hi}: {got}")

    def _moderate(self, rid: str, arg: tuple) -> None:
        """Mark (or unmark) one frame path incorrect, then read the movie
        back: both replies must show the recomputed backdrop."""
        tr, m = self.run.tracer, self.model
        step, mid, path = arg
        fn = (api.mark_incorrect_frames if step == "mark"
              else api.unmark_incorrect_frames)

        def go():
            with tr.span("api.moderate"):
                return fn(self.spark, self.movies, mid, [path])

        out = self._timed(rid, "moderate", go)
        if out is FAILED:
            return
        bad = m.bad.setdefault(mid, set())
        (bad.add if step == "mark" else bad.discard)(path)
        want = m.served(mid)["backdrop_path"]
        self.run.check(out.get("backdrop_path") == want,
                       f"{step} {mid} {path}: backdrop "
                       f"{out.get('backdrop_path')}, want {want}")
        self._get(rid + ".readback", mid, "readback")

    def _report(self, rid: str, arg: tuple) -> None:
        tr = self.run.tracer
        mid, path, reason = arg

        def go():
            with tr.span("api.report_frame"):
                return api.report_frame(self.spark, self.reports,
                                        movie_id=mid, path=path,
                                        reason=reason)

        out = self._timed(rid, "report", go)
        if out is FAILED:
            return
        self.model.reports.setdefault((mid, path), []).append(reason)
        self.run.check(out == {"ok": True}, f"report_frame: {out}")

    def _reports(self, rid: str, _) -> None:
        tr, m = self.run.tracer, self.model

        def go():
            with tr.span("api.reports_stats"):
                return api.reports_stats(self.spark, self.reports).collect()

        rows = self._timed(rid, "reports", go)
        if rows is FAILED:
            return
        got = {(x["movie_id"], x["path"]): (x["count"], dict(x["reasons"]))
               for x in rows}
        want = {key: (len(reasons), dict(Counter(w for w in reasons if w)))
                for key, reasons in m.reports.items()}
        self.run.check(got == want, f"reports_stats {got}, want {want}")

    # -- end-of-run state check (untimed) ----------------------------------

    def _check_state(self) -> None:
        r, m = self.run, self.model
        rows = r.attempt(lambda: read_partitioned(
            self.spark, self.movies).collect())
        if rows is not FAILED:
            got = {x["id"]: _doc(x) for x in rows}

            def same(i):
                want = m.served(i)
                return {k: got[i][k] for k in want} == want

            r.check(set(got) == set(m.rows) and all(map(same, m.rows)),
                    "final table contents differ from the model")
