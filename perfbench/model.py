"""Independent answer model and seeded request generator for the catalog
workload (pure Python, no Spark session).

Expected rows come from the TMDB fixture formulas (``sources.fixture``:
the fake API's own definition of each page, detail and image response)
and the ingest's deterministic dead-letter rule (``id % 97`` and
``id % 89`` never reach the table), never from the engine's output. The
model re-derives what the ingest is specified to store: the year from
the release date, the animated flag, non-empty country codes, valid
keep-first-deduplicated frames and the backdrop argmax.
"""

from __future__ import annotations

import itertools
import random
import re

from tmdb_sync_spark.api import SORT_FIELDS
from tmdb_sync_spark.sources import fixture

TOP_PAGES = 5             # one run_sync_top micro-batch
YEAR = 2000               # the one run_sync_years year
# Patterns whose meaning is identical in Java and Python regex.
QUERIES = ("movie 1", "movie 2000000", "ru_2", "RU_1", "movie [0-9]{2}$",
           "ru_200000[0-4]")
GENRES = tuple(range(1, 20)) + (16,) + tuple(range(28, 35))


def dead_lettered(mid: int) -> bool:
    return mid % 97 == 0 or mid % 89 == 0


def frames(mid: int) -> list[tuple]:
    """Stored frames: valid (1.5 <= ar <= 2.2, va >= 0), first occurrence
    per path kept, as (path, vote_average, width, aspect_ratio) sorted by
    path."""
    kept: dict[str, tuple] = {}
    for j in range(fixture.n_frames(mid)):
        f = fixture.frame(mid, j)
        if 1.5 <= f["aspect_ratio"] <= 2.2 and f["vote_average"] >= 0:
            kept.setdefault(f["path"], (f["path"], f["vote_average"],
                                        f["width"], f["aspect_ratio"]))
    return sorted(kept.values())


def backdrop(frs: list[tuple], bad) -> str | None:
    """Best frame not in ``bad``: vote_average desc, width desc, path."""
    allowed = [f for f in frs if f[0] not in bad]
    if not allowed:
        return None
    return min(allowed, key=lambda f: (-f[1], -f[2], f[0]))[0]


def _row(item: dict) -> dict:
    mid = item["id"]
    frs = frames(mid)
    codes = [c["iso_3166_1"]
             for c in fixture.details(mid)["production_countries"]]
    return {
        "id": mid,
        "title": item["title"],
        "title_ru": fixture.title_ru(mid),
        "name": item["name"],
        "content_type": item["content_type"],
        "genre_ids": list(item["genre_ids"]),
        "release_date": item["release_date"],
        "popularity": item["popularity"],
        "vote_average": item["vote_average"],
        "vote_count": item["vote_count"],
        "country_codes": [c for c in codes if c != ""],
        "is_animated": 16 in item["genre_ids"],
        "frames": frs,
        "backdrop_path": backdrop(frs, ()),
        "n_valid_frames": len(frs),
        "year": int(item["release_date"][:4]),
    }


class Catalog:
    """What the movies table must hold after the benchmark's ingest, plus
    the moderation marks and reports the timed requests add."""

    def __init__(self) -> None:
        n_top = TOP_PAGES * fixture.PAGE_SIZE
        top = [fixture.top_movie(r) for r in range(n_top)]
        year = [fixture.year_item(YEAR, r, "movie")
                for r in range(fixture.YEAR_ITEMS["movie"])]
        self.top_ids = [i["id"] for i in top if not dead_lettered(i["id"])]
        self.year_ids = [i["id"] for i in year if not dead_lettered(i["id"])]
        self.dead_ids = [i["id"] for i in top + year if dead_lettered(i["id"])]
        self.rows = {i["id"]: _row(i) for i in top + year
                     if not dead_lettered(i["id"])}
        # rows the years job stamped (sort_by=popularity.desc)
        self.pop_stamped = set(self.year_ids)
        self.bad: dict[int, set] = {}
        self.reports: dict[tuple, list[str]] = {}
        # what run_sync_top must return and leave in its cursor
        self.top_run = {"page": TOP_PAGES, "inserted": len(self.top_ids),
                        "updated": 0}

    # -- serving views ---------------------------------------------------

    def served(self, mid: int) -> dict:
        """The projected document ``get_movie`` must return now."""
        r = dict(self.rows[mid])
        r["backdrop_path"] = backdrop(r["frames"], self.bad.get(mid, ()))
        del r["year"]
        return r

    def search(self, p: dict) -> list[int]:
        rows = [r for r in self.rows.values() if r["n_valid_frames"] > 0]
        if "query" in p:
            rx = re.compile(p["query"], re.IGNORECASE)
            rows = [r for r in rows
                    if any(t is not None and rx.search(t)
                           for t in (r["title"], r["title_ru"]))]
        if "genre_id" in p:
            rows = [r for r in rows if p["genre_id"] in r["genre_ids"]]
        if "country_code" in p:
            rows = [r for r in rows if p["country_code"] in r["country_codes"]]
        if "is_animated" in p:
            rows = [r for r in rows if r["is_animated"] == p["is_animated"]]
        if "content_type" in p:
            rows = [r for r in rows if r["content_type"] == p["content_type"]]
        if "year_from" in p:
            rows = [r for r in rows
                    if r["release_date"] >= f"{p['year_from']}-01-01"]
        if "year_to" in p:
            rows = [r for r in rows
                    if r["release_date"] <= f"{p['year_to']}-12-31"]
        # unique (id, content_type) tiebreak, then the stable key sort
        rows.sort(key=lambda r: (r["id"], r["content_type"]))
        rows.sort(key=lambda r: r[p["sort_by"]], reverse=p["order"] == "desc")
        return [r["id"] for r in rows[p["skip"]:p["skip"] + p["limit"]]]

    def by_ids(self, ids) -> list[int]:
        return sorted(i for i in set(ids) if i in self.rows)

    def years_status(self, lo: int, hi: int) -> list[tuple]:
        """(year, page, inserted, updated) per year, zero-filled."""
        return [(y, self.year_pages(), len(self.year_ids), 0) if y == YEAR
                else (y, 0, 0, 0) for y in range(lo, hi + 1)]

    @staticmethod
    def year_pages() -> int:
        return -(-fixture.YEAR_ITEMS["movie"] // fixture.PAGE_SIZE)

    def meta(self, lo: int, hi: int) -> list[tuple]:
        per: dict[int, list[int]] = {}
        for r in self.rows.values():
            if lo <= r["year"] <= hi:
                c = per.setdefault(r["year"], [0, 0])
                c[0] += 1
                c[1] += r["id"] in self.pop_stamped
        return [(y, n, pop / n, 0.0) for y, (n, pop) in sorted(per.items())]

    def sync_status(self) -> dict:
        top = self.top_run
        return {
            "top": (top["page"], top["inserted"], top["updated"]),
            "years": [("movie", YEAR, self.year_pages(),
                       len(self.year_ids), 0)],
            "errors": len(self.dead_ids),
        }


# -- request generator ----------------------------------------------------

def _search_params(rng: random.Random) -> dict:
    p = {"sort_by": rng.choice(SORT_FIELDS),
         "order": rng.choice(("asc", "desc")),
         "limit": rng.choice((10, 20, 50)),
         "skip": rng.choice((0, 0, 10, 20, 40))}
    filters = {
        "query": lambda: rng.choice(QUERIES),
        "genre_id": lambda: rng.choice(GENRES),
        "country_code": lambda: rng.choice(fixture.COUNTRY_CODES[:24]),
        "is_animated": lambda: rng.random() < 0.5,
        "content_type": lambda: "movie",
        "year_from": lambda: rng.randrange(1950, 2001),
    }
    for k in rng.sample(sorted(filters), rng.randrange(0, 3)):
        p[k] = filters[k]()
    if "year_from" in p and rng.random() < 0.5:
        p["year_to"] = p["year_from"] + rng.randrange(0, 30)
    return p


# One request per serving endpoint of the reference (the route table in
# ``tmdb_sync_spark.api``), the point read once per feed. The reference
# publishes no traffic data, so the mix is a coverage choice, not a
# measured one; fixing it to the endpoint list makes it checkable.
ROUND_KINDS = ("search", "by_ids", "get", "get", "reports", "sync_status",
               "years_status", "meta", "report", "moderate", "moderate")


def requests(seed: int, cat: Catalog):
    """Endless seeded sequence of request rounds, each holding the
    ``ROUND_KINDS`` mix in a seeded order: a search, a by-ids read, a
    point read of a top-feed id (its id range overlaps most year
    partitions, so the key manifest cannot prune it) and one of a
    year-feed id (pruned to one partition), the reports rollup, the three
    dashboards, a frame report, and the two moderation endpoints: mark
    the backdrop of one movie incorrect, later in the round unmark it, so
    every round starts from the same table contents. The report precedes
    the rollup, so the rollup never reads an empty report log."""
    rng = random.Random(seed)
    framed = ([i for i in cat.top_ids if cat.rows[i]["frames"]],
              [i for i in cat.year_ids if cat.rows[i]["frames"]])
    for n in itertools.count():
        ids = rng.sample(cat.top_ids + cat.year_ids, rng.randrange(3, 7))
        lo_y, lo_m = rng.randrange(1995, 2001), rng.randrange(1950, 2000)
        mid = rng.choice(framed[n % 2])     # feeds alternate by round
        path = cat.rows[mid]["backdrop_path"]
        rep = rng.choice(framed[0] + framed[1])
        units = [
            ("search", _search_params(rng)),
            ("by_ids", ids + [rng.choice(cat.dead_ids), 10**9]),
            ("get", rng.choice(cat.top_ids)),
            ("get", rng.choice(cat.year_ids)),
            ("reports", None),
            ("sync_status", None),
            ("years_status", (lo_y, lo_y + rng.randrange(1, 6))),
            ("meta", (lo_m, lo_m + rng.randrange(5, 40))),
            ("report", (rep, rng.choice(cat.rows[rep]["frames"])[0],
                        rng.choice(("not_a_scene", "blurry", "")))),
            ("moderate", ("mark", mid, path)),
            ("moderate", ("unmark", mid, path)),
        ]
        rng.shuffle(units)
        _reorder(units)
        yield units


def _reorder(units: list) -> None:
    """Put the report before the rollup and the mark before its unmark,
    in place, wherever the shuffle swapped them (the pairs are disjoint,
    so one swap never moves the other pair)."""
    def pos(kind, step=None):
        return next(i for i, (k, a) in enumerate(units)
                    if k == kind and (step is None or a[0] == step))

    for i, j in ((pos("report"), pos("reports")),
                 (pos("moderate", "mark"), pos("moderate", "unmark"))):
        if i > j:
            units[i], units[j] = units[j], units[i]
