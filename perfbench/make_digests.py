"""Regenerate ``digests.json``: the canonical result digest of each query
in ``batch.QUERY_SET``, computed from its registered DuckDB oracle
(``registry.ORACLES``) over the benchmark's copy of the sf0.001 tables.

Run from the repository root whenever the query set, an oracle or the
data changes:

    python3 perfbench/make_digests.py
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from batch import DATA_DIR, DIGESTS, QUERY_SET  # noqa: E402
from digest import frame_digest  # noqa: E402

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def main() -> None:
    import duckdb

    import tmdb_sync_spark.all_queries  # noqa: F401  (fills the registry)
    from tmdb_sync_spark.registry import ORACLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{DATA_DIR}/{t}.parquet')")
    out = {}
    for name in QUERY_SET:
        pdf = con.execute(ORACLES[name]).df()
        out[name] = {"digest": frame_digest(pdf), "rows": len(pdf)}
        print(name, len(pdf), out[name]["digest"][:12])
    with open(DIGESTS, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
