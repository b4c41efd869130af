"""Order-insensitive result digests, so a run's answer check is a hash
compare instead of a DuckDB oracle run.

Canonical form (the rules ``scripts/driver_sim.py`` compares by):
columns sorted by name; each cell rendered as text, with NULL and NaN as
``<NULL>``, integers and floats through ``repr(float(v))`` (so an
integer column equals its float twin), timestamps in ISO form and
booleans as ``True``/``False``; then the rows sorted.
"""

from __future__ import annotations

import hashlib
import json
import math


def cell(v) -> str:
    import numpy as np
    import pandas as pd

    if v is None or v is pd.NaT:
        return "<NULL>"
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (float, np.floating)):
        return "<NULL>" if math.isnan(v) else repr(float(v))
    if isinstance(v, (int, np.integer)):
        return repr(float(v))
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    return str(v)


def canonical(columns, rows) -> tuple[list[str], list[tuple[str, ...]]]:
    """Sorted column names and sorted rows of rendered cells."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = sorted(tuple(cell(r[i]) for i in order) for r in rows)
    return [columns[i] for i in order], out


def digest(columns, rows) -> str:
    cols, out = canonical(list(columns), rows)
    return hashlib.sha256(
        json.dumps([cols, out], ensure_ascii=False).encode()
    ).hexdigest()


def frame_digest(pdf) -> str:
    """Digest of a pandas frame (Spark ``toPandas`` or DuckDB ``df``)."""
    return digest(list(pdf.columns), pdf.itertuples(index=False, name=None))
