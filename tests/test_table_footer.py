"""io.table_footer (the one parquet-footer reader) and the
parallel_table(rows_per_task=...) partition sizing it feeds."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

import tmdb_sync_spark.io as io

PART_ROWS = (7, 11, 13)


def _write_part(d, i: int, n: int) -> None:
    pq.write_table(
        pa.table({"doc_id": list(range(n)), "text": ["x" * 50] * n}),
        os.path.join(d, f"part-{i}.parquet"),
    )


def _parts_dir(root, rows=PART_ROWS) -> str:
    d = os.path.join(str(root), "documents.parquet")
    os.makedirs(d)
    for i, n in enumerate(rows):
        _write_part(d, i, n)
    return d


def test_multi_file_rows_sum_every_part_and_reread_on_new_part(tmp_path):
    d = _parts_dir(tmp_path)
    assert io.table_footer(d).rows() == sum(PART_ROWS)

    # a 4th part changes the part count in the cache key → re-read
    _write_part(d, 3, 17)
    assert io.table_footer(d).rows() == sum(PART_ROWS) + 17


def test_capped_rows_stop_early_and_resume_uncapped(tmp_path, monkeypatch):
    d = _parts_dir(tmp_path)
    opened = []
    real = pq.ParquetFile

    def counting(path, *a, **kw):
        opened.append(path)
        return real(path, *a, **kw)

    monkeypatch.setattr(pq, "ParquetFile", counting)
    walk = io.table_footer(d)
    assert walk.rows(cap=PART_ROWS[0] + 1) == PART_ROWS[0] + PART_ROWS[1]
    assert len(opened) == 2                # the cap bound at part 2
    assert walk.rows() == sum(PART_ROWS)   # resumes: one more footer
    assert len(opened) == 3
    assert walk.text_bytes() > 0 and len(opened) == 3


def test_footer_unreadable_or_missing(tmp_path):
    empty = tmp_path / "empty.parquet"
    empty.mkdir()
    assert io.table_footer(str(empty)).rows() is None
    assert io.table_footer(str(tmp_path / "nope.parquet")).text_bytes() is None
    assert io.table_footer(str(tmp_path / "nope.parquet")).ts_nanos is False


def test_ts_nanos_from_first_footer(tmp_path):
    for unit in ("ns", "us"):
        f = tmp_path / f"events_{unit}.parquet"
        pq.write_table(
            pa.table({"ts": pa.array([1, 2], pa.timestamp(unit))}), f,
            version="2.6",
        )
        assert io.table_footer(str(f)).ts_nanos is (unit == "ns")


def _spread(df) -> int:
    """The partition count parallel_table's round-robin repartition asks
    for (the logical Repartition node, before any AQE rewrite)."""
    return df._jdf.queryExecution().logical().numPartitions()


def test_parallel_table_sizes_to_footer_rows(spark, tmp_path):
    d = _parts_dir(tmp_path)
    sf_dir = str(tmp_path)
    total = sum(PART_ROWS)
    dp = spark.sparkContext.defaultParallelism

    # no rows_per_task → the full default spread
    assert _spread(io.parallel_table(spark, sf_dir, "documents")) == dp
    # ceil(31 / 16) = 2 tasks — read from ALL three parts' footers
    assert _spread(io.parallel_table(
        spark, sf_dir, "documents", rows_per_task=16)) == min(dp, 2)
    # one row per task → capped at the default parallelism
    assert _spread(io.parallel_table(
        spark, sf_dir, "documents", rows_per_task=1)) == min(dp, total)
    # more rows per task than rows → one task
    assert _spread(io.parallel_table(
        spark, sf_dir, "documents", rows_per_task=10 * total)) == 1


def test_concurrent_walks_count_each_footer_once(tmp_path):
    """The cached walk is shared by every driver thread: racing capped
    and uncapped callers must never read a footer twice into a total."""
    import sys
    import threading

    rows = tuple(range(1, 49))
    d = _parts_dir(tmp_path, rows)
    got, caps = [], [None, 5, 50, None, 200]
    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        walk = io.table_footer(d)
        threads = [
            threading.Thread(
                target=lambda c=caps[i % len(caps)]: got.append(
                    (c, walk.rows(cap=c))))
            for i in range(32)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(60)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(prev)
    assert len(got) == 32
    for cap, n in got:
        assert n == sum(rows) if cap is None else n >= cap
    assert walk.rows() == sum(rows)
