"""Session posture: every session a plan runs on is pinned, on every call.

SQL conf is session-scoped, so each ``newSession()`` starts from the
SparkContext's launch conf, not from the caller's runtime conf. These
tests stand a non-UTC launch zone in for that inheritance and check
that the streaming sub-sessions are pinned on the first AND the second
(schema-memo hit) construction, and that nothing in the package sets
conf outside ``session.py``.
"""

from __future__ import annotations

import ast
import pathlib

import pytest
from pyspark.sql import SparkSession

from tmdb_sync_spark.session import STREAM_SHUFFLE_PARTITIONS, pin_session

PKG = pathlib.Path(__file__).resolve().parent.parent / "tmdb_sync_spark"
TZ = "spark.sql.session.timeZone"


@pytest.fixture
def zoned_subsessions(monkeypatch):
    """Every ``newSession()`` returns a session zoned America/New_York
    (a non-UTC JVM launch zone); the list collects them."""
    real = SparkSession.newSession
    subs: list[SparkSession] = []

    def zoned(self):
        sub = real(self)
        sub.conf.set(TZ, "America/New_York")
        subs.append(sub)
        return sub

    monkeypatch.setattr(SparkSession, "newSession", zoned)
    return subs


def test_events_stream_subsession_is_utc_on_memo_hit(
    spark, sf_dir, zoned_subsessions
):
    from tmdb_sync_spark.streaming.windows import (
        _events_stream,
        st_tumbling_window,
    )

    for _ in range(2):     # the 2nd construction hits the schema memo
        _events_stream(spark, sf_dir)
    assert [s.conf.get(TZ) for s in zoned_subsessions] == ["UTC", "UTC"]

    # and the memo-hit run gives the same windows as the first
    first = sorted(map(tuple, st_tumbling_window(spark, sf_dir).collect()))
    second = sorted(map(tuple, st_tumbling_window(spark, sf_dir).collect()))
    assert first == second and first
    assert all(s.conf.get(TZ) == "UTC" for s in zoned_subsessions)


def test_dedup_stream_subsession_is_utc(spark, tmp_path, zoned_subsessions):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tmdb_sync_spark.streaming.dedup import run_dedup_stream

    src = tmp_path / "src"
    src.mkdir()
    pq.write_table(
        pa.table({
            "event_id": pa.array([1, 1, 2], pa.int64()),
            "ts": pa.array([0, 60_000_000, 120_000_000], pa.timestamp("us")),
            "payload": ["a", "b", "c"],
        }),
        src / "a.parquet",
    )
    schema = "event_id BIGINT, ts TIMESTAMP, payload STRING"
    before = spark.conf.get(TZ)
    for i in range(2):
        res = run_dedup_stream(
            spark, str(src), schema, str(tmp_path / f"state{i}"),
            keys=["event_id"],
        )
        assert res["emitted_rows"] == 2
    assert [s.conf.get(TZ) for s in zoned_subsessions] == ["UTC", "UTC"]
    assert all(
        s.conf.get("spark.sql.shuffle.partitions")
        == str(STREAM_SHUFFLE_PARTITIONS)
        for s in zoned_subsessions
    )
    assert spark.conf.get(TZ) == before     # caller's session untouched


def test_pin_session_repins_a_drifted_session(spark):
    sub = spark.newSession()
    sub.conf.set(TZ, "America/New_York")
    sub.conf.set("spark.sql.execution.arrow.pyspark.enabled", "false")
    assert pin_session(sub) is sub
    assert sub.conf.get(TZ) == "UTC"
    assert sub.conf.get("spark.sql.execution.arrow.pyspark.enabled") == "true"
    assert sub.conf.get(
        "spark.sql.legacy.parquet.nanosAsLong", "false") == "false"
    pin_session(sub, nanos=True)
    assert sub.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"


def _calls(tree: ast.AST):
    """(call node, enclosing def/class names) for every call in ``tree``."""
    def walk(node, scope):
        for child in ast.iter_child_nodes(node):
            inner = scope
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef,
                                  ast.ClassDef)):
                inner = scope + (child.name,)
            if isinstance(child, ast.Call):
                yield child, inner
            yield from walk(child, inner)

    yield from walk(tree, ())


def test_conf_is_set_only_by_the_session_module():
    """Runtime conf is session-scoped: a ``.conf.set`` scattered through
    the package is a place where a new session can miss its pin. Only
    ``session.py`` and ``util.shuffle_partitions_window`` (a scoped
    set-and-restore) may set conf, and only ``session.stream_session``
    may create a session."""
    conf_sets, new_sessions = [], []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for call, scope in _calls(ast.parse(path.read_text(), str(path))):
            f = call.func
            if not isinstance(f, ast.Attribute):
                continue
            where = (rel, scope, call.lineno)
            if (f.attr == "set" and isinstance(f.value, ast.Attribute)
                    and f.value.attr == "conf"):
                conf_sets.append(where)
            if f.attr == "newSession":
                new_sessions.append(where)

    stray = [
        w for w in conf_sets
        if w[0] != "session.py"
        and not (w[0] == "util.py" and w[1][:1] == ("shuffle_partitions_window",))
    ]
    assert not stray, f"conf.set outside session.py: {stray}"
    assert [(w[0], w[1]) for w in new_sessions] == [
        ("session.py", ("stream_session",))
    ]
