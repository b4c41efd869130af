"""SparkSession factory and the one place that sets runtime SQL conf.

SQL conf is session-scoped, so every session the engine runs a plan on
goes through :func:`pin_session` — the driver's own session (via
:func:`get_spark` or ``io.table``) and every streaming sub-session (via
:func:`stream_session`, the only ``newSession()`` in the package).
``pin_session`` owns:

- ``spark.sql.session.timeZone`` = UTC: the reference stores naive-UTC
  ``utcnow()`` timestamps (SURVEY.md §2.8 F5); parity with the DuckDB
  oracle requires a fixed zone for date_format/year rendering and
  timestamp arithmetic.
- ``spark.sql.adaptive.enabled``, ``.coalescePartitions.enabled``,
  ``.skewJoin.enabled`` = true: runtime shuffle-partition coalescing
  and skew-join handling — the scale posture for 100 TB runs.
- ``spark.sql.execution.arrow.pyspark.enabled`` = true: every pandas
  interchange (mapInPandas stages, ``toPandas``) goes through Arrow
  instead of row pickling.
- ``spark.sql.parquet.aggregatePushdown`` = true: MIN/MAX/COUNT answered
  from parquet footers where the plan allows.
- ``spark.sql.legacy.parquet.nanosAsLong`` = true, only with
  ``nanos=True``: the events table's ``ts`` may be TIMESTAMP(NANOS),
  which the Spark parquet reader rejects unless it reads it as a long.
  It is consulted again at query execution, so it cannot be scoped
  set-and-restore; it is set only when a footer says NANOS, so a
  session that never meets such a table keeps default semantics.

``spark.sql.shuffle.partitions`` is deliberately not pinned: it is set
once by :func:`get_spark` and then belongs to
``util.shuffle_partitions_window``, which sizes bounded
sub-computations to their own volume.

:func:`stream_session` adds the streaming confs on a private
sub-session, so the caller's session never observes them:

- ``spark.sql.shuffle.partitions`` = 8: every micro-batch loads and
  commits one state store per shuffle partition — a fixed per-trigger
  cost that tracks keyed-state cardinality, not the batch default
  (32 → 8 cut each window query ~30 % at sf0.1; the r13 sweep over
  {8, 4, 2, 1} kept 8, COVERAGE.md).
- ``spark.sql.streaming.noDataMicroBatches.enabled`` = false: the
  engine's finite runs emit in complete / NoTimeout-append modes, which
  never need the watermark-advance batch.
- ``spark.sql.streaming.numRecentProgressUpdates`` = 10000: telemetry
  summed over ``recentProgress`` would silently truncate at Spark's
  default of 100 entries on a long drain.
- ``spark.sql.streaming.stateStore.providerClass`` = RocksDB, only when
  ``SPARK_GRAFT_STREAM_STATE_PROVIDER=rocksdb``: the default in-heap
  store is fastest at the bench's state sizes, but at ~13M state rows
  it hits the single-JVM heap wall where the off-heap RocksDB store
  runs (COVERAGE.md round-6 ramp notes).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PINNED = (
    ("spark.sql.session.timeZone", "UTC"),
    ("spark.sql.adaptive.enabled", "true"),
    ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
    ("spark.sql.adaptive.skewJoin.enabled", "true"),
    ("spark.sql.execution.arrow.pyspark.enabled", "true"),
    ("spark.sql.parquet.aggregatePushdown", "true"),
)
_NANOS = ("spark.sql.legacy.parquet.nanosAsLong", "true")

STREAM_SHUFFLE_PARTITIONS = 8


def _apply(spark: SparkSession, confs) -> None:
    for k, v in confs:
        if spark.conf.get(k, None) != v:
            spark.conf.set(k, v)


def pin_session(spark: SparkSession, *, nanos: bool = False) -> SparkSession:
    """Apply the engine's session posture (module docstring), setting
    only the confs that differ. Idempotent; returns ``spark``."""
    _apply(spark, _PINNED + ((_NANOS,) if nanos else ()))
    return spark


def stream_session(spark: SparkSession, *, nanos: bool = False) -> SparkSession:
    """A pinned ``spark.newSession()`` (shared SparkContext, private
    SQL conf) carrying the streaming confs. The caller's session is not
    touched, so concurrent streaming runs need no conf lock and batch
    plans never see the streaming values."""
    sub = pin_session(spark.newSession(), nanos=nanos)
    confs = [
        ("spark.sql.shuffle.partitions", str(STREAM_SHUFFLE_PARTITIONS)),
        ("spark.sql.streaming.noDataMicroBatches.enabled", "false"),
        ("spark.sql.streaming.numRecentProgressUpdates", "10000"),
    ]
    if os.environ.get("SPARK_GRAFT_STREAM_STATE_PROVIDER", "").lower() == (
        "rocksdb"
    ):
        confs.append((
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        ))
    _apply(sub, confs)
    return sub


def get_spark(app_name: str = "tmdb-sync-spark", *, cpus: str | None = None,
              shuffle_partitions: str | None = None) -> SparkSession:
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "32")
    shuffle_partitions = shuffle_partitions or os.environ.get(
        "SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")
    builder = (
        SparkSession.builder
        .master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle_partitions)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in _PINNED:
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # getOrCreate on a pre-existing session ignores every builder
    # .config(), so re-apply the runtime-settable posture. JVM-launch
    # settings (master, driver memory, UI) cannot change post-hoc and
    # stay the caller's.
    pin_session(spark)
    _apply(spark, (("spark.sql.shuffle.partitions", shuffle_partitions),))
    return spark
