"""Streaming deduplication with bounded state — exactly-once-ifying an
at-least-once event feed.

The file-drop ingest (streaming/file_ingest.py) already gets exactly-once
per FILE from the file source's checkpoint, and per KEY from MERGE
idempotency. What neither covers is the Kafka-shaped delivery problem:
an at-least-once transport redelivers individual EVENTS (same event id,
maybe seconds apart), and a naive ``dropDuplicates(keys)`` on a stream
must keep every key ever seen in the state store — unbounded state, the
classic slow-death of a streaming job.

``dropDuplicatesWithinWatermark`` is Spark's bounded answer and this
module wraps it as the engine's operator: keep a key's dedup state only
until the event-time watermark passes its horizon, then evict. The
contract is explicitly a TRADEOFF, stated rather than hidden:

- a duplicate arriving WITHIN ``delay`` of the original's event time is
  dropped — the at-least-once redelivery case, which real transports
  bound to seconds/minutes;
- a duplicate arriving AFTER the watermark passed its key's horizon is
  emitted again (its state is gone — that is what "bounded" means).
  Consumers needing absolute uniqueness run the batch dedup operators
  downstream; streams pay state only for the horizon they configure.
  One store-level nuance, probed in the tests: physical eviction runs
  in the commit of the first micro-batch AFTER the watermark passes a
  key's horizon, and the dedup lookup hits present-though-expired rows
  — so the re-emission boundary is that batch, one trigger later than
  the watermark alone would suggest.

Which copy survives: the FIRST to arrive in processing order. For true
redeliveries (identical payload) the choice is invisible; for
conflicting payloads under one id the stream keeps the earliest arrival
— the batch keep-best dedup (w2) is the operator for payload conflicts.

Scale shape: state is hash-partitioned by key across
``spark.sql.shuffle.partitions`` state stores — one exchange, then
per-partition store lookups; state size is O(keys per watermark
horizon), NOT O(stream history), and eviction is driven by the same
watermark the windowed aggregates already carry. The run harness reads
the query's own progress telemetry (``stateOperators``) so tests — and
operators — assert eviction actually happens instead of trusting it.
"""

from __future__ import annotations

import os
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tmdb_sync_spark.registry import register_retired
from tmdb_sync_spark.session import stream_session


def dedup_within_watermark(
    stream: DataFrame,
    keys: Sequence[str],
    *,
    ts_col: str = "ts",
    delay: str = "10 minutes",
) -> DataFrame:
    """The plan fragment: ``withWatermark(ts_col, delay)`` →
    ``dropDuplicatesWithinWatermark(keys)``.

    ``keys`` must NOT include the event-time column — the whole point is
    deduping redeliveries whose event time may differ slightly; a key
    set containing ``ts_col`` degenerates to exact-row dedup and is
    almost always the caller reaching for the wrong operator, so it
    raises."""
    if not keys:
        raise ValueError("dedup_within_watermark: keys must be non-empty")
    if ts_col in keys:
        raise ValueError(
            f"dedup_within_watermark: {ts_col!r} in keys — event-time in "
            "the dedup key defeats redelivery dedup (same id, shifted "
            "time); drop it or use exact batch dedup"
        )
    missing = [k for k in keys if k not in stream.columns]
    if missing:
        raise ValueError(f"dedup_within_watermark: missing key cols {missing}")
    return stream.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(
        list(keys)
    )


def run_dedup_stream(
    spark: SparkSession,
    src_dir: str,
    schema,
    state_dir: str,
    *,
    keys: Sequence[str],
    ts_col: str = "ts",
    delay: str = "10 minutes",
    out_name: str = "deduped",
    max_files_per_trigger: int | None = None,
) -> dict:
    """One ``availableNow`` drain of a file-sourced event stream through
    the watermark dedup, written to ``{state_dir}/{out_name}`` parquet
    partitioned by ``batch_id`` — each micro-batch dynamically
    overwrites exactly its own partition, so a crash-replayed epoch
    replaces rather than duplicates its rows (exactly-once on the
    sink, same discipline as the ingest dead-letter tables).

    Resumable exactly like the file ingest: the checkpoint under
    ``state_dir`` makes re-runs pick up only new files, and the dedup
    STATE rides the same checkpoint — a key seen in a previous run is
    still deduped in the next, as long as its horizon hasn't passed.

    Returns ``{"out_path", "batches", "input_rows", "emitted_rows",
    "state_rows_removed", "state_rows_total"}`` — the last two straight
    from the query's ``stateOperators`` telemetry, so callers observe
    bounded-state behavior (eviction happening, store size plateauing)
    instead of assuming it.

    ``max_files_per_trigger`` carves the drain into multiple
    micro-batches (tests use it to force cross-batch dedup + eviction;
    production availableNow runs usually let Spark size triggers).
    """
    out = os.path.join(state_dir, out_name)
    ckpt = os.path.join(state_dir, f"_ckpt_{out_name}")

    # exactly-once is PER EPOCH, and epochs are named by the checkpoint:
    # a run whose checkpoint was wiped restarts epochs at 0, so dynamic
    # overwrite would replace batch_id=0 while stale higher-batch_id
    # partitions from the prior drain could survive whenever the replay
    # carves fewer micro-batches than the original (ADVICE r7). The
    # checkpoint and the output dir are ONE UNIT: a fresh checkpoint
    # regenerates the output from the source in full, so an orphaned
    # output dir is a stale derivation — wipe it rather than interleave
    # into it. (``out`` lives under this operator's own state_dir and
    # contains nothing but this stream's partitions.)
    if os.path.isdir(out) and not os.path.isdir(ckpt):
        import shutil as _shutil

        _shutil.rmtree(out)

    # the stream runs on a private pinned sub-session (UTC event-time
    # parsing, streaming confs); this helper writes files and returns
    # paths, so the caller's session is not touched
    sub = stream_session(spark)

    reader = sub.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", int(max_files_per_trigger))
    deduped = dedup_within_watermark(
        reader.parquet(src_dir), keys, ts_col=ts_col, delay=delay
    )

    emitted = {"n": 0}

    def sink(batch_df: DataFrame, epoch: int) -> None:
        n = batch_df.count()
        if n:
            # idempotent BY BATCH (dynamic partition overwrite keyed on
            # the epoch — the file_ingest dead-letter discipline): a
            # crash-replayed epoch replaces exactly its own partition;
            # a bare append would double every row of the batch on
            # replay, in the operator whose whole contract is dedup
            (
                batch_df
                .withColumn("batch_id", F.lit(int(epoch)).cast("long"))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch_id")
                .parquet(out)
            )
        emitted["n"] += n

    q = (
        deduped.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    progress = [p for p in q.recentProgress]
    state = [p["stateOperators"][0] for p in progress if p["stateOperators"]]
    return {
        "out_path": out,
        "batches": sum(1 for p in progress if p["numInputRows"] > 0),
        "input_rows": sum(p["numInputRows"] for p in progress),
        "emitted_rows": emitted["n"],
        "state_rows_removed": sum(s["numRowsRemoved"] for s in state),
        "state_rows_total": state[-1]["numRowsTotal"] if state else 0,
    }


# ---------------------------------------------------------------------------
# Oracle-pinned row (r11 verdict #7): the streaming dedup's final table
# state IS a batch answer — a feed of exact redeliveries (identical
# copies of each event, 1-3 per row) drained through
# dropDuplicatesWithinWatermark with a horizon wider than the corpus's
# event-time span leaves exactly DISTINCT(base rows). Registered in the
# LOCAL parity window (tests/test_oracle_parity.py holds it to the
# driver bar); the eviction/re-emission boundary — which is NOT
# SQL-expressible — stays pinned in tests/test_streaming_dedup.py.
#
# Determinism notes (each probed before registration):
# - copies are bit-identical, so WHICH copy survives is invisible and
#   file→micro-batch assignment order cannot matter;
# - the dedup key is md5 over a JSON struct rendering (ts appended at
#   µs) — never a sentinel-joined concat of the raw columns, so two
#   DISTINCT base rows cannot collide (JSON quoting makes field
#   boundaries unambiguous; a '|' or literal '<NULL>' inside a string
#   column can't forge another row's key — r12 review finding) and a
#   first-arrival payload race can't exist;
# - the late-row set is batching-independent BY CONSTRUCTION: ``delay``
#   is computed ≥ the feed's entire post-epoch event-time span (one
#   bounded max(ts) action + margin), so at every micro-batch
#   ``watermark = max(epoch, max_ts_seen − delay) = epoch`` — a
#   post-epoch row can never be late NO MATTER how files fold into
#   batches, while pre-epoch rows are late in every batch (the initial
#   watermark is the epoch) — same contract as the session window's
#   (test_hostile_events pre-epoch probe). A FIXED horizon was wrong
#   here (r12 review finding, probed live): the hostile corpus plants
#   ts=2200-01-01, and after that batch a 100-year delay left the
#   watermark at 2100 — any LATER batch's ordinary rows would silently
#   late-drop; only the drain's incidental 2-batch shape masked it.
#   maxFilesPerTrigger=1 now forces 4+ batches so the invariant is
#   exercised, not assumed.

_DEDUP_COLS = ["event_id", "user_id", "event_type", "value", "props"]


def _redelivery_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events (ts IS NOT NULL) × 1-3 identical copies + an md5 row key."""
    from tmdb_sync_spark.io import table

    base = table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    # JSON struct rendering, NOT a sentinel-joined concat: field quoting
    # makes boundaries unambiguous, so distinct rows can never render
    # the same key (a '|' or literal '<NULL>' inside a string column
    # forged collisions under the old scheme — r12 review finding). The
    # timestamp rides OUTSIDE the JSON at explicit µs precision
    # (to_json renders millis and would alias µs-distinct rows); the
    # fixed '}'+'@' boundary keeps the concatenation unambiguous.
    key = F.md5(
        F.concat(
            F.to_json(F.struct(*[F.col(c) for c in _DEDUP_COLS])),
            F.lit("@"),
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS"),
        )
    )
    copies = F.lit(1) + F.coalesce(
        F.pmod(F.col("event_id"), F.lit(3)), F.lit(0)
    ).cast("int")
    return (
        base.withColumn("dup_key", key)
        .withColumn("_copy", F.explode(F.sequence(F.lit(1), copies)))
        .drop("_copy")
    )


@register_retired(
    "st_dedup_within_watermark",
    oracle="""
    SELECT DISTINCT event_id, user_id, event_type, value, props, ts
    FROM events
    WHERE ts IS NOT NULL AND ts >= TIMESTAMP '1970-01-01 00:00:00'
    """,
)
def st_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup of an at-least-once feed — dd_exact's
    streaming twin, run as a REAL multi-micro-batch drain.

    Reference scope: the reference's sync loop is idempotent per key via
    MERGE (app/sync.py upsert path); this is the stream-transport analog
    a Spark engine adds — bounded-state redelivery dedup
    (SURVEY §2.10 stretch).
    """
    from tmdb_sync_spark.util import scratch_dir

    feed = _redelivery_feed(spark, sf_dir)
    src = scratch_dir("st_dedup_feed_")
    feed.repartition(4).write.mode("overwrite").parquet(src)
    state_dir = scratch_dir("st_dedup_state_")
    # delay ≥ the feed's whole post-epoch span pins the watermark at
    # the epoch through EVERY batch (see the module comment: a fixed
    # horizon silently late-dropped under a 3+-batch drain once the
    # hostile far-future plant advanced the watermark). One bounded
    # 1-row action; +2 days absorbs session-timezone rendering skew.
    mx = feed.agg(F.max("ts").alias("m")).collect()[0]["m"]
    delay_days = (
        2 if mx is None else max(2, int(mx.timestamp() // 86400) + 2)
    )
    res = run_dedup_stream(
        spark,
        src,
        feed.schema,
        state_dir,
        keys=["dup_key"],
        ts_col="ts",
        delay=f"{delay_days} days",
        max_files_per_trigger=1,
    )
    if res["emitted_rows"] == 0 or not os.path.isdir(res["out_path"]):
        # empty corpus: the sink never writes a batch, so the output dir
        # does not exist — the empty-table contract is an empty frame
        # with the result schema (tests/test_empty_tables.py)
        return feed.limit(0).select(*_DEDUP_COLS, "ts")
    return (
        spark.read.parquet(res["out_path"])
        .drop("batch_id", "dup_key")
        .select(*_DEDUP_COLS, "ts")
    )
