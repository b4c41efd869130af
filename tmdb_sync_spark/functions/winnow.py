"""Winnowed local fingerprints — substring-level overlap detection.

The dedup stack's document-level signatures (minhash / simhash,
functions/dedup.py) see a WHOLE document: a copied paragraph pasted
into an otherwise-different document moves every doc-level signature
and the pair never candidates. Training corpora leak exactly that way
— boilerplate headers, quoted passages, eval questions embedded in
crawl pages — so the missing primitive is a LOCAL fingerprint with a
positional guarantee. This module is the classic answer: winnowing
(Schleimer, Wilkerson, Aiken — "Winnowing: Local Algorithms for
Document Fingerprinting", SIGMOD 2003, the MOSS algorithm; public
literature, no reference-repo counterpart — beyond-reference operator
in the SURVEY §2-adjacent training-pipeline tier).

Algorithm (all Catalyst higher-order functions — no UDF, no shuffle
until the fingerprints leave the row):

1. k-gram hashes: ``h[i] = md5(text[i : i+K])`` for every position —
   md5 because it is the engine's one cross-engine hash (DuckDB
   mirrors it byte-for-byte; SURVEY §5 determinism rules).
2. window minima: over every window of ``W`` consecutive hashes keep
   the minimum (leftmost on ties — ``array_position`` /
   ``list_position`` both return the first match, so the choice is
   cross-engine deterministic).
3. distinct ``(pos, fp)`` selections per document.

The winnowing guarantee: any shared substring of at least
``K + W - 1`` characters shares at least one SELECTED fingerprint —
detection is not probabilistic like minhash, it is positional.
Fingerprint density is ~``2/(W+1)`` per character, so the fingerprint
table is a bounded fraction of corpus size and the K/W choice is a
recall-versus-index-size dial, not a correctness one.

Scale shape of the overlap join (``substring_overlap``):

- fingerprints reduce to ONE row per (doc, fp) — ``min/max pos`` ride
  the aggregate — BEFORE any join, so positional multiplicity inside a
  repetitive document (the hostile "aaaa…" shape: every window selects
  the same fp) can never fan a pair out quadratically;
- boilerplate fingerprints are dropped by a document-frequency cap
  (``df_cap``) computed on the corpus side — the exact analog of the
  stopword-df cap in the text operators: a header shared by a million
  documents is not evidence of copying, and at 100 TB it is also the
  join's skew bomb. The df aggregation shuffles on ``fp`` and the
  match join reuses that partitioning;
- the query side is typically small (an eval set, a single release's
  suspects) and broadcasts; the corpus fingerprint table shuffles once.

Sub-``K`` texts have no k-grams BY DEFINITION and are filtered with
``length(text) >= K`` on BOTH engines — also a real Spark trap:
``sequence(1, 0)`` DESCENDS (yields ``[1, 0]``) rather than returning
empty, so an unguarded short text would fabricate a junk fingerprint
(caught while aligning the two prototypes).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from tmdb_sync_spark.io import parallel_table, table_footer
from tmdb_sync_spark.registry import register

WINNOW_K = 12        # k-gram width (chars)
WINNOW_W = 6         # hashes per winnowing window; density ≈ 2/(W+1)
HOT_FP_DOC_CAP = 10  # fp in more corpus docs = boilerplate, dropped
MIN_SHARED_FPS = 3   # pair detection threshold

# Shuffle sizing for the DETECTION pipeline (r12, guide §2.2 — the same
# data-keyed pattern as the verify stage's VERIFY_PAIRS_PER_TASK and the
# components loop's 50k-edges-per-task): every detection exchange
# (extents aggregate, df-cap window, pair aggregate, final sort) carries
# rows bounded by the corpus's WINNOWED FINGERPRINT volume — estimable
# as text_bytes × 2/(W+1) straight from the parquet FOOTER (an O(1)
# metadata read at any scale, io.table_footer). Partition
# count = est_fp_rows / this constant, CAPPED at the session setting: a
# 100 TB corpus estimate exceeds any session count, so the plan shape at
# scale is untouched — only small corpora stop scheduling near-empty
# 32-task stages. Measured at sf0.1 (~430k est fp rows → 9 parts),
# warm interleaved A/B: wn_substring_overlap 1.52 → 1.22 s,
# wn_verify_spans 3.11 → 2.93 s (every interleaved pair won).
DETECT_FP_ROWS_PER_TASK = 50_000


def _detection_parts(spark: SparkSession, sf_dir: str) -> int | None:
    """Exchange count for a detection over ``sf_dir``'s documents table,
    or ``None`` (keep the session shape) when the session conf is exotic
    or the footer is unreadable."""
    try:
        session_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return None
    # bytes at which est_fp_rows reaches session_parts × rows/task — the
    # point past which the answer is pinned at the session cap, so the
    # footer walk may stop (ceil-divide: never exit a byte early)
    cap_bytes = -(
        -(session_parts * DETECT_FP_ROWS_PER_TASK * (WINNOW_W + 1)) // 2
    )
    text_bytes = table_footer(f"{sf_dir}/documents.parquet").text_bytes(
        cap=cap_bytes
    )
    if text_bytes is None:
        return None
    est_fp_rows = text_bytes * 2 // (WINNOW_W + 1)
    return max(
        1, min(session_parts, -(-est_fp_rows // DETECT_FP_ROWS_PER_TASK))
    )


def _kgram_hash_structs(text: Column, k: int) -> Column:
    """``struct(fp=md5(text[i : i+k]), pos=i)`` for every 1-based
    position. ``fp`` is deliberately the FIRST struct field: Spark's
    struct ordering is lexicographic by field position, so
    ``array_min`` over a window of these structs is (min hash,
    leftmost position on ties) in ONE pass — exactly the winnowing
    tie rule."""
    return F.transform(
        F.sequence(F.lit(1), F.length(text) - F.lit(k - 1)),
        lambda i: F.struct(
            F.md5(text.substr(i, F.lit(k)).cast("binary")).alias("fp"),
            i.alias("pos"),
        ),
    )


def _window_minima(hp: Column, w: int) -> Column:
    """Winnowing selections over a MATERIALIZED ``struct(fp, pos)``
    array column: one ``array_min`` per window.

    ``hp`` must be an attribute reference (a projected column), never
    the raw ``transform(...)`` expression: array-HOF lambdas evaluate
    interpreted per element, so an embedded k-gram transform here would
    re-hash the WHOLE document once per window × per slice — O(n²·k)
    per doc, the exact trap dedup.py's ``_shingles_from`` documents
    (re-found empirically: the inlined form timed out at sf0.1 where
    the two-projection form runs in seconds). The enclosing projections
    stay separate because CollapseProject refuses to inline a non-cheap
    alias referenced more than once.

    r12 optimization (guide §1.2 "per-task work"): the previous form
    computed ``array_min(slice)`` + ``array_position(slice, min)`` per
    window — three O(w) interpreted passes (the min expression appears
    twice in the struct and HOF evaluation has no common-subexpression
    reuse). Packing the hash and its position into one struct makes the
    leftmost-tie argmin a SINGLE ``array_min`` (struct ordering =
    (fp, pos) lexicographic). Measured at sf0.1: the fingerprint
    projection 1.14 s → 0.46 s, selections bit-identical."""
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(hp) - F.lit(w - 1), F.lit(1))),
        lambda j: F.array_min(F.slice(hp, j, w)),
    )


def winnow_fingerprints(
    df: DataFrame,
    *,
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """``(id_col, pos, fp)`` — the distinct winnowing selections of each
    document. ``pos`` is the 1-based char offset of the selected k-gram.
    Documents shorter than ``k`` (or with NULL text) contribute nothing.
    """
    return _selections(
        df, k=k, w=w, id_col=id_col, text_col=text_col
    ).distinct()


def _selections(
    df: DataFrame,
    *,
    k: int,
    w: int,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """``(id_col, pos, fp)`` winnowing selections WITHOUT the final
    distinct — one row per (window, selected position), so the same
    ``(pos, fp)`` appears once per window that selected it. Consumers
    that aggregate anyway (``min``/``max`` extents, ``(id, fp)``
    distincts) read this directly and skip one whole exchange; the
    public :func:`winnow_fingerprints` is ``_selections().distinct()``."""
    for c in (id_col, text_col):
        if c not in df.columns:
            raise ValueError(f"winnow_fingerprints: no {c!r} column")
    if not (k >= 2 and w >= 1):
        raise ValueError(f"winnow_fingerprints: bad k={k} / w={w}")
    hashed = (
        df.where(F.length(text_col) >= k)
        .select(
            F.col(id_col),
            _kgram_hash_structs(F.col(text_col), k).alias("_hp"),
        )
    )
    # explode_OUTER dodges InferFiltersFromGenerate re-substituting the
    # hash transform into a pushed-down size() filter (dedup.py's
    # minhash note); identical here — the selection array is never
    # empty once length >= k holds.
    return (
        hashed.select(
            id_col,
            F.explode_outer(_window_minima(F.col("_hp"), w)).alias("_s"),
        )
        .select(id_col, F.col("_s.pos").alias("pos"), F.col("_s.fp").alias("fp"))
    )


def doc_fingerprints(
    df: DataFrame,
    *,
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """One row per ``(doc, fp)`` with positional extent
    (``min_pos`` / ``max_pos`` / ``n_pos``) — the join-ready reduction
    of :func:`winnow_fingerprints`: positional multiplicity inside a
    document (repetitive text selects one fp at many positions) is
    collapsed BEFORE any pair join can multiply it."""
    return (
        winnow_fingerprints(df, k=k, w=w, id_col=id_col, text_col=text_col)
        .groupBy(id_col, "fp")
        .agg(
            F.min("pos").alias("min_pos"),
            F.max("pos").alias("max_pos"),
            F.count(F.lit(1)).alias("n_pos"),
        )
    )


def substring_overlap(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    df_cap: int = HOT_FP_DOC_CAP,
    min_shared: int = MIN_SHARED_FPS,
    query_id_col: str = "query_id",
    corpus_id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Pairs ``(query_id, corpus_id)`` sharing ≥ ``min_shared`` winnowed
    fingerprints, with the corpus-side matched extent:
    ``(query_id, corpus_id, n_shared_fps, c_span_chars)``.

    ``c_span_chars`` = ``max(max_pos) - min(min_pos) + k`` over the
    matched fingerprints — an upper bound on the matched region's char
    extent in the corpus document (an audit pointer, not an exact
    alignment; exact spans are a per-pair verify stage's job, exactly
    like ``dd_ngram_jaccard`` verifies ``dd_minhash_lsh`` candidates).

    Fingerprints present in more than ``df_cap`` corpus documents are
    dropped from BOTH sides (boilerplate + join-skew guard; module
    docstring). Detection guarantee under the cap: the winnowing
    guarantee ensures a shared substring of ``k + w - 1`` chars (with
    non-boilerplate fingerprints) shares ≥ 1 SELECTED fingerprint, so
    it yields a match row **at ``min_shared=1``**; the default
    ``min_shared`` (module constant) deliberately trades that boundary
    case for precision — a pair sharing only 1–2 fingerprints is noise
    at corpus scale, and longer overlaps select ~``2·len/(w+1)``
    fingerprints, far past the threshold. Callers auditing for minimal
    K+W-1 slivers should pass ``min_shared=1`` explicitly.
    """
    if query_id_col == corpus_id_col:
        raise ValueError(
            "substring_overlap: query_id_col and corpus_id_col must "
            f"differ (both {query_id_col!r}) — alias one side first, or "
            "the pair aggregation's columns are ambiguous"
        )
    from pyspark.sql import Window

    # (doc, fp) extents straight off the raw selections: min/max are
    # duplicate-insensitive, so the pre-aggregation ``distinct`` the
    # public winnow_fingerprints pays is pure waste here — one exchange
    # on (doc, fp) instead of two (r12, guide §2.4).
    cf = (
        _selections(
            corpus, k=k, w=w, id_col=corpus_id_col, text_col=text_col
        )
        .groupBy(corpus_id_col, "fp")
        .agg(F.min("pos").alias("min_pos"), F.max("pos").alias("max_pos"))
    )
    # df over (doc, fp)-unique rows = count per fp, as a count window
    # over the SAME frame rather than a groupBy + self-join: the
    # previous shape referenced the fingerprint subtree twice (once
    # under the df aggregate, once under the join), and Spark evaluated
    # the whole md5-winnowing pipeline twice per run — measured ~2× the
    # detection cost at sf0.1 (r12, guide §1.2/§2.4). The window keys on
    # ``fp`` exactly like the old aggregate; a boilerplate-hot fp lands
    # one partition either way and carries only narrow (id, extents)
    # rows.
    cf = (
        cf.withColumn(
            "_df", F.count(F.lit(1)).over(Window.partitionBy("fp"))
        )
        .where(F.col("_df") <= df_cap)
        .drop("_df")
    )
    qf = (
        _selections(
            queries, k=k, w=w, id_col=query_id_col, text_col=text_col
        )
        .select(query_id_col, "fp")
        .distinct()
    )
    return (
        qf.join(cf, "fp")
        .groupBy(query_id_col, corpus_id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shared_fps"),
            (F.max("max_pos") - F.min("min_pos") + F.lit(k))
            .cast("long").alias("c_span_chars"),
        )
        .where(F.col("n_shared_fps") >= min_shared)
        .withColumnRenamed(corpus_id_col, "corpus_id")
    )


# Shared oracle CTEs: the full detection pipeline (planted-excerpt
# query slice → winnow fingerprints both sides → df-cap → qf/cfo join
# inputs), reused verbatim by wn_substring_overlap (pair aggregate) and
# wn_verify_spans (pair set → exact-span verify stage).
_ORACLE_PAIR_CTES = f"""
    q AS (
        SELECT doc_id AS query_id, substr(text, 8, 150) AS text
        FROM documents WHERE doc_id % 31 = 0 AND length(text) >= 200
    ),
    corp AS (
        SELECT doc_id, text FROM documents
        WHERE length(text) >= {WINNOW_K}
    ),
    ch AS (
        SELECT doc_id,
               list_transform(
                   generate_series(1, length(text) - {WINNOW_K - 1}),
                   i -> md5(substr(text, i, {WINNOW_K}))) AS hs
        FROM corp
    ),
    cw AS (
        SELECT doc_id,
               list_transform(
                   generate_series(1, greatest(len(hs) - {WINNOW_W - 1}, 1)),
                   j -> struct_pack(
                       pos := j + list_position(
                           hs[j:j+{WINNOW_W - 1}],
                           list_aggregate(hs[j:j+{WINNOW_W - 1}], 'min')) - 1,
                       fp := list_aggregate(hs[j:j+{WINNOW_W - 1}], 'min')
                   )) AS wins
        FROM ch
    ),
    cf AS (
        SELECT doc_id, u.fp AS fp,
               MIN(u.pos) AS min_pos, MAX(u.pos) AS max_pos
        FROM cw, UNNEST(cw.wins) AS _(u)
        GROUP BY doc_id, u.fp
    ),
    ok AS (
        SELECT fp FROM cf GROUP BY fp HAVING COUNT(*) <= {HOT_FP_DOC_CAP}
    ),
    cfo AS (SELECT cf.* FROM cf JOIN ok USING (fp)),
    qh AS (
        SELECT query_id,
               list_transform(
                   generate_series(1, length(text) - {WINNOW_K - 1}),
                   i -> md5(substr(text, i, {WINNOW_K}))) AS hs
        FROM q WHERE length(text) >= {WINNOW_K}
    ),
    qw AS (
        SELECT query_id,
               list_transform(
                   generate_series(1, greatest(len(hs) - {WINNOW_W - 1}, 1)),
                   j -> struct_pack(
                       pos := j + list_position(
                           hs[j:j+{WINNOW_W - 1}],
                           list_aggregate(hs[j:j+{WINNOW_W - 1}], 'min')) - 1,
                       fp := list_aggregate(hs[j:j+{WINNOW_W - 1}], 'min')
                   )) AS wins
        FROM qh
    ),
    qf AS (
        SELECT DISTINCT query_id, u.fp AS fp
        FROM qw, UNNEST(qw.wins) AS _(u)
    )"""


@register(
    "wn_substring_overlap",
    oracle=f"""
    WITH {_ORACLE_PAIR_CTES}
    SELECT q.query_id,
           c.doc_id AS corpus_id,
           CAST(COUNT(*) AS BIGINT) AS n_shared_fps,
           CAST(MAX(c.max_pos) - MIN(c.min_pos) + {WINNOW_K} AS BIGINT)
               AS c_span_chars
    FROM qf q JOIN cfo c USING (fp)
    GROUP BY 1, 2
    HAVING COUNT(*) >= {MIN_SHARED_FPS}
    ORDER BY query_id, corpus_id
    """,
)
def wn_substring_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-based substring-overlap detection, end to end.

    Queries are 150-char excerpts cut from a deterministic slice of the
    corpus itself (``doc_id % 31 == 0``, offset 8) — a planted
    paragraph-level leak with a known answer: every excerpt must match
    its source document (the winnowing guarantee makes that detection
    certain, not probabilistic), plus any genuine cross-document
    repetition the synthetic corpus contains. This is the contamination
    shape doc-LEVEL signatures cannot see: the excerpt's minhash is far
    from its 300-char source's.

    Plan: two fingerprint projections (Catalyst HOFs, no UDF) → per-doc
    (fp, extent) aggregate → df-cap semi-join (reuses the fp
    partitioning) → broadcast-joined query side → pair aggregate — the
    whole detection executed inside a corpus-keyed shuffle-partitions
    window (``DETECT_FP_ROWS_PER_TASK``; capped at the session count, so
    only small corpora shrink) with the bounded pair set returned
    eagerly, exactly the verify stage's execution shape.
    """
    docs = parallel_table(spark, sf_dir, "documents")
    queries = (
        docs.where((F.col("doc_id") % 31 == 0) & (F.length("text") >= 200))
        .select(
            F.col("doc_id").alias("query_id"),
            F.substring("text", 8, 150).alias("text"),
        )
    )
    pairs = substring_overlap(queries, docs).orderBy("query_id", "corpus_id")
    parts = _detection_parts(spark, sf_dir)
    if parts is None:
        return pairs
    from tmdb_sync_spark.util import shuffle_partitions_window

    with shuffle_partitions_window(spark, parts):
        return pairs.localCheckpoint(eager=True)


# ---------------------------------------------------------------------------
# Per-pair exact-span verification (r9 verdict #1)

# Spans shorter than the winnowing detection threshold are below what
# the detector can have promised — reporting them would make the verify
# stage NOISIER than its detection stage.
VERIFY_MIN_LEN = WINNOW_K + WINNOW_W - 1
# Within-doc k-gram multiplicity cap: a k-gram occurring G times on both
# sides of a pair yields G² diagonal matches ("aaaa…" is the hostile
# shape: every position is the same gram, and a 1 MB repeated-char pair
# would fabricate 10¹² match rows). Grams past the cap are dropped from
# BOTH sides before the join — spans composed ONLY of hyper-repeated
# grams fragment or vanish (documented precision trade; normal prose has
# within-doc gram multiplicity ~1), everything else is exact.
VERIFY_GRAM_CAP = 64
# Shuffle sizing for the verify stage (r12, guide §2.2): every exchange
# in the gram/island pipeline is bounded by the DETECTED pair set, so
# its partition count is keyed to the pair count — ~16 pairs of gram
# rows per task (a pair contributes ~2×doc-length narrow rows) — capped
# at the session setting so a huge detection keeps the session shape
# and only small pair sets shrink. Measured at sf0.1 (27 pairs): the
# whole detect+verify query ~4.5 s → ~3.0 s warm, spans identical.
VERIFY_PAIRS_PER_TASK = 16


def verify_overlap_spans(
    queries: DataFrame,
    corpus: DataFrame,
    pairs: DataFrame,
    *,
    k: int = WINNOW_K,
    min_len: int = VERIFY_MIN_LEN,
    gram_cap: int = VERIFY_GRAM_CAP,
    query_id_col: str = "query_id",
    corpus_id_col: str = "corpus_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact matched-substring extents for an already-DETECTED pair set
    — the verify stage :func:`substring_overlap` declares for its
    ``c_span_chars`` upper bound, exactly as ``dd_ngram_jaccard``
    verifies ``dd_minhash_lsh`` candidates (functions/dedup.py).

    ``pairs`` is ``(query_id_col, corpus_id_col)`` (extra columns
    ignored); ``corpus`` must carry ``corpus_id_col``. Returns one row
    per MAXIMAL exactly-matching span of length ≥ ``min_len``:
    ``(query_id, corpus_id, q_start, c_start, match_len)`` — 1-based
    character offsets into each side, alignment exact (not a bound).

    Algorithm — joint k-gram hash alignment, pure Catalyst:

    1. both sides' texts are restricted to documents IN the pair set
       (semi-joins; the explode below is bounded by the pair set, never
       corpus-wide) and exploded to ``(id, pos, h)`` k-gram hash rows;
    2. a shared substring of length L contributes ``L - k + 1``
       consecutive matches on one DIAGONAL (``cpos - qpos`` constant),
       so matches group by (pair, diag) and maximal runs fall out of
       one gaps-and-islands pass (``qpos - row_number()``);
    3. islands aggregate to ``(q_start, c_start, match_len)``.

    Scale shape: two bounded explodes (pair documents only), a window
    per side for the ``gram_cap`` guard, one equi-join on
    ``(corpus_id, h)``, one island window + aggregate — every exchange
    is keyed by pair-set columns, so cost scales with the DETECTED
    overlap volume, not the corpus. The pair frame is pinned once
    (eager localCheckpoint) — it gates three joins and is typically the
    output of a detection pass nobody wants to re-run three times.

    The verify pipeline EXECUTES inside this call (r12): its exchanges
    are planned in a pair-count-keyed shuffle-partitions window
    (``VERIFY_PAIRS_PER_TASK``) and the bounded span set is returned as
    an eagerly localCheckpoint'ed frame — callers compose over
    materialized spans, never re-run the alignment.
    """
    if query_id_col == corpus_id_col:
        raise ValueError(
            "verify_overlap_spans: query_id_col and corpus_id_col must "
            f"differ (both {query_id_col!r})"
        )
    for df, col, what in (
        (queries, query_id_col, "queries"),
        (corpus, corpus_id_col, "corpus"),
        (pairs, query_id_col, "pairs"),
        (pairs, corpus_id_col, "pairs"),
        (queries, text_col, "queries"),
        (corpus, text_col, "corpus"),
    ):
        if col not in df.columns:
            raise ValueError(f"verify_overlap_spans: no {col!r} in {what}")
    p = (
        pairs.select(query_id_col, corpus_id_col).distinct()
        .localCheckpoint(eager=True)
    )
    # ONE broadcast decision for every pair-frame join (the r9-verdict
    # lesson from the winnow-index probe: an unconditional hint on one
    # of several joins is the OOM the gate on the others pretends to
    # prevent). A pair set is small by the verify stage's contract, but
    # a pathological detection pass can emit millions of pairs — past
    # the ceiling they shuffle instead of force-broadcasting. The id
    # projections are ≤ the pair count by construction, so one shared
    # decision covers all three joins.
    from tmdb_sync_spark.functions.dedup_index import (
        BROADCAST_PROBE_MAX_ROWS,
    )

    n_pairs = p.count()
    may_broadcast = n_pairs <= BROADCAST_PROBE_MAX_ROWS

    def _hint(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if may_broadcast else df

    def _grams(df: DataFrame, id_col: str, pos_name: str) -> DataFrame:
        arr = F.transform(
            F.sequence(F.lit(1), F.length(text_col) - F.lit(k - 1)),
            lambda i: F.struct(
                i.alias("pos"),
                F.md5(F.col(text_col).substr(i, F.lit(k)).cast("binary"))
                .alias("h"),
            ),
        )
        from pyspark.sql import Window

        g = (
            df.join(_hint(p.select(id_col).distinct()), id_col)
            .where(F.length(text_col) >= k)
            .select(id_col, F.explode(arr).alias("_g"))
            .select(id_col, F.col("_g.pos").alias(pos_name), F.col("_g.h"))
        )
        return (
            g.withColumn(
                "_n", F.count(F.lit(1)).over(Window.partitionBy(id_col, "h"))
            )
            .where(F.col("_n") <= gram_cap)
            .drop("_n")
        )

    from pyspark.sql import Window

    qg = _grams(queries, query_id_col, "qpos")
    cg = _grams(corpus, corpus_id_col, "cpos")
    m = (
        qg.join(_hint(p), query_id_col)
        .join(cg, [corpus_id_col, "h"])
        .withColumn("diag", F.col("cpos") - F.col("qpos"))
    )
    isl = Window.partitionBy(query_id_col, corpus_id_col, "diag").orderBy(
        "qpos"
    )
    # qpos is unique within (pair, diag) — one hash per position, and a
    # fixed diagonal determines cpos from qpos — so row_number is
    # deterministic and consecutive positions share (qpos - rn)
    runs = m.withColumn("_grp", F.col("qpos") - F.row_number().over(isl))
    spans = (
        runs.groupBy(query_id_col, corpus_id_col, "diag", "_grp")
        .agg(
            F.min("qpos").cast("long").alias("q_start"),
            F.min("cpos").cast("long").alias("c_start"),
            (F.max("qpos") - F.min("qpos") + F.lit(k))
            .cast("long").alias("match_len"),
        )
        .where(F.col("match_len") >= min_len)
        .select(
            query_id_col, corpus_id_col, "q_start", "c_start", "match_len"
        )
    )
    # Execute the verify pipeline NOW, inside a pair-count-keyed
    # shuffle-partitions window (VERIFY_PAIRS_PER_TASK): every exchange
    # above is bounded by the pair set, and planning them at the
    # session count schedules ~6 exchanges of near-empty tasks for a
    # typical audit's pair sliver. The span set is bounded by the pair
    # set by construction, so the eager localCheckpoint holds only
    # audit-pointer-sized rows; the detection feeding ``pairs`` already
    # ran at the session shape (its cost is corpus-, not pair-bounded).
    spark = spans.sparkSession
    try:
        session_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return spans   # exotic conf — keep the lazy plan at session shape
    from tmdb_sync_spark.util import shuffle_partitions_window

    verify_parts = max(
        1, min(session_parts, -(-n_pairs // VERIFY_PAIRS_PER_TASK))
    )
    with shuffle_partitions_window(spark, verify_parts):
        return spans.localCheckpoint(eager=True)


@register(
    "wn_verify_spans",
    oracle=f"""
    WITH {_ORACLE_PAIR_CTES},
    prs AS (
        SELECT q.query_id, c.doc_id AS corpus_id
        FROM qf q JOIN cfo c USING (fp)
        GROUP BY 1, 2
        HAVING COUNT(*) >= {MIN_SHARED_FPS}
    ),
    vq AS (
        SELECT t.query_id, u.pos AS qpos, u.h AS h
        FROM (
            SELECT query_id,
                   list_transform(
                       generate_series(1, length(text) - {WINNOW_K - 1}),
                       i -> struct_pack(
                           pos := i,
                           h := md5(substr(text, i, {WINNOW_K})))) AS gs
            FROM q
            WHERE length(text) >= {WINNOW_K}
              AND query_id IN (SELECT query_id FROM prs)
        ) t, UNNEST(t.gs) AS _(u)
    ),
    vqc AS (
        SELECT query_id, qpos, h FROM (
            SELECT vq.*,
                   COUNT(*) OVER (PARTITION BY query_id, h) AS _n
            FROM vq
        ) WHERE _n <= {VERIFY_GRAM_CAP}
    ),
    vc AS (
        SELECT t.corpus_id, u.pos AS cpos, u.h AS h
        FROM (
            SELECT doc_id AS corpus_id,
                   list_transform(
                       generate_series(1, length(text) - {WINNOW_K - 1}),
                       i -> struct_pack(
                           pos := i,
                           h := md5(substr(text, i, {WINNOW_K})))) AS gs
            FROM corp
            WHERE doc_id IN (SELECT corpus_id FROM prs)
        ) t, UNNEST(t.gs) AS _(u)
    ),
    vcc AS (
        SELECT corpus_id, cpos, h FROM (
            SELECT vc.*,
                   COUNT(*) OVER (PARTITION BY corpus_id, h) AS _n
            FROM vc
        ) WHERE _n <= {VERIFY_GRAM_CAP}
    ),
    mm AS (
        SELECT p.query_id, p.corpus_id, a.qpos, b.cpos,
               b.cpos - a.qpos AS diag
        FROM prs p
        JOIN vqc a ON a.query_id = p.query_id
        JOIN vcc b ON b.corpus_id = p.corpus_id AND b.h = a.h
    ),
    isl AS (
        SELECT query_id, corpus_id, diag, qpos, cpos,
               qpos - row_number() OVER (
                   PARTITION BY query_id, corpus_id, diag
                   ORDER BY qpos) AS grp
        FROM mm
    )
    SELECT query_id, corpus_id,
           CAST(MIN(qpos) AS BIGINT) AS q_start,
           CAST(MIN(cpos) AS BIGINT) AS c_start,
           CAST(MAX(qpos) - MIN(qpos) + {WINNOW_K} AS BIGINT) AS match_len
    FROM isl
    GROUP BY query_id, corpus_id, diag, grp
    HAVING MAX(qpos) - MIN(qpos) + {WINNOW_K} >= {VERIFY_MIN_LEN}
    ORDER BY 1, 2, 3, 4
    """,
)
def wn_verify_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detection → verification, end to end: the winnowing pair detector
    (:func:`wn_substring_overlap`'s exact pipeline) feeds
    :func:`verify_overlap_spans`, which replaces the detector's
    ``c_span_chars`` UPPER BOUND with exact per-pair alignments.

    The planted excerpts (150 chars cut from offset 8 of every
    ``doc_id % 31 == 0`` document) carry a known answer the oracle pins:
    each self-pair must recover the span ``(q_start=1, c_start=8,
    match_len=150)`` exactly — plus whatever genuine cross-document
    repetition the corpus contains, spans ≥ the detection threshold.
    """
    docs = parallel_table(spark, sf_dir, "documents")
    queries = (
        docs.where((F.col("doc_id") % 31 == 0) & (F.length("text") >= 200))
        .select(
            F.col("doc_id").alias("query_id"),
            F.substring("text", 8, 150).alias("text"),
        )
    )
    pairs = substring_overlap(queries, docs)
    # DETECTION executes here, inside the corpus-keyed window (the same
    # sizing as wn_substring_overlap); verify_overlap_spans then opens
    # its own pair-count-keyed window over the materialized pair set.
    # Pre-materializing outside verify keeps the two windows strictly
    # sequential — util.shuffle_partitions_window's lock is
    # non-reentrant, so they must never nest.
    parts = _detection_parts(spark, sf_dir)
    if parts is not None:
        from tmdb_sync_spark.util import shuffle_partitions_window

        with shuffle_partitions_window(spark, parts):
            pairs = pairs.localCheckpoint(eager=True)
    corpus = docs.select(F.col("doc_id").alias("corpus_id"), "text")
    return verify_overlap_spans(queries, corpus, pairs).orderBy(
        "query_id", "corpus_id", "q_start", "c_start"
    )
