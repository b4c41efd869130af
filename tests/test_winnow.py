"""Winnowed local fingerprints (functions/winnow.py): the winnowing
guarantee, cross-engine parity of the selection rule, hostile shapes
(short / NULL / repetitive texts), the boilerplate df-cap, and the
planted-excerpt detection the registered query demonstrates. The
registered query's full-frame DuckDB parity runs in
tests/test_oracle_parity.py like every driver slot."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tmdb_sync_spark.functions.winnow import (
    MIN_SHARED_FPS,
    WINNOW_K,
    WINNOW_W,
    doc_fingerprints,
    substring_overlap,
    winnow_fingerprints,
)

pytestmark = pytest.mark.usefixtures("spark")


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_selection_rule_matches_duckdb(spark):
    """The (pos, fp) selections — k-gram md5, window min, LEFTMOST tie
    — must be byte-identical to the SQL construction the oracle uses."""
    rows = [
        (1, "the quick brown fox jumps over the lazy dog again"),
        (2, "xx the quick brown fox jumps over the lazy dog yy"),
        (3, "completely different content here entirely"),
        (4, "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaa"),   # repetitive: min ties
    ]
    got = (
        winnow_fingerprints(_docs(spark, rows))
        .orderBy("doc_id", "pos", "fp").toPandas()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE t(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    want = con.execute(f"""
        WITH h AS (
            SELECT doc_id,
                   list_transform(generate_series(1, length(text) - {WINNOW_K - 1}),
                                  i -> md5(substr(text, i, {WINNOW_K}))) AS hs
            FROM t WHERE length(text) >= {WINNOW_K}
        ),
        w AS (
            SELECT doc_id,
                   list_transform(
                       generate_series(1, greatest(len(hs) - {WINNOW_W - 1}, 1)),
                       j -> struct_pack(
                           pos := j + list_position(hs[j:j+{WINNOW_W - 1}],
                               list_aggregate(hs[j:j+{WINNOW_W - 1}], 'min')) - 1,
                           fp := list_aggregate(hs[j:j+{WINNOW_W - 1}], 'min'))) AS wins
            FROM h
        )
        SELECT DISTINCT doc_id, u.pos AS pos, u.fp AS fp
        FROM w, UNNEST(w.wins) AS _(u)
        ORDER BY doc_id, pos, fp
    """).df()
    pd.testing.assert_frame_equal(
        got.reset_index(drop=True).astype({"pos": "int64"}),
        want.reset_index(drop=True).astype({"pos": "int64"}),
    )


def test_short_and_null_texts_contribute_nothing(spark):
    """Sub-K and NULL texts have no k-grams BY DEFINITION — and Spark's
    sequence(1, 0) DESCENDS instead of returning empty, so an unguarded
    short text would fabricate a junk fingerprint (the trap the length
    gate closes; caught aligning the prototypes)."""
    rows = [(1, "short"), (2, None), (3, "x" * (WINNOW_K - 1)),
            (4, "y" * WINNOW_K)]
    got = winnow_fingerprints(_docs(spark, rows))
    ids = sorted(r["doc_id"] for r in got.select("doc_id").distinct().collect())
    assert ids == [4]                       # only the exactly-K doc
    assert got.count() == 1                 # one window, one selection


def test_winnowing_guarantee_on_planted_overlap(spark):
    """Any shared substring of >= K + W - 1 chars shares at least one
    SELECTED fingerprint — detection is positional, not probabilistic.
    Probe the exact boundary length."""
    span = "ZXCVBNMqwertyuiopasdfghjkl"[: WINNOW_K + WINNOW_W - 1]
    assert len(span) == WINNOW_K + WINNOW_W - 1
    a = "left-context-" * 3 + span + "-right-rest-" * 3
    b = "B totally different beginning " + span + " other ending entirely"
    fps = winnow_fingerprints(_docs(spark, [(1, a), (2, b)]))
    shared = (
        fps.where(F.col("doc_id") == 1).select("fp")
        .intersect(fps.where(F.col("doc_id") == 2).select("fp"))
    )
    assert shared.count() >= 1


def test_repetitive_text_collapses_before_the_join(spark):
    """The hostile 'aaaa…' doc selects ONE fp at many positions;
    doc_fingerprints must reduce it to one row so a pair join cannot go
    quadratic in position count."""
    df = doc_fingerprints(_docs(spark, [(1, "a" * 500)]))
    rows = df.collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_pos"] > 1 and r["min_pos"] == 1
    # n_hashes = 500-K+1; windows start at 1..n_hashes-W+1 and every
    # window's (all-equal) min resolves to its own first slot
    assert r["max_pos"] == (500 - WINNOW_K + 1) - (WINNOW_W - 1)


def test_overlap_detects_excerpt_and_caps_boilerplate(spark):
    """An excerpt of doc 1 matches doc 1 (and nothing else); a
    boilerplate line present in EVERY corpus doc is excluded by the
    df-cap, so it alone never creates a pair."""
    boiler = "subscribe to our newsletter for updates today "   # 47 chars
    corpus = _docs(spark, [
        (i, boiler + f"body {i} " + f"unique content {i} " * 8)
        for i in range(1, 8)
    ])
    # excerpt: 60 chars of doc 3's UNIQUE region
    q_text = ("body 3 " + "unique content 3 " * 8)[:60]
    queries = spark.createDataFrame(
        [(100, q_text)], "query_id long, text string"
    )
    got = substring_overlap(queries, corpus, df_cap=3, min_shared=2)
    rows = {(r["query_id"], r["corpus_id"]): r for r in got.collect()}
    assert (100, 3) in rows
    assert rows[(100, 3)]["c_span_chars"] >= 40
    # boilerplate-only query: its every fingerprint is in all 7 docs —
    # df-capped away, NO pair may surface
    qb = spark.createDataFrame([(200, boiler)], "query_id long, text string")
    assert substring_overlap(qb, corpus, df_cap=3, min_shared=1).count() == 0


def test_registered_query_finds_every_planted_source(spark, sf_dir):
    """The driver query plants excerpts of doc_id % 31 == 0 docs; the
    winnowing guarantee makes finding each source CERTAIN. (Full-frame
    DuckDB parity for this query lives in test_oracle_parity.py.)"""
    from tmdb_sync_spark.functions.winnow import wn_substring_overlap
    from tmdb_sync_spark.io import table

    docs = table(spark, sf_dir, "documents")
    expected_sources = {
        r["doc_id"]
        for r in docs.where(
            (F.col("doc_id") % 31 == 0) & (F.length("text") >= 200)
        ).collect()
    }
    got = wn_substring_overlap(spark, sf_dir).collect()
    self_hits = {r["query_id"] for r in got
                 if r["query_id"] == r["corpus_id"]}
    assert self_hits == expected_sources and len(expected_sources) > 0
    for r in got:
        assert r["n_shared_fps"] >= MIN_SHARED_FPS


def test_validation(spark):
    with pytest.raises(ValueError, match="no 'nope'"):
        winnow_fingerprints(
            _docs(spark, [(1, "x")]), id_col="nope"
        )
    with pytest.raises(ValueError, match="bad k"):
        winnow_fingerprints(_docs(spark, [(1, "x")]), k=1)
    d = _docs(spark, [(1, "x")])
    with pytest.raises(ValueError, match="must differ"):
        substring_overlap(d, d, query_id_col="doc_id")


# ---------------------------------------------------------------------------
# verify_overlap_spans (r10: the per-pair exact-span verify stage)

def _qdocs(spark, rows):
    return spark.createDataFrame(rows, "query_id long, text string")


def _cdocs(spark, rows):
    return spark.createDataFrame(rows, "corpus_id long, text string")


def _pairs(spark, rows):
    return spark.createDataFrame(rows, "query_id long, corpus_id long")


def _spans(df):
    return sorted(map(tuple, df.collect()))


def test_verify_spans_exact_planted_alignment(spark):
    """An excerpt cut at a known offset must verify to EXACTLY that
    alignment — q_start/c_start/match_len, not a bound."""
    from tmdb_sync_spark.functions.winnow import verify_overlap_spans

    base = (
        "every document deserves one genuinely unique sentence about "
        "topic %d plus some shared-nothing filler to pad the body out"
    )
    corpus = _cdocs(spark, [(i, base % i) for i in range(1, 4)])
    # query 10 = chars 20..79 of corpus doc 2 (1-based c_start=21,len 60)
    stolen = (base % 2)[20:80]
    queries = _qdocs(spark, [
        (10, "prefix words here: " + stolen + " trailing novel words"),
    ])
    got = _spans(verify_overlap_spans(
        queries, corpus, _pairs(spark, [(10, 2)])
    ))
    q_start = len("prefix words here: ") + 1
    assert got == [(10, 2, q_start, 21, 60)]


def test_verify_spans_multiple_disjoint_spans(spark):
    """Two separate copied regions in one pair yield two span rows —
    islands on different diagonals never merge."""
    from tmdb_sync_spark.functions.winnow import verify_overlap_spans

    a = "first copied passage with enough characters to clear threshold"
    b = "second lifted fragment also comfortably past the minimum size"
    # glue boundary chars differ between the two sides (#… vs =…), so
    # the maximal spans are exactly a and exactly b — a shared boundary
    # char would legitimately extend the span across it
    corpus = _cdocs(spark, [(1, a + "#middle corpus padding#" + b)])
    queries = _qdocs(spark, [(7, a + "=unrelated glue text=" + b)])
    got = _spans(verify_overlap_spans(
        queries, corpus, _pairs(spark, [(7, 1)])
    ))
    assert len(got) == 2
    (s1, s2) = got
    # first span starts both sides at 1 and covers exactly a
    assert (s1[2], s1[3], s1[4]) == (1, 1, len(a))
    # second span covers exactly b at each side's known offset
    assert s2[4] == len(b)
    assert s2[2] == len(a) + len("=unrelated glue text=") + 1
    assert s2[3] == len(a) + len("#middle corpus padding#") + 1


def test_verify_spans_min_len_and_unpaired_docs(spark):
    """Short shared fragments below min_len are dropped; docs not in the
    pair set are never compared even if they'd match."""
    from tmdb_sync_spark.functions.winnow import verify_overlap_spans

    shared = "tiny overlap here"   # 17 chars = K + W - 1 exactly
    # boundary chars differ on each side of the sliver (#/=) so the
    # maximal span is exactly the 17 shared chars
    corpus = _cdocs(spark, [
        (1, shared + "#plus corpus-only continuation text"),
        (2, shared + "#identical twin that is NOT in the pair set"),
    ])
    queries = _qdocs(spark, [(5, "query words then " + shared + "=end")])
    got = _spans(verify_overlap_spans(
        queries, corpus, _pairs(spark, [(5, 1)])
    ))
    # the 17-char sliver survives min_len exactly; only pair (5, 1)
    assert got == [(5, 1, len("query words then ") + 1, 1, len(shared))]
    got_long = _spans(verify_overlap_spans(
        queries, corpus, _pairs(spark, [(5, 1)]), min_len=18
    ))
    assert got_long == []


def test_verify_spans_gram_cap_bounds_repetitive_bomb(spark):
    """The 'aaaa…' pair would fabricate quadratic diagonal matches;
    gram_cap drops hyper-repeated grams so the stage stays bounded (the
    documented precision trade: such spans vanish, they never explode)."""
    from tmdb_sync_spark.functions.winnow import verify_overlap_spans

    bomb = "a" * 2000
    corpus = _cdocs(spark, [(1, bomb)])
    queries = _qdocs(spark, [(9, bomb)])
    got = verify_overlap_spans(queries, corpus, _pairs(spark, [(9, 1)]))
    assert got.count() == 0
    # normal text beside the bomb still verifies exactly
    tail = " then a normal unique sentence closes both documents"
    corpus2 = _cdocs(spark, [(1, bomb + tail)])
    queries2 = _qdocs(spark, [(9, bomb + tail)])
    got2 = _spans(verify_overlap_spans(
        queries2, corpus2, _pairs(spark, [(9, 1)])
    ))
    assert len(got2) == 1 and got2[0][4] >= len(tail)


def test_verify_spans_empty_pairs_and_validation(spark):
    from tmdb_sync_spark.functions.winnow import verify_overlap_spans

    corpus = _cdocs(spark, [(1, "some corpus text long enough to gram")])
    queries = _qdocs(spark, [(5, "some query text long enough to gram")])
    assert verify_overlap_spans(
        queries, corpus, _pairs(spark, [])
    ).count() == 0
    with pytest.raises(ValueError, match="must differ"):
        verify_overlap_spans(
            queries.withColumnRenamed("query_id", "doc_id"),
            corpus.withColumnRenamed("corpus_id", "doc_id"),
            spark.createDataFrame([], "doc_id long"),
            query_id_col="doc_id", corpus_id_col="doc_id",
        )
    with pytest.raises(ValueError, match="no 'corpus_id'"):
        verify_overlap_spans(queries, corpus, queries)


# ---------------------------------------------------------------------------
# r10 hostile pass (r9 verdict #7)

_HOSTILE_ROWS = [
    # CJK + emoji past the BMP (astral plane, 4-byte UTF-8): character
    # indexing must agree between Spark's UTF8String and DuckDB
    (1, "火車站在哪裡請問一下謝謝你 🚀🚀 多字節內容測試資料延伸更多"),
    # combining marks: e + U+0301 is TWO code points in both engines
    (2, "café au lait résumé entrée naivë "
        "plus enough tail text to fingerprint"),
    # mixed-width: ascii interleaved with multibyte
    (3, "aä漢zZ🚀!aä漢zZ?aä漢zZ.aä漢zZ,aä漢zZ;aä漢zZ:"),
    # whitespace-only but ≥ K chars: fingerprints exist (the text IS
    # its content) and must match cross-engine like any other
    (4, " " * (WINNOW_K + WINNOW_W + 3)),
    # NUL and control chars inside the text
    (5, "control\x00chars\x01inside\x02this\x03string\x04body\x05text"),
    # RTL text with embedded digits
    (6, "مرحبا بالعالم 12345 اختبار المحتوى متعدد البايت هنا الآن"),
]


def test_hostile_unicode_selection_parity(spark):
    """Multibyte winnowing parity — the md5-over-substr path meets CJK,
    astral emoji, combining marks, RTL, NULs: Spark `substr` counts
    CHARACTERS on UTF8String and the binary cast hashes the UTF-8
    bytes; DuckDB's substr/length count code points and md5(varchar)
    hashes UTF-8 — the (pos, fp) selections must be byte-identical
    (this is the r9 verdict's 'prove or refute' probe; proven here)."""
    got = (
        winnow_fingerprints(_docs(spark, _HOSTILE_ROWS))
        .orderBy("doc_id", "pos", "fp").toPandas()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE t(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", _HOSTILE_ROWS)
    want = con.execute(f"""
        WITH h AS (
            SELECT doc_id,
                   list_transform(generate_series(1, length(text) - {WINNOW_K - 1}),
                                  i -> md5(substr(text, i, {WINNOW_K}))) AS hs
            FROM t WHERE length(text) >= {WINNOW_K}
        ),
        w AS (
            SELECT doc_id,
                   list_transform(
                       generate_series(1, greatest(len(hs) - {WINNOW_W - 1}, 1)),
                       j -> struct_pack(
                           pos := j + list_position(hs[j:j+{WINNOW_W - 1}],
                               list_aggregate(hs[j:j+{WINNOW_W - 1}], 'min')) - 1,
                           fp := list_aggregate(hs[j:j+{WINNOW_W - 1}], 'min'))) AS wins
            FROM h
        )
        SELECT DISTINCT doc_id, u.pos AS pos, u.fp AS fp
        FROM w, UNNEST(w.wins) AS _(u)
        ORDER BY doc_id, pos, fp
    """).df()
    assert len(got) > 0
    pd.testing.assert_frame_equal(
        got.reset_index(drop=True).astype({"pos": "int64"}),
        want.reset_index(drop=True).astype({"pos": "int64"}),
    )


def test_hostile_unicode_excerpt_detection_and_spans(spark):
    """End to end on multibyte text: a CJK excerpt embedded in a novel
    eval doc is detected AND span-verified with CHARACTER-exact offsets
    (byte offsets would be ~3x larger and wrong)."""
    from tmdb_sync_spark.functions.winnow import verify_overlap_spans

    body = "開頭引言部分" + "獨特內容第五號文件" * 6 + "結尾部分完結"
    corpus = _docs(spark, [(5, body),
                           (6, "完全不同的另一篇文件內容展示用")])
    stolen = body[6:36]                  # 30 chars from char-offset 7
    queries = spark.createDataFrame(
        [(100, "novel eval wrapper: " + stolen + " trailing")],
        "query_id long, text string",
    )
    pairs = substring_overlap(queries, corpus, min_shared=2)
    got = sorted(map(tuple, pairs.collect()))
    assert [(q, c) for q, c, *_ in got] == [(100, 5)]
    spans = sorted(map(tuple, verify_overlap_spans(
        queries,
        corpus.withColumnRenamed("doc_id", "corpus_id"),
        pairs,
    ).collect()))
    # the excerpt region is itself repetitive (the x6 repeat), so the
    # maximal matched span extends past the cut on the corpus side —
    # assert the span COVERS the planted excerpt with exact q offsets
    assert len(spans) >= 1
    q_start = len("novel eval wrapper: ") + 1
    covering = [s for s in spans
                if s[2] <= q_start and s[2] + s[4] - 1 >= q_start + 29]
    assert covering, spans


def test_all_boilerplate_doc_is_invisible_by_design(spark):
    """A doc whose EVERY fingerprint exceeds df_cap (pure boilerplate)
    cannot pair with anything — including its own verbatim copy. Pinned
    as the df-cap's documented trade: boilerplate is not evidence of
    copying, so an all-boilerplate doc has no evidence to give."""
    boiler = "all rights reserved worldwide contact legal for terms "
    corpus = _docs(spark, [(i, boiler) for i in range(1, 15)])
    queries = spark.createDataFrame(
        [(100, boiler)], "query_id long, text string"
    )
    got = substring_overlap(queries, corpus, df_cap=5, min_shared=1)
    assert got.count() == 0
    # …and the same doc WITH unique content pairs on that content only
    corpus2 = _docs(spark, [
        *[(i, boiler) for i in range(1, 15)],
        (99, boiler + "except this document adds a unique closing line"),
    ])
    queries2 = spark.createDataFrame(
        [(100, boiler + "except this document adds a unique closing line")],
        "query_id long, text string",
    )
    got2 = sorted(
        (r["query_id"], r["corpus_id"])
        for r in substring_overlap(
            queries2, corpus2, df_cap=5, min_shared=1).collect()
    )
    assert got2 == [(100, 99)]


def test_verify_spans_broadcast_gate_shuffle_parity(spark, monkeypatch):
    """The pair-frame broadcast hints share one row-count gate (the
    r9-verdict class: an unconditional hint is the OOM the gated joins
    pretend to prevent). Gate forced to 0 → all three joins take the
    shuffle path and spans are identical."""
    import tmdb_sync_spark.functions.dedup_index as di
    from tmdb_sync_spark.functions.winnow import verify_overlap_spans

    corpus = _cdocs(spark, [
        (1, "a shared fragment that is long enough to verify exactly"),
        (2, "completely unrelated corpus text for the other document"),
    ])
    queries = _qdocs(spark, [
        (9, "prefix! a shared fragment that is long enough to verify "
            "exactly =suffix"),
    ])
    pairs = _pairs(spark, [(9, 1)])
    broadcast_spans = _spans(verify_overlap_spans(queries, corpus, pairs))
    monkeypatch.setattr(di, "BROADCAST_PROBE_MAX_ROWS", 0)
    shuffle_spans = _spans(verify_overlap_spans(queries, corpus, pairs))
    assert shuffle_spans == broadcast_spans and len(broadcast_spans) == 1


def test_footer_estimator_early_exit_reads_one_footer(tmp_path, monkeypatch):
    """The detection-sizing footer walk must stop at the first file once
    the running text-byte total reaches the caller's cap (r12 verdict:
    at 100 TB an uncapped walk is an O(files) driver stall just to learn
    the session cap binds) — and still sum EVERY footer when uncapped."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    import tmdb_sync_spark.io as io

    d = tmp_path / "many_files"
    d.mkdir()
    per_file = []
    for i in range(5):
        f = d / f"part-{i}.parquet"
        pq.write_table(
            pa.table({"doc_id": [i], "text": ["x" * 4000]}), f
        )
        md = pq.ParquetFile(f).metadata.row_group(0)
        per_file.append(
            next(
                md.column(ci).total_uncompressed_size
                for ci in range(md.num_columns)
                if md.column(ci).path_in_schema == "text"
            )
        )

    opened = []
    real = pq.ParquetFile

    def counting(path, *a, **kw):
        opened.append(str(path))
        return real(path, *a, **kw)

    monkeypatch.setattr(pq, "ParquetFile", counting)
    io._FOOTERS.clear()
    # cap below the first file's text bytes → exactly ONE footer read,
    # and the returned lower bound already proves the cap binds
    got = io.table_footer(str(d)).text_bytes(cap=per_file[0] // 2)
    assert len(opened) == 1
    assert got is not None and got >= per_file[0] // 2

    opened.clear()
    io._FOOTERS.clear()
    # uncapped → every footer read, full total
    got_all = io.table_footer(str(d)).text_bytes()
    assert len(opened) == 5
    assert got_all == sum(per_file)

    # differently-capped calls never alias through the cache
    io._FOOTERS.clear()
    low = io.table_footer(str(d)).text_bytes(cap=per_file[0] // 2)
    full = io.table_footer(str(d)).text_bytes()
    assert full == sum(per_file) and low <= full
