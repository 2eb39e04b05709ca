"""Twin-parity tests: every (Spark Column, DuckDB SQL) expression pair
in operators/text.py is evaluated on the SAME rows in both engines and
compared value-for-value — the direct guard behind the twins' reason
to exist (hand-synced copies drift apart, and a driver-side hash then
disagrees with the local one).

Covers the digitless-source TRY_CAST edge: a source with no digits
must yield 0 in BOTH engines, not Spark-NULL vs DuckDB cast error.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from orderly_spark.operators import text as T

ROWS = [
    # (doc_id, source, n_tokens) — includes the digitless and empty
    # sources the TRY_CAST guard exists for, and n = 0/1 chunk edges
    (0, "src0", 1),
    (1, "src1", 48),
    (2, "src2", 49),
    (3, "src17", 64),
    (4, "nodigits", 65),
    (5, "", 200),
    (6, "src3", 0),
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    con.execute("CREATE TABLE t (doc_id BIGINT, source VARCHAR, n BIGINT)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", ROWS)
    return con


@pytest.fixture(scope="module")
def sdf(spark):
    return spark.createDataFrame(ROWS, "doc_id long, source string, n long")


def test_source_num_twins(spark, duck, sdf):
    got = {
        r["doc_id"]: r["v"]
        for r in sdf.select("doc_id", T.source_num().alias("v")).collect()
    }
    want = dict(duck.execute(f"SELECT doc_id, {T.SOURCE_NUM_SQL} FROM t").fetchall())
    assert got == want
    assert got[4] == 0 and got[5] == 0  # digitless → 0, both engines


def test_sample_threshold_and_keep_twins(spark, duck, sdf):
    got = {
        r["doc_id"]: (r["thr"], r["keep"])
        for r in sdf.select(
            "doc_id",
            T.sample_threshold().alias("thr"),
            T.sample_keep("doc_id").alias("keep"),
        ).collect()
    }
    want = {
        d: (t, k)
        for d, t, k in duck.execute(
            f"SELECT doc_id, {T.SAMPLE_THRESHOLD_SQL()}, {T.SAMPLE_KEEP_SQL('doc_id')} FROM t"
        ).fetchall()
    }
    assert got == want


def test_chunk_twins_including_empty(spark, duck, sdf):
    got = sorted(
        (r["doc_id"], r["start"], r["ct"])
        for r in sdf.select(
            "doc_id", T.chunk_starts(F.col("n")).alias("start")
        )
        .join(sdf, "doc_id")
        .select(
            "doc_id", "start", T.chunk_tokens(F.col("n"), F.col("start")).alias("ct")
        )
        .collect()
    )
    want = sorted(
        duck.execute(
            f"""SELECT doc_id, start, {T.CHUNK_TOKENS_SQL('n')} AS ct
                FROM (SELECT doc_id, n, {T.CHUNK_STARTS_SQL('n')} FROM t)"""
        ).fetchall()
    )
    assert got == want
    # n = 0 emits nothing on either side (the chunk_starts guard)
    assert not any(d == 6 for d, _, _ in got)


def test_dup_ratio_twins(spark, duck):
    rows = [(0, ["a", "b", "a"]), (1, ["x"]), (2, [])]
    sdf = spark.createDataFrame(rows, "doc_id long, toks array<string>")
    got = {
        r["doc_id"]: r["v"]
        for r in sdf.select(
            "doc_id",
            T.dup_ratio(F.col("toks"), F.size("toks")).alias("v"),
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE d (doc_id BIGINT, toks VARCHAR[])")
    con.executemany("INSERT INTO d VALUES (?, ?)", rows)
    want = dict(
        con.execute(
            f"SELECT doc_id, {T.DUP_RATIO_SQL('toks', 'len(toks)')} FROM d"
        ).fetchall()
    )
    # strict equality, not approx: the driver hashes stringified
    # values, so a last-ulp drift that approx tolerates is exactly the
    # local-green/driver-red class this suite exists to prevent.
    # The operands are identical integer-derived doubles
    # in both engines, so bit-identity is the right bar.
    assert got == want
    assert got[0] == 1 / 3 and got[2] == 0.0


# ---------------------------------------------------------------------------
# Foundational mirrors (every oracle leans on these) on adversarial
# inputs: unicode whitespace, NBSP, case-folding edges, empty/short
# docs, negative/half-way doubles.
# ---------------------------------------------------------------------------

ADVERSARIAL_TEXTS = [
    (0, "plain words here"),
    (1, "  leading and   multiple    spaces "),
    (2, "tab\tseparated\nand newline"),
    (3, "MIXED Case WORDS"),
    (4, "nbsp joined"),          # NBSP: \s must NOT split in either engine
    (5, "ideographic　space"),    # U+3000: same question, CJK corpora hit it
    (6, ""),
    (7, "one"),
    (8, "two words"),
    (9, "unicode touché naïve café"),
    (10, "ALLCAPS İSTANBUL"),        # dotted capital I: lower() casefold edge
    (11, "vertical\x0btab"),          # \x0B: Java \s matches, RE2 \s does not
]


def test_tokens_twins_on_adversarial_whitespace(spark):
    """Twins agree on every row EXCEPT the documented full-vs-simple
    Unicode case-mapping divergence (Turkish İ, U+0130): Java lower()
    emits 'i'+combining-dot, DuckDB plain 'i'. Pin both the agreement
    surface and the exact shape of the known divergence so any CHANGE
    to either engine's behavior fails loudly here."""
    sdf = spark.createDataFrame(ADVERSARIAL_TEXTS, "doc_id long, text string")
    got = {
        r["doc_id"]: r["t"]
        for r in sdf.select("doc_id", T.tokens("text").alias("t")).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", ADVERSARIAL_TEXTS)
    want = dict(
        con.execute(f"SELECT doc_id, {T.TOKENS_SQL('text')} FROM t").fetchall()
    )
    diverging = {10, 11}
    assert {k: v for k, v in got.items() if k not in diverging} == {
        k: v for k, v in want.items() if k not in diverging
    }
    assert got[10] == ["allcaps", "i̇stanbul"]  # full mapping (Java)
    assert want[10] == ["allcaps", "istanbul"]  # simple mapping (DuckDB)
    assert got[11] == ["vertical", "tab"]       # Java \s matches \x0B
    assert want[11] == ["vertical\x0btab"]      # RE2 \s does not


def test_punct_class_twins_on_unicode_texts(spark):
    """The Unicode punct class is ONE literal string fed to both
    engines, so parity is by construction — this pins it empirically on
    the scripts the old ASCII-\\w class misgraded (CJK, accented Latin,
    Cyrillic, Devanagari, emoji) plus the \\x0B edge where Java \\s and
    RE2 \\s genuinely differ (the explicit class sidesteps it)."""
    texts = [
        (1, "Hello, world!"),
        (2, "héllo café"),
        (3, "中文文档测试。"),
        (4, "русский текст!"),
        (5, "१२३ देवनागरी"),
        (6, "emoji \U0001F600 test"),
        (7, "foo_bar_1 2_3"),
        (8, "vertical\x0btab"),
        (9, "nbsp and　ideographic space"),
        (10, ""),
    ]
    sdf = spark.createDataFrame(texts, "doc_id long, text string")
    got = {
        r["doc_id"]: r["k"]
        for r in sdf.select(
            "doc_id",
            (
                F.length("text")
                - F.length(F.regexp_replace("text", T.PUNCT_CLASS, ""))
            ).alias("k"),
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", texts)
    want = dict(
        con.execute(
            f"SELECT doc_id, len(text) - len(regexp_replace(text, '{T.PUNCT_CLASS}', '', 'g')) FROM t"
        ).fetchall()
    )
    assert got == want
    # and the semantics the class exists for: letters in any script are
    # NOT punctuation; true punctuation/symbols still are
    # 。 only; none; none (Devanagari vowel signs are \p{M} marks, kept)
    assert got[3] == 1 and got[2] == 0 and got[5] == 0
    assert got[8] == 0  # \x0B is whitespace on BOTH sides (Java-\s parity)
    assert got[9] == 2  # NBSP + U+3000 count as punct on both sides


def test_shingles_twins_on_adversarial_texts(spark):
    sdf = spark.createDataFrame(ADVERSARIAL_TEXTS, "doc_id long, text string")
    got = {
        r["doc_id"]: r["s"]
        for r in sdf.select(
            "doc_id", T.shingles(T.tokens("text"), 3).alias("s")
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", ADVERSARIAL_TEXTS)
    want = dict(
        con.execute(
            f"SELECT doc_id, {T.SHINGLES_SQL(T.TOKENS_SQL('text'), 3)} FROM t"
        ).fetchall()
    )
    assert got == want
    assert want[6] == [] and want[7] == []  # short docs: no shingles, no error


def test_dsum_dround_twins_on_awkward_doubles(spark):
    """The decimal-accumulation + shortest-repr-rounding pair under the
    doubles that break naive float sums: half-way points, negatives,
    long binary tails."""
    from orderly_spark.registry import DROUND, DSUM, dsum

    vals = [0.1, 0.2, 0.3, -1.05, 2.675, 1e-7, 123456.789012, -0.0, 0.19499999999999998]
    rows = [(i, v) for i, v in enumerate(vals)]
    sdf = spark.createDataFrame(rows, "i long, v double")
    got = sdf.agg(
        dsum("v").alias("s"),
        dsum(F.round(F.col("v") * 3.7, 6)).alias("p"),
    ).collect()[0]
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i BIGINT, v DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    want_s, want_p = con.execute(
        f"SELECT {DSUM('v')}, {DSUM(DROUND('v * 3.7', 6))} FROM t"
    ).fetchone()
    assert got["s"] == want_s
    assert got["p"] == want_p


def test_bround_dbround_twins_on_tie_boundaries(spark):
    """F.bround ↔ DBROUND: shortest-repr HALF_EVEN on both
    engines. The FLOOR+parity SQL construction exists because DuckDB
    1.0.0's round_even is inconsistent at DECIMAL ties (1.005 → 1.01
    but 2.005 → 2.0, verified live) — pin the twin on exactly the tie
    grid that exposed it, negatives and non-dyadic reprs included."""
    from orderly_spark.registry import DBROUND

    vals = [
        1.005, 2.005, 0.105, 0.115, 0.125, 0.135, 2.675, 8.835,
        -0.125, -1.005, -2.675, 0.19499999999999998, 0.20500000000000002,
        1 / 3, 123456.78901, 0.0,
    ]
    rows = [(i, v) for i, v in enumerate(vals)]
    sdf = spark.createDataFrame(rows, "i long, v double")
    got = {
        r["i"]: (r["b2"], r["b6"])
        for r in sdf.select(
            "i", F.bround("v", 2).alias("b2"), F.bround("v", 6).alias("b6")
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i BIGINT, v DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    want = {
        i: (b2, b6)
        for i, b2, b6 in con.execute(
            f"SELECT i, {DBROUND('v', 2)}, {DBROUND('v', 6)} FROM t"
        ).fetchall()
    }
    assert got == want
    # banker's at ties: even digit wins on both signs
    assert got[0][0] == 1.0 and got[1][0] == 2.0 and got[4][0] == 0.12
    assert got[5][0] == 0.14 and got[8][0] == -0.12 and got[9][0] == -1.0


def test_epoch_us_twins_across_dst_shaped_timestamps(spark):
    """epoch_us must be pure field arithmetic in both engines — pinned
    on timestamps straddling a DST transition and microsecond edges.

    Evaluated under a deliberately NON-UTC session timezone: in the
    UTC test session, zone-interpreting arithmetic (unix_micros) and
    the required ntz field arithmetic are indistinguishable, so a UTC-
    only assertion would be vacuous for exactly the regression it
    claims to pin — the driver replica runs in
    America/New_York, where the two differ by the zone offset across
    the DST rows below."""
    from orderly_spark.operators.relational import epoch_us

    ts = [
        (0, "2024-03-10 01:59:59.999999"),  # US DST spring-forward edge
        (1, "2024-03-10 03:00:00.000001"),
        (2, "2024-11-03 01:30:00.5"),       # fall-back ambiguous hour
        (3, "1970-01-01 00:00:00"),
        (4, "2024-01-01 00:00:00"),
    ]
    saved = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        sdf = spark.createDataFrame(ts, "i long, s string").select(
            "i", F.col("s").cast("timestamp").alias("ts")
        )
        got = {
            r["i"]: r["e"]
            for r in sdf.select("i", epoch_us(F.col("ts")).alias("e")).collect()
        }
    finally:
        spark.conf.set("spark.sql.session.timeZone", saved)
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i BIGINT, ts TIMESTAMP)")
    con.executemany("INSERT INTO t VALUES (?, ?)", ts)
    want = dict(con.execute("SELECT i, epoch_us(ts) FROM t").fetchall())
    assert got == want


def test_seeded_md5_twin(spark):
    sdf = spark.createDataFrame([(0, "abc"), (1, ""), (2, "touché")], "i long, s string")
    got = {
        r["i"]: r["h"]
        for r in sdf.select("i", T.seeded_md5(7, F.col("s")).alias("h")).collect()
    }
    con = duckdb.connect()
    want = dict(
        con.execute(
            "SELECT i, md5('7:' || s) FROM (VALUES (0, 'abc'), (1, ''), (2, 'touché')) v(i, s)"
        ).fetchall()
    )
    assert got == want


# ---------------------------------------------------------------------------
# BM25 tf-normalisation, Z-order bucket/interleave,
# SimHash majority-vote bits, and the sessionisation pair
# ---------------------------------------------------------------------------


def test_bm25_tfn_twins_on_awkward_ratios(spark):
    from orderly_spark.queries.lakehouse_battery import _BM25_TFN_SQL, _bm25_tfn

    rows = [
        # (i, tf, len, total_len, n_docs) — len≫avg, len=0, len=avg,
        # huge tf saturation, single-doc corpus
        (0, 1, 10, 1000, 100),
        (1, 1, 0, 1000, 100),
        (2, 97, 10, 1000, 100),
        (3, 12345678, 99999, 7, 3),
        (4, 1, 333, 333, 1),
        (5, 2, 17, 999999999, 31),
    ]
    sdf = spark.createDataFrame(
        rows, "i long, tf long, len long, total_len long, n_docs long"
    )
    got = {r["i"]: r["v"] for r in sdf.select("i", _bm25_tfn().alias("v")).collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i BIGINT, tf BIGINT, len BIGINT, total_len BIGINT, n_docs BIGINT)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?, ?, ?)", rows)
    want = dict(
        con.execute(
            f"SELECT i, {_BM25_TFN_SQL('tf', 'len', 'total_len', 'n_docs')} FROM t"
        ).fetchall()
    )
    # strict equality — the whole point is bit-identity of the IEEE chain
    assert got == want


def test_zorder_bucket_and_interleave_twins(spark):
    from orderly_spark.queries.lakehouse_battery import _bucket_expr, _zorder_expr

    rows = [
        # (i, v, mn, mx) — edges v=mn, v=mx, degenerate mn=mx, wide range
        (0, 0, 0, 0),
        (1, 7, 0, 255),
        (2, 255, 0, 255),
        (3, 14999, 0, 14999),
        (4, 11549, 9131, 11554),
        (5, 19738, 9131, 19761),
    ]
    sdf = spark.createDataFrame(rows, "i long, v long, mn long, mx long")
    got = {
        r["i"]: r["b"]
        for r in sdf.select(
            "i", F.expr(_bucket_expr("v", "mn", "mx", spark=True)).alias("b")
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i BIGINT, v BIGINT, mn BIGINT, mx BIGINT)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?, ?)", rows)
    want = dict(
        con.execute(
            f"SELECT i, {_bucket_expr('v', 'mn', 'mx', spark=False)} FROM t"
        ).fetchall()
    )
    assert got == want
    assert all(0 <= b <= 255 for b in got.values())

    zrows = [(0, 0, 0), (1, 255, 255), (2, 170, 85), (3, 85, 170), (4, 1, 0), (5, 0, 1)]
    zdf = spark.createDataFrame(zrows, "i long, bx long, by long")
    gz = {
        r["i"]: r["z"]
        for r in zdf.select(
            "i", F.expr(_zorder_expr("bx", "by", spark=True)).alias("z")
        ).collect()
    }
    con.execute("CREATE TABLE z (i BIGINT, bx BIGINT, by BIGINT)")
    con.executemany("INSERT INTO z VALUES (?, ?, ?)", zrows)
    wz = dict(
        con.execute(f"SELECT i, {_zorder_expr('bx', 'by', spark=False)} FROM z").fetchall()
    )
    assert gz == wz
    # spot-check the Morton property: bx owns odd bits, by owns even bits
    assert gz[4] == 2 and gz[5] == 1 and gz[1] == 65535
    # bx=10101010₂ fills odd positions 3,7,11,15; by=01010101₂ fills
    # even positions 0,4,8,12 → 0x8888 + 0x1111 = 0x9999
    assert gz[2] == 0x9999 and gz[3] == 0x6666


def test_simhash_sh_twins_on_adversarial_texts(spark):
    from orderly_spark.operators import dedup as D
    from orderly_spark.queries.dedup_battery import _simhash_sh_sql

    texts = [
        (0, ""),                       # no tokens → sh must be 0
        (1, "a"),                      # single token: sh = its bits
        (2, "a a a b"),                # multiset majority, not set
        (3, "tie tie other other"),    # exact 50/50 → strict > keeps bit 0
        (4, "the quick brown fox jumps over the lazy dog"),
        (5, "touché déjà-vu ñandú"),
    ]
    sdf = spark.createDataFrame(texts, "i long, txt string")
    got = {
        r["i"]: r["sh"] for r in sdf.select("i", D.simhash16(F.col("txt")).alias("sh")).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i BIGINT, txt VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", texts)
    toks = T.TOKENS_SQL("txt")
    want = dict(
        con.execute(
            f"""
            SELECT i, {_simhash_sh_sql()} FROM (
              SELECT i, list_transform({toks}, x -> substr(md5('3:' || x), 1, 4)) AS hs,
                     len({toks}) AS n
              FROM t
            )
            """
        ).fetchall()
    )
    assert got == want
    assert got[0] == 0


def test_session_total_value_uses_shared_dsum_expression(spark):
    """s_session_windows runs streaming.sessionized_events, which
    aggregates total_value through the shared registry.dsum helper:
    pinned by expression-text equality with the decimal form the
    oracle mirrors (DSUM), so a helper change cannot drift the twin
    from its oracle."""
    from orderly_spark.registry import dsum

    # the helper IS the hand-rolled expression the DSUM oracle mirrors
    assert str(dsum("value")) == str(
        F.sum(F.col("value").cast("decimal(38,6)")).cast("double")
    )


def test_session_twins_on_gap_edges(spark):
    """The sessionisation (Spark, SQL) pair from the interval-overlap
    join, evaluated on crafted rows: a gap EXACTLY equal to the
    threshold must NOT break (strict >), equal timestamps order by
    event_id, and a single-event user is one [t, t] session."""
    import pandas as pd

    from orderly_spark.queries.lakehouse_battery import (
        _SESSION_GAP_US,
        _session_sql,
        _sessions,
    )

    base = 1_700_000_000_000_000  # µs
    gap = _SESSION_GAP_US
    rows = [
        # user 1: exact-threshold gap (no break), then threshold+1 (break)
        (1, base, 10, "click"),
        (2, base + gap, 11, "click"),
        (3, base + 2 * gap + 1, 12, "click"),
        # user 2: equal timestamps, distinct event_ids
        (4, base, 20, "click"),
        (5, base, 21, "click"),
        # user 3: single event
        (6, base, 30, "click"),
        # noise that must be filtered out by type
        (7, base, 40, "view"),
    ]
    uid = {10: 1, 11: 1, 12: 1, 20: 2, 21: 2, 30: 3, 40: 1}

    import datetime

    sdf = spark.createDataFrame(
        [
            (eid, datetime.datetime.utcfromtimestamp(eus / 1e6), uid[eid], et, 0.0, "{}")
            for (_, eus, eid, et) in rows
        ],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    import tempfile, os

    with tempfile.TemporaryDirectory() as td:
        sdf.coalesce(1).write.parquet(os.path.join(td, "events.parquet"))
        got = sorted(
            (r["user_id"], r["sid"], r["st"], r["en"])
            for r in _sessions(spark, td, "click").collect()
        )
    con = duckdb.connect()
    con.execute("CREATE TABLE events (event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type VARCHAR, value DOUBLE, props VARCHAR)")
    con.executemany(
        "INSERT INTO events VALUES (?, ?, ?, ?, ?, ?)",
        [
            (eid, pd.Timestamp(eus, unit="us"), uid[eid], et, 0.0, "{}")
            for (_, eus, eid, et) in rows
        ],
    )
    want = sorted(tuple(r) for r in con.execute(_session_sql("click")).fetchall())
    assert got == want
    # user 1 is ONE session up to the exact-threshold event, then a second
    by_user = {}
    for u, sid, st, en in got:
        by_user.setdefault(u, []).append((sid, st, en))
    assert len(by_user[1]) == 2 and by_user[1][0][2] == base + gap
    assert len(by_user[2]) == 1 and len(by_user[3]) == 1


# ---------------------------------------------------------------------------
# Sessionize-oracle variant parity: the
# 30-min gap rule appears in THREE oracle strings in two textual
# variants — epoch_us subtraction (e_sessionized_counts) and
# timestamp INTERVAL comparison (j_interval_overlap_join,
# e_session_funnel). They must assign identical session ids on every
# edge (exact-threshold gap, threshold+1us, ts ties broken by
# event_id, singleton users) or a future gap-rule change applied to
# one variant silently desynchronizes the other two twins.
# ---------------------------------------------------------------------------

_SESS_EPOCH_US_VARIANT = """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN LAG(ts) OVER w IS NULL
              OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 30 * 60 * 1000000 THEN 1 ELSE 0 END AS new_sess
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, event_id,
       SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS session_id
FROM flagged
"""

_SESS_INTERVAL_VARIANT = """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL 30 MINUTE
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM ev
)
SELECT user_id, event_id,
       SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS session_id
FROM flagged
"""


def test_sessionize_oracle_variants_agree():
    import datetime

    base = datetime.datetime(2024, 1, 1, 0, 0, 0)
    us = datetime.timedelta(microseconds=1)
    m30 = datetime.timedelta(minutes=30)
    rows = [
        # user 1: gap EXACTLY 30 min (same session under strict >),
        # then 30 min + 1 us (new session)
        (1, base, 10),
        (1, base + m30, 11),
        (1, base + m30 + m30 + us, 12),
        # user 2: ts tie broken by event_id, then a just-under gap
        (2, base, 20),
        (2, base, 21),
        (2, base + m30 - us, 22),
        # user 3: singleton
        (3, base, 30),
        # user 4: three sessions back-to-back at threshold + 1 us
        (4, base, 40),
        (4, base + m30 + us, 41),
        (4, base + m30 + us + m30 + us, 42),
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE ev (user_id BIGINT, ts TIMESTAMP, event_id BIGINT)")
    con.executemany("INSERT INTO ev VALUES (?, ?, ?)", rows)
    a = sorted(tuple(r) for r in con.execute(_SESS_EPOCH_US_VARIANT).fetchall())
    b = sorted(tuple(r) for r in con.execute(_SESS_INTERVAL_VARIANT).fetchall())
    assert a == b
    sid = {eid: s for (_, eid, s) in a}
    assert sid[10] == sid[11] and sid[12] == sid[11] + 1  # strict > at threshold
    assert sid[20] == sid[21] == sid[22]
    assert (sid[40], sid[41], sid[42]) == (0, 1, 2)


def test_sessionize_variant_pins_match_live_oracles():
    """The parity test above is only a guard if the pinned fragments
    still match what the graded oracles actually say — tie them."""
    import orderly_spark.queries  # noqa: F401  (register)
    from orderly_spark.registry import REGISTRY

    gap_a = "epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 30 * 60 * 1000000"
    gap_b = "> INTERVAL 30 MINUTE"
    assert gap_a in _SESS_EPOCH_US_VARIANT
    assert gap_b in _SESS_INTERVAL_VARIANT
    assert gap_a in REGISTRY["e_sessionized_counts"].oracle
    assert gap_b in REGISTRY["j_interval_overlap_join"].oracle
    assert gap_b in REGISTRY["e_session_funnel"].oracle


def test_json_k_cast_twins_on_malformed_props(spark):
    """try_cast/TRY_CAST parity for the JSON-k twins: a non-numeric,
    missing, or NULL props payload drops to NULL in BOTH engines (a
    plain cast('long') throws under Spark's default ANSI mode and a
    plain DuckDB CAST raises ConversionException, so one bad row would
    crash the gate)."""
    rows = [
        (0, '{"k": "7"}'),
        (1, '{"k": "x"}'),       # non-numeric → NULL both sides
        (2, '{"j": 1}'),          # missing key → NULL
        (3, None),                # NULL payload → NULL
        (4, "not json"),         # unparseable → NULL
        (5, '{"k": "-12"}'),
    ]
    sdf = spark.createDataFrame(rows, "i long, props string")
    got = {
        r["i"]: r["k"]
        for r in sdf.select(
            "i", F.get_json_object("props", "$.k").try_cast("long").alias("k")
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i BIGINT, props VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    # TRY_CAST(props AS JSON) is load-bearing: writing this test
    # found that DuckDB's json_extract_string RAISES on unparseable
    # JSON text (row 4) where Spark's get_json_object returns NULL —
    # a second crash layer the scalar TRY_CAST alone did not cover.
    want = dict(
        con.execute(
            "SELECT i, TRY_CAST(json_extract_string(TRY_CAST(props AS JSON), '$.k') AS BIGINT) FROM t"
        ).fetchall()
    )
    assert got == want
    assert got[0] == 7 and got[5] == -12
    assert all(got[i] is None for i in (1, 2, 3, 4))


def test_davg_composition_association_parity(spark):
    """q17's threshold twin (the DAVG macro is self-parenthesized):
    Spark computes ``0.2 * davg(x)`` =
    0.2 * (S/C); an UNparenthesized SUM/COUNT composed as
    ``0.2 * SUM/COUNT`` re-associates to (0.2*S)/C — off by one ulp
    on real groups (measured 506/2000 part keys at sf0.01). DAVG now
    carries its own parens, so every composing call site is safe by
    construction; this test pins BOTH facts: the two associations
    really differ on adversarial values, and the macro's expansion
    matches Spark exactly when composed bare."""
    import duckdb as _duck

    from orderly_spark.registry import DAVG, davg

    # 20 rows of 24.0 (the real sf0.01 partkey-6 shape): S=480, C=20.
    # 0.2*480.0 == 96.0 exactly, so (0.2*S)/C == 4.8, while
    # 0.2*(S/C) == 0.2*24.0 == 4.800000000000001 — one ulp apart.
    rows = [(1, 24.0)] * 20
    con = _duck.connect()
    con.execute("CREATE TABLE t (g BIGINT, x DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    # the macro self-parenthesizes: composing it bare is now safe
    composed = con.execute(f"SELECT 0.2 * {DAVG('x')} FROM t GROUP BY g").fetchone()[0]
    inner = DAVG("x")
    assert inner.startswith("(") and inner.endswith(")")
    # the hazard the parens prevent is real at the ulp level
    reassoc = con.execute(
        f"SELECT 0.2 * CAST(SUM(CAST((x) AS DECIMAL(38,6))) AS DOUBLE) / COUNT(x) "
        "FROM t GROUP BY g"
    ).fetchone()[0]
    assert composed != reassoc
    sdf = spark.createDataFrame(rows, "g long, x double")
    got = sdf.groupBy("g").agg((F.lit(0.2) * davg("x")).alias("v")).collect()[0]["v"]
    assert got == composed  # Spark's 0.2*avg == the self-parenthesized macro
    # and the live q17 oracle composes the macro bare (no manual parens)
    import orderly_spark.queries  # noqa: F401
    from orderly_spark.registry import REGISTRY

    assert f"0.2 * {DAVG('l_quantity')}" in REGISTRY["q17_small_quantity_revenue"].oracle


def test_is_number_python_semantics_three_way():
    """is_number must follow Python int()/float() rules: Spark's
    cast accepts the Java-isms '1d'/'2.5f'/
    '0x1p3' that Python and DuckDB reject. Pin all three surfaces —
    the Column fn, the Spark-SQL registry fn, and DuckDB TRY_CAST
    (the oracle side) — against Python's own verdict."""
    import duckdb as _duck

    from pyspark.sql import SparkSession

    from orderly_spark.functions.rxn import is_number
    from orderly_spark.functions.sql_registry import register_sql_functions

    spark = SparkSession.getActiveSession() or SparkSession.builder.master("local[2]").getOrCreate()
    register_sql_functions(spark)
    vals = [
        "1d", "2.5f", "0x1p3", "1D", "3F", "1e5d",       # Java-only → NOT numbers
        "inf", "INF", "-inf", "nan", "Infinity",          # Python-valid
        " 1 ", "1e5", ".5", "5.", "+.5e-3",               # Python-valid
        "1_000", "1_000.5",                                # underscore sandwich OK
        "1_", "_1", "1__0", "1_000d",                      # bad underscore / suffix
        "CC", "", "2d5",                                   # plain non-numbers
    ]

    def py_ok(s):
        for conv in (int, float):
            try:
                conv(s)
                return True
            except ValueError:
                pass
        return False

    want = {v: py_ok(v) for v in vals}
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    got_fn = {r.v: r.ok for r in df.select("v", F.expr(is_number("v")).alias("ok")).collect()}
    assert got_fn == want
    df.createOrReplaceTempView("__isnum_t")
    got_sql = {
        r.v: r.ok
        for r in spark.sql("SELECT v, is_number(v) AS ok FROM __isnum_t").collect()
    }
    assert got_sql == want
    spark.catalog.dropTempView("__isnum_t")
    con = _duck.connect()
    for v in vals:
        duck_plain = con.execute(
            "SELECT TRY_CAST(? AS DOUBLE) IS NOT NULL", [v]
        ).fetchone()[0]
        if "_" not in v and v.strip():
            # on underscore-free inputs the oracle-side raw TRY_CAST
            # must already agree with Python (underscores go through
            # the sandwich-rule rewrite in oracles that need it)
            assert duck_plain == want[v], v


def test_int8_quantize_and_integer_dot_twins(spark):
    """The int8-absmax quantization + integer dot pair behind
    s_quantized_cosine_topk, on adversarial vectors: all-zero (the
    amax=0 branch), sign mixes, tiny/huge magnitudes, and the exact
    ±127 saturation points. The Spark quantizer restates the query's
    fn-local closure verbatim; the integer dot is the shared
    clustering._idot, and the SQL side IS the live oracle generator."""
    from orderly_spark.operators.clustering import IDOT_SQL, _idot
    from orderly_spark.queries.similarity_battery import _quant_sql

    vecs = [
        (0, [0.0, 0.0, 0.0], [0.0, 0.0, 0.0]),
        (1, [1.0, -1.0, 0.5], [0.5, 0.25, -0.125]),
        (2, [1e-8, -1e-8, 1e-8], [1e8, -1e8, 1e8]),
        (3, [127.0, -127.0, 63.5], [1.0, 1.0, 1.0]),
        (4, [0.3, 0.6, -0.9], [-0.3, -0.6, 0.9]),
    ]
    sdf = spark.createDataFrame(vecs, "i long, a array<double>, b array<double>")

    def quant(vec):
        amax = F.array_max(F.transform(vec, lambda x: F.abs(x.cast("double"))))
        scaled = F.transform(
            vec, lambda x: F.floor(x.cast("double") * (F.lit(127.0) / amax)).cast("long")
        )
        zeros = F.transform(vec, lambda x: F.lit(0).cast("long"))
        return F.when(amax > 0, scaled).otherwise(zeros)

    got = {
        r["i"]: (r["qa"], r["qb"], r["d"])
        for r in sdf.select(
            "i",
            quant(F.col("a")).alias("qa"),
            quant(F.col("b")).alias("qb"),
            _idot(quant(F.col("a")), quant(F.col("b"))).alias("d"),
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i BIGINT, a DOUBLE[], b DOUBLE[])")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", vecs)
    want = {
        i: (qa, qb, d)
        for i, qa, qb, d in con.execute(
            f"""SELECT i, {_quant_sql('a')}, {_quant_sql('b')},
                   {IDOT_SQL(_quant_sql('a'), _quant_sql('b'))}
            FROM t"""
        ).fetchall()
    }
    assert got == want
    assert got[0] == ([0, 0, 0], [0, 0, 0], 0)  # amax=0 branch, both sides


def test_theta_hash_and_bloom_position_twins(spark):
    """The 48-bit theta-sketch hash (conv(md5,16,10) ↔ _HEX2BIG
    positional sum) and the bloom bit positions (_HEX2BIG(·,8) %
    m) on boundary keys — 0, 1, huge ints — pinning the base-16
    parse agreement the sketch/bloom gates stand on."""
    from orderly_spark.queries.lakehouse_battery import _theta_hash_sql
    from orderly_spark.queries.relational import _BLOOM_M, _bloom_pos_sql

    keys = [(0,), (1,), (42,), (999_999_999,), (2**31 - 1,), (123456789012345,)]
    sdf = spark.createDataFrame(keys, "k long")
    th = F.conv(
        F.substring(F.md5(F.concat(F.lit("th:"), F.col("k").cast("string"))), 1, 12),
        16,
        10,
    ).cast("long")
    positions = [
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{i}:"), F.col("k").cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % _BLOOM_M
        for i in range(2)
    ]
    got = {
        r["k"]: (r["h"], r["p0"], r["p1"])
        for r in sdf.select(
            "k", th.alias("h"), positions[0].alias("p0"), positions[1].alias("p1")
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (k BIGINT)")
    con.executemany("INSERT INTO t VALUES (?)", keys)
    want = {
        k: (h, p0, p1)
        for k, h, p0, p1 in con.execute(
            f"""SELECT k, {_theta_hash_sql('k')},
                   {_bloom_pos_sql('k', 0)}, {_bloom_pos_sql('k', 1)}
            FROM t"""
        ).fetchall()
    }
    assert got == want
    assert all(0 <= p < _BLOOM_M for _, p0, p1 in got.values() for p in (p0, p1))
    assert all(0 <= h < 2**48 for h, _, _ in got.values())
