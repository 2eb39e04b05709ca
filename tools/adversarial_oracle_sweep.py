"""Adversarial ORACLE sweep (NINE corpora): rebuild hostile tables
from a hostile-string corpus and run the full Spark↔DuckDB comparator
over it — unlike the degenerate-input sweep (which only checks that
queries RUN), this checks that both engines still AGREE on values.

Corpus alphabet: quoting/escape characters (quotes, backslashes,
semicolons, tabs, newlines, SQL-injection shapes), accented Latin,
CJK, Cyrillic, emoji (incl. ZWJ/skin-tone), combining marks, NBSP and
U+3000 (pinned as punctuation on both twins), mixed case and
numerics, plus empty / whitespace-only documents. EXCLUDED by
construction: \\x0B and the Turkish dotted İ — the two documented
engine divergences, each pinned in tests/test_expression_twins.py.

First run found three real gaps (all fixed + re-verified at the
driver scales):
- DuckDB array_to_string([]) is NULL vs Spark concat_ws '' — empty/
  whitespace-only docs vanished from COUNT(DISTINCT) in
  d_exact_dup_stats and NULLed t_minhash_fingerprints' fingerprint;
- DuckDB 1.0.0 re-casts a BLOB carried through an unnest projection
  via its VARCHAR rendering, exploding on non-ASCII bytes
  (mm_frame_sampling's oracle now hexes BEFORE the unnest).

Sibling corpora built by the same run (same comparator command with
the matching ORACLE_SF):
- /tmp/sf_dup  — 100%-duplicate documents (dedup-denominator stress;
  first run: 211/211, clean negative).
- /tmp/sf_neg  — corrupt numerics in lineitem (zero/negative
  quantities and prices; first run found q2's unit-price division:
  Spark's ANSI divide threw on zero quantity while DuckDB silently
  produced inf — both twins now NULL such lines via
  try_divide/NULLIF).
- /tmp/sf_evt  — adversarial EVENTS: clock skew
  (timestamps shuffled out of ingest order), heavy duplicate
  timestamps (ties in every window/session/asof path), epoch-boundary
  rows (1970-01-01 00:00:00.000000 and .999999 microsecond edges,
  pre-epoch 1969 rows), hostile props JSON (empty/garbage/nested —
  the props-raise class), negative and re-used user_ids, ±0.0 and
  large (in-envelope) event values.
  First run found ONE real twin gap, fixed: w_hopping_window_counts'
  oracle used DuckDB's toward-zero '//' where Spark's window() floor-
  aligns — pre-epoch rows landed in the wrong hop (now a floor-safe
  CASE in the oracle). EXPECTED-DIVERGENCE LEDGER for this corpus
  (exactly these, nothing else):
    s_stream_dedup_ingest, s_stream_outer_attribution,
    s_stream_full_outer_attribution
  — Spark initializes the stateful-streaming event-time watermark at
  EPOCH 0, so rows with unix_micros(ts) ≤ 0 (ts ≤
  1970-01-01 00:00:00.000000) are late-by-birth and dropped by every
  watermarked stateful operator while the batch oracle keeps them
  (verified on this corpus: missing id set ≡ that predicate, 270/270;
  pinned by
  tests/test_streaming.py::test_watermark_init_drops_at_or_pre_epoch_rows).
  Engine envelope, not a twin bug: stateful streaming event times
  must be strictly after epoch second 0.
    ORACLE_SF=/tmp/sf_evt python -m pytest tests/test_oracle.py -q \\
      --deselect tests/test_oracle.py::test_oracle_match[s_stream_dedup_ingest] \\
      --deselect tests/test_oracle.py::test_oracle_match[s_stream_outer_attribution] \\
      --deselect "tests/test_oracle.py::test_oracle_match[s_stream_full_outer_attribution]"
- /tmp/sf_rel  — adversarial RELATIONAL: the seven TPC-H-ish
  tables rebuilt with dangling FKs, duplicate PKs, NULLs in
  aggregable/ordering columns, boundary dates (epoch/1969/leap-day/
  2250), hostile strings, case/whitespace flag variants, and
  extreme-but-in-envelope numerics (see build_relational).
  First run: 210/213, THREE real twin gaps, all fixed + re-verified
  at both driver scales and on every corpus:
  - w_ntile_balance_quartiles: Spark ASC = NULLS FIRST vs DuckDB
    ASC = NULLS LAST — a NULL c_acctbal shifted quartile membership;
    both twins now pin NULLS FIRST explicitly.
  - x_ord_scan_prune_decode: fixture files keyed on n_nationkey —
    a DUPLICATE nation key silently overwrote its own file on the
    Spark side while the oracle's CTE counted the row twice; both
    sides now key on the DISTINCT key set.
  - a_variance_by_segment: a ±8.9e6 balance broke the documented
    second-moment envelope (Σx²·10⁴ < 2⁵³ for the exact
    decimal→double downcast) — s2 drifted ~4e2 between engines.
    Pinned ceiling, not a twin bug: the corpus keeps extremes at
    ±9e4 (the dsum-cap precedent) and the envelope is now stated
    with numbers in the query docstring.
- /tmp/sf_stream — hostile STREAMING events (the NINTH corpus):
  post-epoch-only hostile events the stateful-streaming queries CAN
  legitimately run on — watermark-frontier exact ties (±10ms + the
  exact tie, on BOTH outer-join expiry rules), attribution-horizon
  exact ties, duplicate event_ids (full-row + same-id re-emissions),
  session-gap exact ties, tumbling-window edges, a 150-row same-tick
  burst (see build_stream_events). Runs with ZERO deselects — the
  point of the corpus: the three sf_evt deselects are pre-epoch-only
  envelopes, so every sf_stream divergence is a real twin gap.
  First run found THREE real issues:
  - s_session_windows ORACLE TWIN GAP (fixed + regraded): Spark's
    session_window MERGES an event landing exactly at the previous
    session's end (next_ts <= prev_end coalesces); the oracle's
    new-session flag used >= — invisible on µs-noisy testdata, caught
    by the exact-tie session runs, fixed to strict > (pinned by
    tests/test_streaming.py::test_session_window_exact_gap_boundary).
  - asof_nearest_click ORACLE TWIN GAP (fixed + regraded): the
    oracle recombined its two directional ASOF passes with
    b JOIN f USING (event_id), fanning out 2x2 on duplicate view
    event_ids while the as-of contract (and the Spark side) emits one
    row per LEFT INPUT ROW; recombined on a synthetic per-row key.
  - outer-join expiry frontier is MILLISECOND-granular and
    conservative: a click/purchase 1µs inside the frontier is HELD
    while 10ms inside emits (engine envelope, pinned by
    test_outer_join_frontier_is_ms_conservative) — the corpus probes
    at ±10ms accordingly.
  The three sf_evt deselects stay re-justified AS pre-epoch
  envelopes: they apply to sf_evt/sf_all only, never here.
- /tmp/sf_emb  — adversarial EMBEDDINGS: denormal components
  (±1e-40), ±0.0, huge magnitudes (±1e30), all-zero vectors (norm 0 —
  the cosine-division edge), NULL vectors (the trainer-filter
  regression check), constant vectors. Dimensions stay 64 — a
  ragged-width table is a schema violation upstream ingest must
  reject, not an operator input (documented ceiling).

- /tmp/sf_all  — EVERYTHING HOSTILE AT ONCE: documents
  from sf_adv, events from sf_evt, embeddings from sf_emb, the seven
  relational tables from sf_rel — the cross-table interaction run
  (queries that JOIN hostile documents against hostile orders, etc.).
  Run with the three ledgered streaming deselects (hostile events ⇒
  the pre-epoch watermark contract applies, same as sf_evt).
  First run: 210/210 clean — no interaction-only gaps.

Usage:
    python tools/adversarial_oracle_sweep.py   # builds all NINE corpora
    ORACLE_SF=/tmp/sf_adv python -m pytest tests/test_oracle.py -q
"""

from __future__ import annotations

import os
import random
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SEED = 99
N_DOCS = 300
FRAG_POOLS = [
    ["it's", 'say "hi"', "back\\slash", "semi;colon", "tab\there", "line\nbreak", "null'); DROP--"],
    ["naïve", "Müller", "café", "über", "señor"],
    ["東京", "データ", "漢字テスト", "中文分词"],
    ["привет", "мир", "тест"],
    ["🚀", "👍🏽", "héllo🌍"],
    ["éclair", "àpropos"],  # combining marks (NFD-style sequences)
    ["non breaking", "wide　space"],
    ["MiXeD", "UPPER", "lower", "123", "42.5", "-7"],
]


def build(dst: str = "/tmp/sf_adv") -> None:
    import duckdb

    os.makedirs(dst, exist_ok=True)
    for t in "region nation customer supplier part orders lineitem events embeddings".split():
        shutil.copy(f"/root/testdata/sf0.001/{t}.parquet", f"{dst}/{t}.parquet")
    rng = random.Random(SEED)
    rows = []
    for i in range(N_DOCS):
        n = rng.randint(0, 25)
        words = [rng.choice(rng.choice(FRAG_POOLS)) for _ in range(n)]
        text = " ".join(words) if words else rng.choice(["", " ", "   "])
        rows.append((i, text, rng.choice(["en", "es", "de", "ja"]), f"src{i % 7}", len(text)))
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE d (doc_id BIGINT, text VARCHAR, lang VARCHAR, source VARCHAR, n_chars BIGINT)"
    )
    con.executemany("INSERT INTO d VALUES (?,?,?,?,?)", rows)
    con.execute(f"COPY d TO '{dst}/documents.parquet' (FORMAT PARQUET)")
    print(f"wrote {N_DOCS} adversarial documents to {dst}; now run:")
    print(f"  ORACLE_SF={dst} python -m pytest tests/test_oracle.py -q")


def build_siblings() -> None:
    import duckdb

    con = duckdb.connect()
    for dst in ("/tmp/sf_dup", "/tmp/sf_neg"):
        os.makedirs(dst, exist_ok=True)
        for t in "region nation customer supplier part orders events documents embeddings lineitem".split():
            shutil.copy(f"/root/testdata/sf0.001/{t}.parquet", f"{dst}/{t}.parquet")
    con.execute(
        """COPY (SELECT doc_id,
             'the same exact boilerplate document text repeated everywhere for dedup stress' AS text,
             'en' AS lang, 'src0' AS source, 78 AS n_chars
           FROM '/root/testdata/sf0.001/documents.parquet')
           TO '/tmp/sf_dup/documents.parquet' (FORMAT PARQUET)"""
    )
    con.execute(
        """COPY (SELECT * REPLACE (
             CASE WHEN l_orderkey % 5 = 0 THEN 0.0
                  WHEN l_orderkey % 11 = 0 THEN -l_quantity ELSE l_quantity END AS l_quantity,
             CASE WHEN l_orderkey % 7 = 0 THEN -l_extendedprice ELSE l_extendedprice END AS l_extendedprice)
           FROM '/root/testdata/sf0.001/lineitem.parquet')
           TO '/tmp/sf_neg/lineitem.parquet' (FORMAT PARQUET)"""
    )
    print("wrote /tmp/sf_dup (100%-duplicate docs) and /tmp/sf_neg (corrupt numerics)")


def build_events(dst: str = "/tmp/sf_evt") -> None:
    """Adversarial events corpus: every other table copied from
    sf0.001; events rebuilt with the hostile timestamp/props/value mix
    from the module docstring. Same row count class as the original so
    window/session queries exercise their real paths."""
    import datetime as dt

    import duckdb

    os.makedirs(dst, exist_ok=True)
    for t in "region nation customer supplier part orders lineitem documents embeddings".split():
        shutil.copy(f"/root/testdata/sf0.001/{t}.parquet", f"{dst}/{t}.parquet")
    rng = random.Random(SEED + 1)
    # The WHOLE corpus lives in a ~4-day window AROUND THE EPOCH
    # (1969-12-31 .. 1970-01-04): negative-epoch rows, microsecond
    # edges, duplicate ticks, and ±1-day clock skew all inside every
    # streaming watermark horizon. The first design mixed 2024 and
    # 1969 timestamps — a 55-YEAR event-time span that only reproduced
    # the DOCUMENTED streaming contract (data later than the watermark
    # horizon is dropped: s_stream_dedup_ingest's "horizon-covering
    # watermark" and the attribution joins' frontier both say so), not
    # a twin gap. Extreme-lateness drop semantics are the streaming
    # family's pinned operating envelope, not a target of this sweep.
    base = dt.datetime(1970, 1, 2)
    props_pool = [
        '{"k": 87}', '{"k": 0}', "", "not json", "{}", "null", "[1,2]",
        '{"k": {"nested": true}}', '{"k": -1, "extra": "x"}', None,
    ]
    types = ["error", "signup", "click", "view", "", "ERROR", "click\ttab"]
    rows = []
    n = 1200
    for i in range(n):
        bucket = i % 6
        if bucket == 0:  # clock skew: timestamps jump backwards (incl. pre-epoch)
            ts = base + dt.timedelta(seconds=rng.randint(-86400 * 2, 86400))
        elif bucket == 1:  # duplicate timestamps: 200 events on one tick
            ts = base + dt.timedelta(hours=1)
        elif bucket == 2:  # epoch boundary + microsecond edges
            ts = [
                dt.datetime(1970, 1, 1, 0, 0, 0, 0),
                dt.datetime(1970, 1, 1, 0, 0, 0, 999999),
                dt.datetime(1969, 12, 31, 23, 59, 59, 1),
                dt.datetime(1970, 1, 3, 23, 59, 59, 999999),
            ][i % 4]
        else:  # in-range but dense (session/window churn)
            ts = base + dt.timedelta(seconds=i * 37 % 7200, microseconds=i % 3)
        # magnitudes stay INSIDE the documented numeric envelopes so
        # the sweep surfaces NEW classes, not the pinned ceilings:
        # ±1e18 reproduced the DROUND/DBROUND DECIMAL(38,20) LOUD
        # ConversionException on every conversion-rounding oracle, and
        # ±1e12 reproduced the dsum |sum|·10⁶ < 2⁵³ double-rounding
        # ceiling (registry.py dsum docstring) on the value-sum
        # queries — both ceilings working as designed, each already
        # pinned by its own test. ±1e6 keeps Σvalue under ~9·10⁹.
        val = [185.22, 0.0, -0.0, 1e6, -1e6, 0.5][i % 6]
        rows.append(
            (i, ts, rng.choice([13, -1, 0, 13, 13, 999999]), types[i % len(types)],
             val, props_pool[i % len(props_pool)])
        )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE e (event_id BIGINT, ts TIMESTAMP, user_id BIGINT,"
        " event_type VARCHAR, value DOUBLE, props VARCHAR)"
    )
    con.executemany("INSERT INTO e VALUES (?,?,?,?,?,?)", rows)
    con.execute(f"COPY e TO '{dst}/events.parquet' (FORMAT PARQUET)")
    print(f"wrote {n} adversarial events to {dst}")


def build_stream_events(dst: str = "/tmp/sf_stream") -> None:
    """NINTH corpus: hostile STREAMING events the
    stateful-streaming queries CAN legitimately run on — every
    timestamp strictly post-epoch (the sf_evt deselects exist ONLY
    because pre-epoch rows are late-by-birth against Spark's epoch-0
    watermark init; that envelope doesn't apply here), so the sweep
    runs with ZERO deselects and any divergence is a real twin gap.

    Hostile classes, all inside the streaming operators' documented
    envelopes:
    - watermark-frontier EXACT ties for the outer/full-outer
      attribution joins: sentinel rows pin max(click_ts) and
      max(purchase_ts), hence the frontier wm = min(max_c, max_p) - 1h
      EXACTLY; unmatched clicks sit at click_ts + 30min ∈
      {wm - 10ms, wm, wm + 10ms} and unmatched purchases at
      p_ts ∈ {wm - 10ms, wm, wm + 10ms} — probing the emit/hold
      boundary on both expiry rules (strict-< in the oracles).
      ±10ms, NOT ±1µs: the expiry frontier is MILLISECOND-granular and
      conservative (a 1µs-inside row is held — engine envelope, pinned
      by tests/test_streaming.py::
      test_outer_join_frontier_is_ms_conservative);
    - attribution-horizon exact ties: purchase at click_ts (equal),
      click_ts + 30min (inclusive edge), click_ts + 30min + 1µs (just
      outside);
    - duplicate event_ids: full-row duplicates AND same-id/same-type
      re-emissions 1 min apart (dedup state must collapse both; the
      emitted (event_id, event_type) projection is order-independent);
    - session-gap exact ties: per-user event runs with consecutive
      gaps of exactly 30 min (SAME session — the exact boundary
      merges, strict-> splits) and 30 min + 1µs (new session — the
      split side of the boundary, which -1µs runs would not probe);
    - tumbling-window edges: rows at hh:00:00.000000 and
      hh:59:59.999999, plus a 150-row same-tick burst;
    - the sf_evt hostile props/type/value pools (post-epoch rows only).
    """
    import datetime as dt

    import duckdb

    os.makedirs(dst, exist_ok=True)
    for t in "region nation customer supplier part orders lineitem documents embeddings".split():
        shutil.copy(f"/root/testdata/sf0.001/{t}.parquet", f"{dst}/{t}.parquet")
    rng = random.Random(SEED + 8)
    base = dt.datetime(1970, 1, 2, 0, 0, 0)
    props_pool = [
        '{"k": 87}', '{"k": 0}', "", "not json", "{}", "null", "[1,2]",
        '{"k": {"nested": true}}', '{"k": -1, "extra": "x"}', None,
    ]
    types = ["error", "signup", "click", "view", "", "ERROR", "purchase"]
    rows: list[tuple] = []
    eid = 0

    def add(ts, user, etype, val=185.22, props='{"k": 87}', *, dup_id=None):
        nonlocal eid
        i = dup_id if dup_id is not None else eid
        rows.append((i, ts, user, etype, val, props))
        if dup_id is None:
            eid += 1
        return i

    # --- frontier sentinels: pin max click / max purchase exactly ---
    max_c = dt.datetime(1970, 1, 4, 12, 0, 0)
    max_p = dt.datetime(1970, 1, 4, 13, 0, 0)
    add(max_c, 9000, "click")
    add(max_p, 9000, "purchase", 10.0)
    wm = min(max_c, max_p) - dt.timedelta(hours=1)  # 1970-01-04 11:00
    ms10 = dt.timedelta(milliseconds=10)
    us = dt.timedelta(microseconds=1)
    half = dt.timedelta(minutes=30)
    # unmatched clicks around the left-expiry frontier (click+30m vs wm)
    add(wm - half - ms10, 9001, "click")  # emits null-extended
    add(wm - half, 9002, "click")         # EXACT tie — held (strict <)
    add(wm - half + ms10, 9003, "click")  # stays in state
    # unmatched purchases around the right-expiry frontier (p_ts vs wm)
    add(wm - ms10, 9004, "purchase", 20.0)  # emits null-extended
    add(wm, 9005, "purchase", 21.0)         # EXACT tie — held (strict <)
    add(wm + ms10, 9006, "purchase", 22.0)  # stays in state
    # --- attribution-horizon exact ties (matched-pair boundary) ---
    for k, (off, label) in enumerate(
        [(dt.timedelta(0), "equal"), (half, "edge"), (half + us, "outside"),
         (-us, "before")]
    ):
        u = 9100 + k
        c_ts = base + dt.timedelta(hours=k)
        add(c_ts, u, "click")
        add(c_ts + off, u, "purchase", 30.0 + k)
    # --- duplicate ids: full-row dups + same-id re-emission 1 min on ---
    for k in range(40):
        u = 100 + k % 7
        ts = base + dt.timedelta(minutes=5 * k)
        i = add(ts, u, "click" if k % 2 else "view")
        if k % 3 == 0:
            add(ts, u, "click" if k % 2 else "view", dup_id=i)  # full-row dup
        else:
            add(ts + dt.timedelta(minutes=1), u,
                "click" if k % 2 else "view", dup_id=i)  # same id, later ts
    # --- session-gap exact ties ---
    for k in range(12):
        u = 200 + k % 4
        t0 = base + dt.timedelta(hours=6 + k)
        gap = dt.timedelta(minutes=30) if k % 2 == 0 else dt.timedelta(minutes=30) + us
        add(t0, u, "view", 1.0)
        add(t0 + gap, u, "view", 2.0)
        add(t0 + 2 * gap, u, "view", 3.0)
    # --- tumbling-window edges + same-tick burst ---
    for k in range(24):
        h = base + dt.timedelta(hours=30 + k)
        add(h, 300 + k % 5, types[k % len(types)], 0.0)
        add(h + dt.timedelta(minutes=59, seconds=59, microseconds=999999),
            300 + k % 5, types[(k + 1) % len(types)], -0.0)
    burst_ts = base + dt.timedelta(hours=60)
    for k in range(150):
        add(burst_ts, 400, "click" if k % 4 else "purchase",
            [185.22, 0.0, -0.0, 1e6, -1e6, 0.5][k % 6],
            props_pool[k % len(props_pool)])
    # --- dense filler with full hostile props/type mix (post-epoch) ---
    for k in range(700):
        ts = base + dt.timedelta(seconds=(k * 997) % (86400 * 2),
                                 microseconds=k % 3)
        add(ts, rng.choice([13, -1, 0, 13, 999999, 101, 102]),
            types[k % len(types)],
            [185.22, 0.0, -0.0, 1e6, -1e6, 0.5][k % 6],
            props_pool[k % len(props_pool)])
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE e (event_id BIGINT, ts TIMESTAMP, user_id BIGINT,"
        " event_type VARCHAR, value DOUBLE, props VARCHAR)"
    )
    con.executemany("INSERT INTO e VALUES (?,?,?,?,?,?)", rows)
    assert con.execute("SELECT MIN(ts) FROM e").fetchone()[0] > dt.datetime(1970, 1, 1)
    con.execute(f"COPY e TO '{dst}/events.parquet' (FORMAT PARQUET)")
    print(f"wrote {len(rows)} post-epoch hostile streaming events to {dst}")


def build_embeddings(dst: str = "/tmp/sf_emb") -> None:
    """Adversarial embeddings corpus: 64-dim vectors with
    denormals, ±0.0, huge magnitudes, all-zero vectors, constant
    vectors, and NULL vectors (the trainer-filter class)."""
    import duckdb

    os.makedirs(dst, exist_ok=True)
    for t in "region nation customer supplier part orders lineitem documents events".split():
        shutil.copy(f"/root/testdata/sf0.001/{t}.parquet", f"{dst}/{t}.parquet")
    rng = random.Random(SEED + 2)
    dim = 64
    rows = []
    n = 400
    for i in range(n):
        bucket = i % 8
        if bucket == 0:
            vec = None  # NULL vector — trainers must filter, not crash
        elif bucket == 1:
            vec = [0.0] * dim  # zero norm — the cosine-division edge
        elif bucket == 2:
            vec = [(-1.0) ** j * 1e-40 for j in range(dim)]  # denormals
        elif bucket == 3:
            # large but INSIDE the trainers' int64 fixed-point envelope
            # (the squared-distance arithmetic bounds |v| by
            # sqrt(2^63/dim)/2^(scale_bits+1) ≈ 180 at dim 64,
            # scale_bits 20): the first run used ±1e30 and reproduced
            # the envelope's LOUD ANSI ARITHMETIC_OVERFLOW on every
            # quantizing trainer — the designed out-of-envelope
            # behaviour (a job abort on corrupt 1e30 embeddings, not
            # silent garbage), pinned by tests/test_clustering.py::
            # test_trainer_envelope_overflows_loudly. ±50 keeps
            # magnitude stress in-contract (170x the normal corpus).
            vec = [(-1.0) ** j * 50.0 for j in range(dim)]
        elif bucket == 4:
            vec = [0.0 if j % 2 == 0 else -0.0 for j in range(dim)]  # ±0.0
        elif bucket == 5:
            vec = [1.0] * dim  # constant
        else:
            vec = [rng.uniform(-0.3, 0.3) for _ in range(dim)]  # plain
        rows.append((i, vec, i % 11))
    con = duckdb.connect()
    con.execute("CREATE TABLE m (vec_id BIGINT, embedding FLOAT[], label INTEGER)")
    con.executemany("INSERT INTO m VALUES (?,?,?)", rows)
    con.execute(f"COPY m TO '{dst}/embeddings.parquet' (FORMAT PARQUET)")
    print(f"wrote {n} adversarial embeddings to {dst}")


def build_relational(dst: str = "/tmp/sf_rel") -> None:
    """Adversarial RELATIONAL corpus: the seven TPC-H-ish tables
    rebuilt with the hostile-warehouse mix; documents/events/embeddings
    copied unchanged. Targets the twin-discipline surfaces the other
    corpora cannot reach:

    - DANGLING FOREIGN KEYS (orders→customer, lineitem→part/supplier,
      nation→region): inner joins must drop them on BOTH engines,
      outer joins must NULL them identically — at 100 TB referential
      integrity is a hope, not a guarantee.
    - DUPLICATE PRIMARY KEYS (o_orderkey, (l_orderkey, l_linenumber)):
      joins fan out; any query whose rank/limit frontier silently
      assumed key uniqueness for its deterministic total order
      diverges here.
    - NULLs IN AGGREGABLE/ORDERING COLUMNS (c_acctbal, o_totalprice,
      p_retailprice, l_discount, l_tax, l_shipdate): SUM/AVG skip
      NULLs identically, but Spark ASC = NULLS FIRST while DuckDB
      ASC = NULLS LAST — every rank/row_number/limit over a nullable
      key without an explicit IS-NULL-stable order diverges.
    - BOUNDARY DATES (epoch, pre-epoch 1969, leap day 2000-02-29,
      far-future 2250 — inside the pandas ns range so Arrow paths
      stay exercisable) and CASE/WHITESPACE variants in flag columns
      (group-by cardinality stress).
    - EXTREME-BUT-IN-ENVELOPE numerics (±8.9e6 prices, zero/negative
      sizes): the dsum |sum|·10⁶ < 2⁵³ ceiling stays respected so the
      sweep surfaces NEW classes, not the pinned ones.
    """
    import duckdb

    os.makedirs(dst, exist_ok=True)
    for t in "documents events embeddings".split():
        shutil.copy(f"/root/testdata/sf0.001/{t}.parquet", f"{dst}/{t}.parquet")
    con = duckdb.connect()
    src = "/root/testdata/sf0.001"
    # hostile string pool as SQL literals (the two documented excluded
    # characters — \x0B and Turkish İ — stay excluded by construction)
    con.execute(
        f"""COPY (SELECT * REPLACE (
              CASE r_regionkey % 5 WHEN 0 THEN 'ASIA  '      -- trailing blanks
                   WHEN 1 THEN ''                            -- empty name
                   WHEN 2 THEN 'af''rica; DROP--'            -- quoting
                   ELSE r_name END AS r_name)
            FROM '{src}/region.parquet')
            TO '{dst}/region.parquet' (FORMAT PARQUET)"""
    )
    con.execute(
        f"""COPY (SELECT * FROM (
              SELECT * REPLACE (
                CASE n_nationkey % 7 WHEN 0 THEN '東京国'
                     WHEN 1 THEN 'naïve land'
                     WHEN 2 THEN 'tab\there'
                     ELSE n_name END AS n_name)
              FROM '{src}/nation.parquet'
              UNION ALL  -- dangling region FK + duplicate nation key
              SELECT 24, 'limbo🌍', 99
              UNION ALL SELECT 3, 'CANADA', 1))
            TO '{dst}/nation.parquet' (FORMAT PARQUET)"""
    )
    con.execute(
        f"""COPY (SELECT * REPLACE (
              CASE c_custkey % 13 WHEN 0 THEN 'Müller & Söhne'
                   WHEN 1 THEN '' WHEN 2 THEN 'O''Brien\nLtd'
                   ELSE c_name END AS c_name,
              -- extreme balance stays INSIDE the second-moment
              -- envelope (a_variance_by_segment computes Σx² in
              -- DECIMAL and downcasts at scale 4, so Σx²·10⁴ must
              -- stay < 2⁵³ for the int→double conversion to be exact
              -- on both engines; the first run used ±8.9e6 and its
              -- ~8e13 square broke that silently — a documented
              -- ceiling of the exact-decimal-moment trick, same
              -- precedent as the events corpus' dsum cap)
              CASE WHEN c_custkey % 41 = 0 THEN NULL
                   WHEN c_custkey % 43 = 0 THEN -89999.99
                   WHEN c_custkey % 47 = 0 THEN 0.0
                   ELSE c_acctbal END AS c_acctbal,
              CASE c_custkey % 17 WHEN 0 THEN 'bu ilding'  -- NBSP
                   WHEN 1 THEN 'AUTOMOBILE ' WHEN 2 THEN ''
                   ELSE c_mktsegment END AS c_mktsegment)
            FROM '{src}/customer.parquet')
            TO '{dst}/customer.parquet' (FORMAT PARQUET)"""
    )
    con.execute(
        f"""COPY (SELECT * REPLACE (
              CASE s_suppkey % 5 WHEN 0 THEN 'supplier#''quoted'''
                   WHEN 1 THEN 'Поставщик' ELSE s_name END AS s_name,
              CASE WHEN s_suppkey % 7 = 0 THEN NULL ELSE s_acctbal END AS s_acctbal)
            FROM '{src}/supplier.parquet')
            TO '{dst}/supplier.parquet' (FORMAT PARQUET)"""
    )
    con.execute(
        f"""COPY (SELECT * REPLACE (
              CASE p_partkey % 19 WHEN 0 THEN 'ivory 漢字 brass'
                   WHEN 1 THEN '' WHEN 2 THEN 'semi;colon "x"'
                   ELSE p_name END AS p_name,
              CASE p_partkey % 23 WHEN 0 THEN 'Brand#5 ' WHEN 1 THEN 'brand#5'
                   ELSE p_brand END AS p_brand,
              CASE WHEN p_partkey % 29 = 0 THEN 0
                   WHEN p_partkey % 31 = 0 THEN -3
                   WHEN p_partkey % 37 = 0 THEN 2147483647
                   ELSE p_size END AS p_size,
              CASE WHEN p_partkey % 53 = 0 THEN NULL
                   WHEN p_partkey % 59 = 0 THEN 8999999.99
                   ELSE p_retailprice END AS p_retailprice)
            FROM '{src}/part.parquet')
            TO '{dst}/part.parquet' (FORMAT PARQUET)"""
    )
    con.execute(
        f"""COPY (SELECT * FROM (
              SELECT * REPLACE (
                CASE WHEN o_orderkey % 37 = 0 THEN 900000 + o_custkey  -- dangling
                     ELSE o_custkey END AS o_custkey,
                CASE WHEN o_orderkey % 97 = 0 THEN NULL
                     WHEN o_orderkey % 101 = 0 THEN 0.0
                     WHEN o_orderkey % 103 = 0 THEN 8999999.99
                     ELSE o_totalprice END AS o_totalprice,
                CASE WHEN o_orderkey % 113 = 0 THEN TIMESTAMP '1970-01-01 00:00:00'
                     WHEN o_orderkey % 127 = 0 THEN TIMESTAMP '1969-12-31 23:59:59.000001'
                     WHEN o_orderkey % 131 = 0 THEN TIMESTAMP '2000-02-29 12:00:00'
                     WHEN o_orderkey % 137 = 0 THEN TIMESTAMP '2250-06-01 00:00:00'
                     ELSE o_orderdate END AS o_orderdate,
                CASE o_orderkey % 139 WHEN 0 THEN '1-urgent ' WHEN 1 THEN ''
                     ELSE o_orderpriority END AS o_orderpriority,
                CASE o_orderkey % 149 WHEN 0 THEN 'f' ELSE o_orderstatus END AS o_orderstatus)
              FROM '{src}/orders.parquet'
              UNION ALL  -- duplicate o_orderkey, different payload
              SELECT o_orderkey, o_custkey, 'X', 1.0, o_orderdate, 'dup-row'
              FROM '{src}/orders.parquet' WHERE o_orderkey % 499 = 0))
            TO '{dst}/orders.parquet' (FORMAT PARQUET)"""
    )
    con.execute(
        f"""COPY (SELECT * FROM (
              SELECT * REPLACE (
                CASE WHEN l_orderkey % 61 = 0 THEN 800000 + l_partkey  -- dangling
                     ELSE l_partkey END AS l_partkey,
                CASE WHEN l_orderkey % 67 = 0 THEN 800000 + l_suppkey  -- dangling
                     ELSE l_suppkey END AS l_suppkey,
                CASE WHEN l_orderkey % 71 = 0 THEN NULL ELSE l_discount END AS l_discount,
                CASE WHEN l_orderkey % 73 = 0 THEN NULL ELSE l_tax END AS l_tax,
                CASE WHEN l_orderkey % 79 = 0 THEN NULL
                     WHEN l_orderkey % 83 = 0 THEN TIMESTAMP '1970-01-01 00:00:00'
                     WHEN l_orderkey % 89 = 0 THEN TIMESTAMP '2250-06-01 00:00:00'
                     ELSE l_shipdate END AS l_shipdate,
                CASE l_orderkey % 151 WHEN 0 THEN 'r' WHEN 1 THEN 'R '
                     ELSE l_returnflag END AS l_returnflag,
                CASE l_orderkey % 157 WHEN 0 THEN 'o' ELSE l_linestatus END AS l_linestatus)
              FROM '{src}/lineitem.parquet'
              UNION ALL  -- duplicate (l_orderkey, l_linenumber)
              SELECT * FROM '{src}/lineitem.parquet' WHERE l_orderkey % 503 = 0))
            TO '{dst}/lineitem.parquet' (FORMAT PARQUET)"""
    )
    n = con.execute(f"SELECT count(*) FROM '{dst}/lineitem.parquet'").fetchone()[0]
    print(f"wrote adversarial relational corpus to {dst} (lineitem rows: {n})")


def build_media(dst: str = "/tmp/sf_med") -> None:
    """Adversarial MEDIA/BINARY corpus: the documents table
    rebuilt from media-hostile strings so the mm_* container fixtures
    see every corrupt-wrapper shape through BOTH branches of
    _with_fake_containers — as raw corrupt blobs (every 7th doc) and
    as payloads inside well-formed containers (the rest):

    - container-shaped text: bare magic, truncated headers (no NUL
      terminator), non-JSON headers, JSON-array headers, FULLY VALID
      OSMM containers inside the text (the shape that exposed a
      fixture gap: a 'corrupt-branch' doc whose raw text IS a valid
      container decoded valid on the Spark side while the oracle
      assumed every 7th doc invalid — both twins now corrupt that
      branch by construction with a non-magic prefix byte);
    - poison headers: int32-overflow dims, wrong-typed fields, boolean
      frame counts, 2e9 declared frames over a 3-byte payload (the
      sample_frames cap), deeply nested JSON;
    - payload hostility: embedded NUL bytes (the container separator),
      empty and whitespace-only docs (zero-payload frames), long
      binary-ish runs, non-ASCII payloads (the BLOB-unnest class).

    First run: 213/215 — TWO real twin gaps, both fixed + regraded:
    the fixture gap above (mm_media_meta_decode) and the declared-
    frames DoS/cap (mm_frame_sampling; also hardened _parse_fake to
    reject out-of-int32/wrong-typed header fields instead of dying at
    Arrow conversion).
    """
    import duckdb

    os.makedirs(dst, exist_ok=True)
    for t in "region nation customer supplier part orders lineitem events embeddings".split():
        shutil.copy(f"/root/testdata/sf0.001/{t}.parquet", f"{dst}/{t}.parquet")
    rng = random.Random(SEED + 12)
    valid_container = (
        'OSMM{"height": 2, "media_type": "image", "n_frames": 1, '
        '"sample_rate": 0, "width": 2}\x00payload'
    )
    shapes = [
        "OSMM",                                     # bare magic
        'OSMM{"width": 3',                          # truncated header
        "OSMMnot-json\x00pp",                       # non-JSON header
        "OSMM[1,2,3]\x00pp",                        # JSON, not an object
        'OSMM{"media_type": "image", "width": 99999999999999}\x00pp',
        'OSMM{"media_type": "image", "width": "wide"}\x00pp',
        'OSMM{"n_frames": true}\x00pp',
        'OSMM{"media_type": "video", "n_frames": 2000000000, "width": 2, "height": 2}\x00abc',
        'OSMM{"a": {"b": {"c": {"d": [1, {"e": 2}]}}}}\x00pp',
        valid_container,                            # the fixture-gap shape
        valid_container + valid_container,          # double container
        "payload with\x00embedded NUL bytes",
        "trailing NUL\x00",
        "\x00leading NUL",
        "héllo🌍 non-ascii payload 東京",
        "x" * 400,                                  # long run
        "",                                         # empty payload
        " ",                                        # whitespace-only
        "OSMM\x00",                                 # magic + empty header + no payload
        'OSMM{"media_type": "audio", "sample_rate": -2147483648}\x00pp',
    ]
    rows = []
    for i in range(N_DOCS):
        text = rng.choice(shapes) if rng.random() < 0.8 else " ".join(
            rng.choice(shapes) for _ in range(2)
        )
        rows.append((i, text, rng.choice(["en", "es", "de", "ja"]), f"src{i % 7}", len(text)))
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE d (doc_id BIGINT, text VARCHAR, lang VARCHAR, source VARCHAR, n_chars BIGINT)"
    )
    con.executemany("INSERT INTO d VALUES (?,?,?,?,?)", rows)
    con.execute(f"COPY d TO '{dst}/documents.parquet' (FORMAT PARQUET)")
    print(f"wrote {N_DOCS} media-hostile documents to {dst}; now run:")
    print(f"  ORACLE_SF={dst} python -m pytest tests/test_oracle.py -q")


def build_lakehouse(dst: str = "/tmp/sf_lake") -> None:
    """Hostile LAKEHOUSE state corpus (the TENTH corpus). Targets the
    table-maintenance surfaces, which no other corpus reaches, on the
    tables they actually derive state from; every other table copied
    from sf0.001.
    All envelopes respected by construction (post-epoch timestamps for
    the div-bucketing queries, |value| ≤ 9e4 for the dsum cap,
    whole-second spacing away from sub-ms streaming frontiers).

    EVENTS (merge / compaction / CDC-state / SCD2 / windows):
    - CONCURRENT-MERGE CONFLICTS: the same (user_id, day) present in
      BOTH the base window (< D1) and the reprocess delta (>= D0) with
      values the delta's error-filter recomputes DIFFERENTLY (update
      path under real contention), same-tick ties on MAX(ts)/last_ts,
      and full-row duplicate events;
    - MERGE-cutoff boundary days D0-1/D0/D1-1/D1/D1+1 with timestamps
      at exact midnight .000000 and 23:59:59.999999 day edges (the
      epoch_us div bucketing edge on both engines);
    - TOMBSTONE paths: error-only delta days that DO exist in base
      (true delete) and that DON'T (no-op delete);
    - ALREADY-COMPACTED BINS: hours whose byte estimate sums land at
      exactly the 8192-byte compaction target, target-1 and target+1
      (30x'click' + 124x'view' = 54*30 + 53*124 = 8192 exactly), so
      the greedy prefix-sum bin edges are probed at equality;
    - CONFLICTING SAME-KEY WRITES: rows sharing (event_id, ts) with
      DIFFERENT payloads — what two concurrent writers commit — the
      total-order stress for every latest-state/run-detection twin.

    DOCUMENTS (snapshot diff / checksum / dedup state):
    - DUPLICATE doc_ids (a renamed/re-added file in both snapshots):
      the full-outer diff fans out on both engines identically;
    - negative / zero / 2^40-range doc_ids (modulus classes on
      negatives: C-style remainder on both engines);
    - texts PRE-CONTAINING the ' [rev2]' revision suffix (revision
      idempotence stress), byte-identical texts across different ids
      (cross-doc hash equality), and empty texts.

    ORDERS (incremental-view maintenance — deltas touch EVERY key):
    - one post-1997 insert for EVERY existing customer (no key is
      delta-silent);
    - customers whose ENTIRE base order set is in the delete class
      (o_orderkey % 10 == 0, no inserts) — the view-group drop-out
      (count reaches zero) path;
    - insert-only NEW customers, a boundary order dated exactly
      1997-01-01, and DUPLICATE o_orderkeys inside the delete class
      (the double-commit the view maintains consistently because both
      engines double-count the same signed delta)."""
    import datetime as dt

    import duckdb

    os.makedirs(dst, exist_ok=True)
    for t in "region nation customer supplier part lineitem embeddings".split():
        shutil.copy(f"/root/testdata/sf0.001/{t}.parquet", f"{dst}/{t}.parquet")
    rng = random.Random(SEED + 14)
    con = duckdb.connect()

    # ---- events ----
    D0, D1 = 19732, 19738  # lakehouse_battery._MERGE_D0/_MERGE_D1
    day0 = dt.datetime(1970, 1, 1)
    props_pool = [
        '{"k": 87}', '{"k": 0}', "", "not json", "{}", "null", "[1,2]",
        '{"k": {"nested": true}}', None,
    ]
    rows: list[tuple] = []
    eid = 0

    def add(ts, user, etype, val=10.0, props='{"k": 87}', *, dup_id=None):
        nonlocal eid
        i = dup_id if dup_id is not None else eid
        rows.append((i, ts, user, etype, val, props))
        if dup_id is None:
            eid += 1
        return i

    def day_ts(day, sec=0, us=0):
        return day0 + dt.timedelta(days=day, seconds=sec, microseconds=us)

    # merge-cutoff boundary days with midnight edges, per user
    for k, day in enumerate([D0 - 3, D0 - 1, D0, D1 - 1, D1, D1 + 1]):
        for u in (7001, 7002, 7003):
            add(day_ts(day), u, "click", 11.5)                      # exact midnight
            add(day_ts(day, 86399, 999999), u, "view", 22.25)       # day's last µs
            add(day_ts(day, 3600 * (k + 1)), u, "purchase", 33.0)
    # concurrent-merge conflicts: same (user, day) in base AND delta
    # with error rows the delta filter drops; same-tick MAX(ts) ties
    for u in (7010, 7011):
        for day in (D0, D0 + 2, D1 - 1):
            t0 = day_ts(day, 43200)
            add(t0, u, "click", 5.0)
            add(t0, u, "error", -5.0)     # same tick, filtered by delta
            add(t0, u, "view", 7.0)       # same tick: MAX(ts) tie
            i = add(t0, u, "click", 5.0)
            add(t0, u, "click", 5.0, dup_id=i)  # full-row duplicate
    # tombstones: error-only delta day WITH base presence...
    for day in (D0 + 1, D1 - 2):
        add(day_ts(day, 100), 7020, "error", 1.0)
        add(day_ts(day, 200), 7020, "error", 2.0)
    # ...and error-only day with NO base row (>= D1: no-op tombstone)
    add(day_ts(D1 + 2, 100), 7021, "error", 3.0)
    add(day_ts(D1 + 2, 200), 7021, "error", 4.0)
    # already-compacted bins: hour byte sums at target / ±1
    # est = 40 + len(event_type) + len(props): click+'{"k": 87}' = 54,
    # view+same = 53
    compact_specs = [(30, 124), (29, 125), (31, 123)]  # 8192 / 8191 / 8193
    for h, (n_click, n_view) in enumerate(compact_specs):
        base_t = day_ts(D0 - 20, 3600 * h)
        for j in range(n_click):
            add(base_t + dt.timedelta(seconds=j % 3599), 7030 + h, "click", 1.0)
        for j in range(n_view):
            add(base_t + dt.timedelta(seconds=(7 + j) % 3599), 7030 + h, "view", 2.0)
    # conflicting same-key writes: same (event_id, ts), different payload
    for k in range(30):
        t0 = day_ts(D0 - 10 + k % 5, 7200 + 60 * k)
        i = add(t0, 7040 + k % 3, "click", 1.25)
        add(t0, 7040 + k % 3, "view", 2.5, dup_id=i)       # same id+ts, new type
        add(t0, 7040 + k % 3, "click", 99.0, dup_id=i)     # same id+ts+type, new value
    # dense filler across the merge windows (every path populated)
    for k in range(600):
        day = D0 - 6 + (k % 14)
        add(day_ts(day, (k * 613) % 86400, k % 7),
            7100 + k % 17,
            ["click", "view", "purchase", "signup", "error"][k % 5],
            [10.0, 0.0, -0.0, 9e4, -9e4, 0.5][k % 6],
            props_pool[k % len(props_pool)])
    con.execute(
        "CREATE TABLE e (event_id BIGINT, ts TIMESTAMP, user_id BIGINT,"
        " event_type VARCHAR, value DOUBLE, props VARCHAR)"
    )
    con.executemany("INSERT INTO e VALUES (?,?,?,?,?,?)", rows)
    con.execute(f"COPY e TO '{dst}/events.parquet' (FORMAT PARQUET)")

    # ---- documents ----
    words = ["alpha", "beta", "gamma", "delta", "rollup", "manifest",
             "snapshot", "compact", "merge", "vacuum"]
    drows = []
    shared = "byte identical shared text across ids"
    for i in list(range(-21, 0)) + [0] + list(range(1, 230)) + [2**40 + 3, 2**40 + 5]:
        r = rng.random()
        if r < 0.08:
            text = ""
        elif r < 0.16:
            text = shared
        elif r < 0.28:
            text = " ".join(rng.choice(words) for _ in range(6)) + " [rev2]"
        else:
            text = " ".join(rng.choice(words) for _ in range(rng.randint(1, 20)))
        drows.append((i, text, rng.choice(["en", "es", "de", "ja"]),
                      f"src{i % 5}", len(text)))
    # duplicate doc_ids: the renamed/re-added file in both snapshots
    for i in (4, 9, 15, -7):
        drows.append((i, "renamed twin of doc " + str(i), "en", "srcdup", 21))
    con.execute(
        "CREATE TABLE d (doc_id BIGINT, text VARCHAR, lang VARCHAR,"
        " source VARCHAR, n_chars BIGINT)"
    )
    con.executemany("INSERT INTO d VALUES (?,?,?,?,?)", drows)
    con.execute(f"COPY d TO '{dst}/documents.parquet' (FORMAT PARQUET)")

    # ---- orders ----
    src = "/root/testdata/sf0.001"
    con.execute(
        f"""COPY (
          WITH base AS (SELECT * FROM '{src}/orders.parquet'),
          mx AS (SELECT MAX(o_orderkey) AS mk FROM base)
          SELECT * FROM base
          UNION ALL  -- delta touches EVERY key: one post-1997 insert per customer
          SELECT mk + 1 + row_number() OVER () * 10 + 1, o_custkey, 'O',
                 1234.56, TIMESTAMP '1997-06-15 00:00:00', '3-MEDIUM'
          FROM (SELECT DISTINCT o_custkey FROM base), mx
          UNION ALL  -- drop-out customers: base rows ALL in the delete class
          SELECT 900000 + 10 * s, 90000 + s % 3, 'F', 100.0 * s,
                 TIMESTAMP '1995-03-01 00:00:00' + INTERVAL (s % 9) DAY,
                 '1-URGENT'
          FROM generate_series(1, 9) t(s)
          UNION ALL  -- insert-only NEW customer + exact-boundary date
          SELECT 910001, 90010, 'O', 55.5, TIMESTAMP '1997-01-01 00:00:00',
                 '2-HIGH'
          UNION ALL  -- duplicate o_orderkey INSIDE the delete class
          SELECT 900010, 90001, 'F', 77.0, TIMESTAMP '1995-05-05 00:00:00',
                 '1-URGENT'
        ) TO '{dst}/orders.parquet' (FORMAT PARQUET)"""
    )
    n_e = con.execute(f"SELECT COUNT(*) FROM '{dst}/events.parquet'").fetchone()[0]
    n_d = con.execute(f"SELECT COUNT(*) FROM '{dst}/documents.parquet'").fetchone()[0]
    n_o = con.execute(f"SELECT COUNT(*) FROM '{dst}/orders.parquet'").fetchone()[0]
    print(f"wrote hostile lakehouse corpus to {dst}: "
          f"{n_e} events, {n_d} documents, {n_o} orders; now run:")
    print(f"  ORACLE_SF={dst} python -m pytest tests/test_oracle.py -q")


def hostile_ord_wire_check(root: str = "/tmp/sf_ord_wire", n_base: int = 120) -> None:
    """Hostile ORD WIRE BYTES through the native decode surface at
    scale. Three assertion classes:

    IDENTITY (the strong oracle — mutated bytes must decode to rows
    IDENTICAL to their clean twin, because proto3 says so):
      I1 unknown-field injection at dataset / reaction / identifier /
         input-map-entry / outcome level, all four wire types;
      I2 deeply nested unknown LEN payloads (200 levels — skipped by
         length, never recursed);
      I3 10-byte maximum varints in unknown fields;
      I4 non-minimal varint encodings of tags and lengths (trailing
         zero continuation bytes);
      I5 field reorder: stable group-by field number, descending
         (proto field order is free; repeated-field relative order
         preserved).
    CONSISTENCY (no identity twin; the two decode paths must agree
    row-for-row: mapInPandas and driver-side pure python):
      C1 hostile UTF-8 strings from the sweep alphabet in every
         string field; C2 a 1000-reaction file with unknown dataset
         fields interleaved between reactions.
    CORRUPT (each file alone must fail the default decode loudly):
      X1 non-UTF8 bytes inside a string field; X2 wire truncation
         (LEN overrun) re-gzipped; X3 truncated gzip stream;
      X4 random bytes.
    The identity and consistency halves decode only the good files.
    """
    import gzip as _gz

    from orderly_spark.session import get_spark
    from orderly_spark.sources import ord as O
    from orderly_spark.sources import ord_wire as W

    rng = random.Random(SEED + 15)

    # --- wire-level re-emission helpers (byte-exact round-trip) -----
    def emit(no: int, wt: int, v) -> bytes:
        if wt == 0:
            return W._enc_tag(no, 0) + W._enc_uvarint(v)
        if wt == 2:
            return W._enc_len(no, v)
        return W._enc_tag(no, wt) + v  # fixed32/64 carry raw slices

    def nonmin_uvarint(v: int, extra: int = 2) -> bytes:
        b = bytearray(W._enc_uvarint(v))
        for _ in range(extra):
            b[-1] |= 0x80
            b.append(0x00)
        return bytes(b)

    def unknown_fields() -> bytes:
        """One of each wire type on unknown field numbers (proto3
        skip rules), incl. a 10-byte max varint (I3)."""
        return (
            emit(99, 0, (1 << 63) | 12345)
            + emit(150, 2, b"opaque future payload")
            + emit(201, 5, b"\x01\x02\x03\x04")
            + emit(202, 1, b"\x01\x02\x03\x04\x05\x06\x07\x08")
        )

    def nested_unknown(levels: int = 200) -> bytes:
        payload = b"x"
        for _ in range(levels):
            payload = W._enc_len(1, payload)
        return W._enc_len(99, payload)

    # reaction-message submessage fields we recurse into for injection
    RXN_MSG_FIELDS = {1, 2, 8}

    def inject_unknown_reaction(raw: bytes) -> bytes:
        out = bytearray(unknown_fields())
        for no, wt, v in W.iter_fields(raw):
            if wt == 2 and no in RXN_MSG_FIELDS and rng.random() < 0.8:
                v = unknown_fields() + v + nested_unknown(40)
            out += emit(no, wt, v)
        out += nested_unknown()
        return bytes(out)

    def reorder_msg(raw: bytes) -> bytes:
        """I5: stable group-by field number, DESCENDING number order;
        within one field number the original order is preserved (the
        repeated-field contract)."""
        groups: dict[int, list[bytes]] = {}
        order: list[int] = []
        for no, wt, v in W.iter_fields(raw):
            if no not in groups:
                groups[no] = []
                order.append(no)
            groups[no].append(emit(no, wt, v))
        return b"".join(
            b"".join(groups[no]) for no in sorted(groups, reverse=True)
        )

    def nonmin_dataset(reactions: list[bytes], name: str) -> bytes:
        """I4: dataset re-encoded with padded tag + length varints."""
        body = (
            nonmin_uvarint((1 << 3) | 2)
            + nonmin_uvarint(len(name.encode()))
            + name.encode()
        )
        for r in reactions:
            body += nonmin_uvarint((3 << 3) | 2) + nonmin_uvarint(len(r)) + r
        return body

    def gz(data: bytes) -> bytes:
        import io

        buf = io.BytesIO()
        with _gz.GzipFile(fileobj=buf, mode="wb", mtime=0) as fh:
            fh.write(data)
        return buf.getvalue()

    # --- base reactions (feature-rich, deterministic) ---------------
    def base_reactions(i: int) -> list[bytes]:
        frag = rng.choice(rng.choice(FRAG_POOLS))
        rxns = []
        for j in range(1 + i % 3):
            k = i * 3 + j
            rxns.append(
                W.encode_reaction(
                    cxsmiles=f"CC{'O' * (k % 3)}>N>O{k % 7} |f:1|",
                    is_mapped=(k % 2 == 0),
                    inputs=[
                        (
                            "m1",
                            [
                                W.encode_compound([(2, f"CC.N{k % 5}")], 1),
                                W.encode_compound([(2, "O")], 3),
                            ],
                        )
                    ],
                    products=[(f"OC{k % 4}", float(k % 90)), ("OCC", None)],
                    time_value=float(k % 9),
                    time_units=1 + k % 4,
                    temp_value=float(k % 50),
                    temp_units=1 + k % 3,
                    procedure_details=f"proc {frag} {k}",
                    experiment_start="06/15/2023" if k % 2 == 0 else "",
                )
            )
        return rxns

    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    expected: dict[str, list] = {}

    def _norm_val(v) -> str:
        if isinstance(v, (list, tuple)):
            return "[" + ",".join(_norm_val(x) for x in v) + "]"
        return repr(v)

    def py_rows(data: bytes) -> list:
        return sorted(
            tuple((kk, _norm_val(vv)) for kk, vv in sorted(W.reaction_to_row(r).items()))
            for r in W.iter_dataset_reactions(data)
        )

    n_identity = 0
    for i in range(n_base):
        rxns = base_reactions(i)
        clean = W.encode_dataset(rxns, f"ds{i}")
        exp = py_rows(clean)
        variant = i % 5
        if variant == 0:  # I1+I2+I3: unknown-field injection
            mutated = unknown_fields() + W.encode_dataset(
                [inject_unknown_reaction(r) for r in rxns], f"ds{i}"
            ) + nested_unknown()
        elif variant == 1:  # I5: reorder reaction fields + dataset fields
            mutated = reorder_msg(
                W.encode_dataset([reorder_msg(r) for r in rxns], f"ds{i}")
            )
        elif variant == 2:  # I4: non-minimal varints
            mutated = nonmin_dataset(rxns, f"ds{i}")
        elif variant == 3:  # I1 on identifier/outcome submessages only
            mutated = W.encode_dataset(
                [inject_unknown_reaction(r) for r in rxns], f"ds{i}"
            )
        else:  # clean control
            mutated = clean
        assert py_rows(mutated) == exp, f"pure-python identity broke at file {i}"
        n_identity += 1
        name = f"mut{i:03d}.pb.gz"
        with open(os.path.join(root, name), "wb") as f:
            f.write(gz(mutated))
        expected[name] = exp

    # C2: one 1000-reaction file, unknown dataset fields interleaved
    big_rxns = [
        W.encode_reaction(cxsmiles=f"C>N>O{j % 9}", procedure_details=f"big {j}")
        for j in range(1000)
    ]
    big = W._enc_str(1, "big")
    for j, r in enumerate(big_rxns):
        if j % 10 == 0:
            big += unknown_fields()
        big += W._enc_len(3, r)
    with open(os.path.join(root, "big000.pb.gz"), "wb") as f:
        f.write(gz(big))
    expected["big000.pb.gz"] = py_rows(big)

    # corrupt classes
    sample = W.dataset_pb_gz([W.encode_reaction(cxsmiles="C>N>O")])
    bad = set()
    for i in range(32):
        name = f"bad{i:03d}.pb.gz"
        bad.add(name)
        kind = i % 4
        if kind == 0:  # X1: non-UTF8 bytes inside a string field
            r = W._enc_len(1, W._enc_varint_field(1, 6) + W._enc_len(3, b"\xff\xfe C>N>O"))
            payload = gz(W.encode_dataset([r], "x"))
        elif kind == 1:  # X2: LEN overrun
            payload = gz(b"\x0a\x99ab")
        elif kind == 2:  # X3: truncated gzip
            payload = sample[: max(4, len(sample) // 3)]
        else:  # X4: random bytes
            payload = bytes(rng.randrange(256) for _ in range(64))
        with open(os.path.join(root, name), "wb") as f:
            f.write(payload)

    # --- drive both decode paths -------------------------------------
    spark = get_spark("ord_wire_sweep")
    files = O.scan_ord_files(spark, root, name_contains="bad", inverse=True)
    rows = O.decode_reactions(files).collect()

    def spark_key(r) -> tuple:
        d = r.asDict()
        d.pop("extracted_from_file", None)
        d.pop("grant_date", None)
        d.pop("filename", None)
        return tuple((kk, _norm_val(vv)) for kk, vv in sorted(d.items()))

    got: dict[str, list] = {}
    for r in rows:
        got.setdefault(r.extracted_from_file, []).append(spark_key(r))
    for f_ in got:
        got[f_] = sorted(got[f_])

    def norm_expected(exp: list) -> list:
        return sorted(
            tuple(
                (kk, vv)
                for kk, vv in row
                if kk not in ("extracted_from_file", "grant_date", "filename")
            )
            for row in exp
        )

    assert set(got) == set(expected), (
        f"decoded file set mismatch: missing={set(expected) - set(got)} "
        f"extra={set(got) - set(expected)}"
    )
    n_row_mismatch = 0
    for name_, exp in expected.items():
        if got[name_] != norm_expected(exp):
            n_row_mismatch += 1
            print(f"ROW MISMATCH in {name_}")
            print("  spark:", got[name_][:1])
            print("  expect:", norm_expected(exp)[:1])
    assert n_row_mismatch == 0, f"{n_row_mismatch} files decoded wrong"

    n_expected_rows = sum(len(v) for v in expected.values())
    assert n_expected_rows == len(rows)

    silent = []
    for name_ in sorted(bad):
        one = spark.read.format("binaryFile").load(os.path.join(root, name_))
        try:
            O.decode_reactions(one).collect()
            silent.append(name_)
        except Exception:  # noqa: BLE001 — any decode failure is the loud abort
            pass
    assert silent == [], f"corrupt files decoded without an error: {silent[:3]}"
    print(
        f"hostile ORD wire check OK: {n_identity} identity-mutated files + "
        f"1 big consistency file, {n_expected_rows} rows, both decode paths "
        f"exact; {len(bad)} corrupt files each abort the decode"
    )


def build_combined(dst: str = "/tmp/sf_all") -> None:
    """Everything-hostile corpus: the union of the per-table
    adversarial corpora (see module docstring). Assumes the sibling
    builders ran first."""
    os.makedirs(dst, exist_ok=True)
    src_map = {
        "documents": "/tmp/sf_adv", "events": "/tmp/sf_evt",
        "embeddings": "/tmp/sf_emb",
        **{t: "/tmp/sf_rel" for t in
           "region nation customer supplier part orders lineitem".split()},
    }
    for t, s in src_map.items():
        shutil.copy(f"{s}/{t}.parquet", f"{dst}/{t}.parquet")
    print(f"wrote combined everything-hostile corpus to {dst}")


if __name__ == "__main__":
    build()
    build_siblings()
    build_events()
    build_stream_events()
    build_embeddings()
    build_relational()
    build_media()
    build_lakehouse()
    build_combined()
    hostile_ord_wire_check()
