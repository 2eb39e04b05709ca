"""Random-corpus twin parity (r9, the proof-layer frontier the r8
ledger named): a seeded 240-document corpus mixing scripts (Latin,
accented, CJK, Cyrillic, Devanagari), digits, underscores, emoji,
ASCII/exotic whitespace and punctuation is pushed through the
tokenisation / shingles / punctuation / max-multiplicity twins on
BOTH engines in one batch — strict equality, no approx. The crafted
fixtures elsewhere pin known edges; this sweep guards the edges
nobody thought to craft. Deterministic (random.Random(97), no
test-order or platform dependence).

Known divergences are EXCLUDED by construction, not waived silently:
the alphabet deliberately omits \\x0B (Java \\s matches it, RE2's
does not — pinned in test_tokens_twins_on_adversarial_whitespace)
and the Turkish dotted I (full-vs-simple case mapping — pinned in
the same test).
"""

from __future__ import annotations

import random

import duckdb
from pyspark.sql import functions as F

from orderly_spark.operators import text as T

_PIECES = [
    "the", "cat", "Hello", "WORLD", "café", "héllo", "naïve",
    "中文", "文档", "русский", "текст", "देवनागरी", "१२३",
    "foo_bar", "1_000", "x9", "42", "3.14", "a-b", "(c)", "[d]",
    "e.g.", "…", "—", "!", "?!", "::", "\U0001F600", "½", "§",
    "", " ", "\t", "\n", "\r", "\f", " ", "　",
]
_SEPS = [" ", "  ", "\t", "\n", " \n ", ""]


def _corpus(n: int = 240) -> list[tuple[int, str]]:
    rng = random.Random(97)
    out = []
    for i in range(n):
        k = rng.randint(0, 12)
        text = "".join(
            rng.choice(_PIECES) + rng.choice(_SEPS) for _ in range(k)
        )
        out.append((i, text))
    return out


def test_random_corpus_token_punct_shingle_multiplicity_twins(spark):
    rows = _corpus()
    sdf = spark.createDataFrame(rows, "doc_id long, text string")
    toks = T.tokens("text")
    got = {
        r["doc_id"]: (r["t"], r["k"], r["sh"], r["mm"])
        for r in sdf.select(
            "doc_id",
            toks.alias("t"),
            (
                F.length("text")
                - F.length(F.regexp_replace("text", T.PUNCT_CLASS, ""))
            ).alias("k"),
            T.shingles(toks, 2).alias("sh"),
            T.max_multiplicity(T.ngrams_raw(toks, 2)).alias("mm"),
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    tsql = T.TOKENS_SQL("text")
    want = {
        doc_id: (t, k, sh, mm)
        for doc_id, t, k, sh, mm in con.execute(
            f"""SELECT doc_id, {tsql},
                   len(text) - len(regexp_replace(text, '{T.PUNCT_CLASS}', '', 'g')),
                   {T.SHINGLES_SQL(tsql, 2)},
                   {T.MAX_MULTIPLICITY_SQL(T.NGRAMS_RAW_SQL(tsql, 2))}
            FROM t"""
        ).fetchall()
    }
    assert got == want
    # non-vacuity: the sweep must actually exercise multi-token docs,
    # punctuation, shingles and repeated bigrams somewhere
    assert any(len(t) > 3 for t, _, _, _ in got.values())
    assert any(k > 0 for _, k, _, _ in got.values())
    assert any(len(sh) > 1 for _, _, sh, _ in got.values())
    assert any(mm > 1 for _, _, _, mm in got.values())


def test_random_vectors_dot_quantize_dist_twins(spark):
    """Vector-primitive twins under a seeded random sweep: the
    order-fixed dot fold (_dot/_dot_sql), floor quantization
    (quantize_vec/QUANTIZE_SQL) and integer squared distance
    (_sqdist/DIST_SQL) must agree bit-for-bit on vectors mixing
    magnitudes, signs, exact dyadics and long binary tails — these
    three primitives underpin every similarity/clustering gate."""
    from orderly_spark.operators.clustering import (
        DIST_SQL,
        QUANTIZE_SQL,
        _sqdist,
        quantize_vec,
    )
    from orderly_spark.operators.similarity import _dot, _dot_sql

    rng = random.Random(113)
    dim = 16

    def vec():
        out = []
        for _ in range(dim):
            kind = rng.randint(0, 3)
            if kind == 0:
                out.append(rng.uniform(-1, 1))
            elif kind == 1:
                out.append(rng.uniform(-1e3, 1e3))
            elif kind == 2:
                out.append(rng.choice([0.0, 0.5, -0.25, 1.0, -2.0]))
            else:
                out.append(rng.random() * 10 ** rng.randint(-6, 2))
        return out

    rows = [(i, vec(), vec()) for i in range(100)]
    sdf = spark.createDataFrame(rows, "i long, a array<double>, b array<double>")
    got = {
        r["i"]: (r["dot"], r["qa"], r["dist"])
        for r in sdf.select(
            "i",
            _dot(F.col("a"), F.col("b")).alias("dot"),
            quantize_vec(F.col("a")).alias("qa"),
            _sqdist(
                quantize_vec(F.col("a")), [0] * dim
            ).alias("dist"),
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i BIGINT, a DOUBLE[], b DOUBLE[])")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)
    zero = "[" + ", ".join(["0"] * dim) + "]"
    want = {
        i: (dot, qa, dist)
        for i, dot, qa, dist in con.execute(
            f"""SELECT i, {_dot_sql('a', 'b')},
                   {QUANTIZE_SQL('a')},
                   {DIST_SQL(QUANTIZE_SQL('a'), zero)}
            FROM t"""
        ).fetchall()
    }
    assert got == want
    assert any(d != 0 for d, _, _ in got.values())
