"""Literal-value unit tests for the extraction functions (the
reference's tier-1 golden tests, tests/test_extract.py:42-755, at
operator granularity)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from orderly_spark.functions import rxn as R


def one(spark, expr, **cols):
    schema = ", ".join(f"{k} {t}" for k, (t, _) in cols.items())
    row = tuple(v for (_, v) in cols.values())
    return spark.createDataFrame([row], schema).select(expr.alias("out")).collect()[0].out


def test_strip_filename(spark):
    got = one(
        spark,
        F.expr(R.strip_filename("f")),
        f=("string", "ord_data/Uspto: 'grants' V1.2 file"),
    )
    assert got == "ord_data-fs-uspto_grants_v1-2_file"


def test_rxn_string_parse(spark):
    df = spark.createDataFrame(
        [
            ("CC.O>N>CCO |f:1.2|",),
            ("CC>CCO",),  # only one '>' → invalid
            ("CC.O>>CCO",),  # empty agents segment
        ],
        "rxn string",
    )
    out = df.selectExpr(
        f"{R.rxn_is_valid('rxn')} AS ok",
        f"{R.rxn_role('rxn', 0)} AS r",
        f"{R.rxn_role('rxn', 1)} AS a",
        f"{R.rxn_role('rxn', 2)} AS p",
    ).collect()
    assert [r.ok for r in out] == [True, False, True]
    assert out[0].r == ["CC", "O"] and out[0].a == ["N"] and out[0].p == ["CCO"]
    assert out[2].a == []


def test_temperature_conversion(spark):
    cases = [
        (212.0, "FAHRENHEIT", None, 100.0),
        (273.15, "KELVIN", None, 0.0),
        (25.0, "CELSIUS", None, 25.0),
        (None, None, "AMBIENT", 25.0),
        (None, None, "DRY_ICE", -78.5),
        (None, None, "LIQUID_NITROGEN", -196.0),
        (None, None, None, None),
    ]
    df = spark.createDataFrame(
        [(v, u, c) for v, u, c, _ in cases], "v double, u string, c string"
    )
    got = [
        r.t
        for r in df.select(
            F.expr(R.temperature_to_celsius("v", "u", "c")).alias("t")
        ).collect()
    ]
    want = [w for *_, w in cases]
    assert got == pytest.approx(want, abs=1e-9) if None not in want else True
    for g, w in zip(got, want):
        assert (g is None and w is None) or abs(g - w) < 1e-9


def test_time_conversion_rounding(spark):
    df = spark.createDataFrame(
        [(90.0, "MINUTE"), (30.0, "SECOND"), (2.0, "DAY"), (1.5, "HOUR")],
        "v double, u string",
    )
    got = [r.h for r in df.select(F.expr(R.time_to_hours("v", "u")).alias("h")).collect()]
    assert got == [1.5, 0.01, 48.0, 1.5]  # 30s → 0.008333 → round 0.01


def test_time_conversion_half_even_at_xx5_boundary(spark):
    """r9: HALF_EVEN like the reference's Python round(). 7.5 min =
    0.125 h — a dyadic .xx5 boundary where Python rounds to the even
    digit (0.12); the old HALF_UP gave 0.13. Also pins the DOCUMENTED
    residual ceiling: bround reads the double's shortest repr, Python
    the true binary value, so they still differ when a non-dyadic
    double PRINTS as .xx5 (0.385 = 0.38500…888 binary: Python sees
    above-tie → 0.39; bround sees the repr's tie → even → 0.38)."""
    df = spark.createDataFrame(
        [(7.5, "MINUTE"), (8.1, "MINUTE"), (0.375, "HOUR"), (0.385, "HOUR")],
        "v double, u string",
    )
    got = [r.h for r in df.select(F.expr(R.time_to_hours("v", "u")).alias("h")).collect()]
    # dyadic ties: exact Python agreement (the r9 fix's target class)
    assert got[0] == round(7.5 / 60, 2) == 0.12
    assert got[2] == round(0.375, 2) == 0.38
    # non-tie values agree as always (8.1/60 = 0.13499… < tie)
    assert got[1] == round(8.1 / 60, 2) == 0.13
    # the residual shortest-repr-vs-true-binary ceiling, pinned
    assert got[3] == 0.38 and round(0.385, 2) == 0.39


def test_is_number_python_semantics(spark):
    cases = {
        "35": True,
        "1.5": True,
        "1e3": True,
        "1_000": True,  # Python float() underscore rule
        "1_0.5_5": True,
        "_1": False,
        "1_": False,
        "1__0": False,
        "x35": False,
        "": False,
        "nan": True,  # float('nan') parses in Python AND Spark cast
    }
    df = spark.createDataFrame([(k,) for k in cases], "s string")
    got = {r.s: r.n for r in df.select("s", F.expr(R.is_number("s")).alias("n")).collect()}
    assert got == cases


def test_split_solvents_agents(spark):
    df = spark.createDataFrame(
        [(["O", "CCO", "N", "O"],)], "comp array<string>"
    ).withColumn("sset", F.array(F.lit("CCO"), F.lit("O")))
    sv, ag = R.split_solvents_agents("comp", "sset")
    row = df.selectExpr(f"{sv} AS s", f"{ag} AS a").collect()[0]
    assert row.s == ["CCO", "O"]  # sorted distinct members of the set
    assert row.a == ["N"]


def test_yield_alignment_first_match(spark):
    df = spark.createDataFrame(
        [(["b", "a", "b"], ["a", "b", "b"], [10.0, 20.0, 30.0])],
        "products array<string>, lab array<string>, ys array<double>",
    )
    got = df.select(
        F.expr(R.align_yields_to_products("products", "lab", "ys")).alias("o")
    ).collect()[0].o
    # 'b' hits FIRST labelled 'b' (20.0) both times; missing → null
    assert got == [20.0, 10.0, 20.0]


def test_yields_to_longest_product(spark):
    df = spark.createDataFrame([(["CC", "CCCO", "CCO"],)], "p array<string>")
    ordered = df.select(F.expr(R.sort_products_longest_first("p")).alias("o")).collect()[0].o
    assert ordered == ["CCCO", "CCO", "CC"]
    ys = df.select(F.expr(R.yields_to_longest_product("p", "55.0D")).alias("y")).collect()[0].y
    assert ys == [55.0, None, None]


# case and near-miss spellings for P12/P13: the expected value of each
# comes from Python's full Unicode str.lower(), as the reference matches
CASE_PROBES = ["CHARCOAL", "ChArCoAl", "ICE WATER", "\u0130ce", "\u0131ce", "ice\n", "ice ", "on \u0130CE"]


def test_pd_c_exception(spark):
    df = spark.createDataFrame(
        [
            (["[Pd]", "C", "N"], True, None),
            (["C", "N"], False, "mixed with charcoal then heated"),
            (["C", "N"], False, None),
        ],
        "agents array<string>, tm boolean, proc string",
    )
    got = [
        r.a
        for r in df.select(
            F.expr(R.remove_pd_c_carbon("agents", "tm", "proc")).alias("a")
        ).collect()
    ]
    assert got == [["[Pd]", "N"], ["N"], ["C", "N"]]

    procs = [f"with {p} added" for p in CASE_PROBES] + CASE_PROBES
    cased = spark.createDataFrame([(["C", "N"], False, p) for p in procs], df.schema)
    got = [r.a for r in cased.select(F.expr(R.remove_pd_c_carbon("agents", "tm", "proc")).alias("a")).collect()]
    assert got == [["N"] if "charcoal" in p.lower() else ["C", "N"] for p in procs]
    assert got.count(["N"]) == 4


def test_ice_imputation(spark):
    df = spark.createDataFrame(
        [(None, ["Ice", "x"]), (None, ["x"]), (50.0, ["ice water"])],
        "t double, ids array<string>",
    )
    got = [
        r.t
        for r in df.select(F.expr(R.impute_ice_temperature("t", "ids")).alias("t")).collect()
    ]
    assert got == [0.0, None, 50.0]

    ids = [["x", p] for p in CASE_PROBES] + [[None, p] for p in CASE_PROBES]
    cased = spark.createDataFrame([(None, i) for i in ids], df.schema)
    got = [r.t for r in cased.select(F.expr(R.impute_ice_temperature("t", "ids")).alias("t")).collect()]
    is_ice = [any(m is not None and m.lower() in ("ice", "ice water") for m in i) for i in ids]
    assert got == [0.0 if ice else None for ice in is_ice]
    assert got.count(0.0) == 2


def test_only_two_non_ascii_code_points_lower_case_to_ascii(spark):
    """P12/P13 fold only ASCII letters (``rxn._fold_ascii``), which
    equals ``lower()`` for their ASCII keywords as long as no other
    character lower-cases to a string holding ASCII. Spark's
    ``lower()`` over every non-surrogate code point from U+0080 up."""
    chars = (
        spark.range(0x80, 0x110000)
        .where("id < 55296 OR id > 57343")
        .selectExpr("id", "lower(format_string('%c', CAST(id AS INT))) AS low")
        .where(F.col("low").rlike(r"[\x00-\x7f]"))
    )
    assert {r.id: r.low for r in chars.collect()} == {0x130: "i\u0307", 0x212A: "k"}


def test_grant_date_and_experiment_date(spark):
    df = spark.createDataFrame(
        [("uspto-grants-1995_11", "07/04/1998"), ("no-date-here", "junk")],
        "f string, d string",
    )
    out = df.select(
        F.expr(R.grant_date_from_filename("f")).alias("g"),
        F.expr(R.parse_experiment_date("d")).alias("e"),
    ).collect()
    assert str(out[0].g) == "1995-11-01 00:00:00"
    assert str(out[0].e) == "1998-07-04 00:00:00"
    assert out[1].g is None and out[1].e is None
