"""Literal-fixture unit tests for the clean pipeline (the reference's
tier-1 test style, SURVEY §5.1): tiny hand-written reaction rows with
exact expected outputs, plus distribution-invariance checks no pandas
reference can express (same result under repartitioning)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from orderly_spark.operators import cleaning as C
from orderly_spark.schema import REACTION_SCHEMA, array_to_wide, wide_to_array


def rx_rows(spark, rows):
    """rows: list of dicts with role lists; fills schema defaults."""
    base = {
        "rxn_str": None,
        "reactants": [],
        "agents": [],
        "reagents": [],
        "solvents": [],
        "catalysts": [],
        "products": [],
        "yields": [],
        "temperature": None,
        "rxn_time": None,
        "procedure_details": None,
        "date_of_experiment": None,
        "grant_date": None,
        "is_mapped": False,
        "extracted_from_file": "f0",
    }
    full = []
    for i, r in enumerate(rows):
        d = dict(base, **r)
        full.append(d)
    df = spark.createDataFrame(full, schema=REACTION_SCHEMA)
    return df.withColumn(
        "original_index",
        F.row_number().over(__import__("pyspark").sql.Window.orderBy(F.monotonically_increasing_id())) - 1,
    )


def ids(df):
    return sorted(r.original_index for r in df.select("original_index").collect())


def test_trim_components(spark):
    df = rx_rows(
        spark,
        [
            {"reactants": ["a", "b"], "products": ["p"], "agents": ["g"]},
            {"reactants": ["a", "b", "c"], "products": ["p"], "agents": ["g"]},
        ],
    )
    cfg = C.CleanConfig(num_reactant=2, num_product=5, num_solv=2, num_agent=3)
    assert ids(C.trim_components(df, cfg)) == [0]


def test_require_core_components(spark):
    df = rx_rows(
        spark,
        [
            {"reactants": ["a"], "products": ["p"], "agents": ["g"]},  # keep
            {"reactants": [], "products": ["p"], "agents": ["g"]},  # no reactant
            {"reactants": ["a"], "products": [], "agents": ["g"]},  # no product
            {"reactants": ["a"], "products": ["p"]},  # no condition
        ],
    )
    assert ids(C.require_core_components(df)) == [0]


def test_reactants_equal_products_filter(spark):
    df = rx_rows(
        spark,
        [
            {"reactants": ["b", "a", "a"], "products": ["a", "b"], "agents": ["g"]},  # set-equal → drop
            {"reactants": ["a"], "products": ["p"], "agents": ["g"]},
        ],
    )
    assert ids(C.remove_reactants_equal_products(df)) == [1]


def test_yield_consistency(spark):
    df = rx_rows(
        spark,
        [
            {"reactants": ["a"], "products": ["p", "q"], "yields": [60.0, 30.0]},  # ok
            {"reactants": ["a"], "products": ["p", "q"], "yields": [60.0, 50.0]},  # sum>100
            {"reactants": ["a"], "products": ["p"], "yields": [101.0]},  # out of range
            {"reactants": ["a"], "products": ["p"], "yields": [None]},  # null ok
        ],
    )
    assert ids(C.enforce_yield_consistency(df)) == [0, 3]


def test_unresolved_names_modes(spark):
    rows = [
        {"reactants": ["bad", "a"], "products": ["p"], "is_mapped": True},
        {"reactants": ["bad", "a"], "products": ["p"], "is_mapped": False},
        {"reactants": ["a"], "products": ["p"], "is_mapped": False},
    ]
    names = spark.createDataFrame([("bad",)], "name string")

    df = rx_rows(spark, rows)
    # mode (b): drop rows containing an unresolved name
    cfg_b = C.CleanConfig(
        unresolved_names="remove_rxn",
    )
    assert ids(C.handle_unresolved_names(df, names, cfg_b)) == [2]

    # mode (a): mapped rows keep (cleaned), unmapped rows with bad dropped
    out_a = C.handle_unresolved_names(df, names, C.CleanConfig())
    got = {r.original_index: r.reactants for r in out_a.collect()}
    assert got == {0: ["a"], 2: ["a"]}

    # mode (c): everyone kept, bad removed
    cfg_c = C.CleanConfig(
        unresolved_names="none",
    )
    out_c = C.handle_unresolved_names(df, names, cfg_c)
    got = {r.original_index: r.reactants for r in out_c.collect()}
    assert got == {0: ["a"], 1: ["a"], 2: ["a"]}

    # one field, three values: the default is mode (a), anything else raises
    assert C.CleanConfig().unresolved_names == C.UNRESOLVED_NAME_MODES[0]
    with pytest.raises(ValueError, match="unresolved_names"):
        C.CleanConfig(unresolved_names="remove_rxn_with_unresolved_names")


def test_unresolved_drop_single_pass_edges(spark):
    """Mode (b) is a single pass (explode_outer + broadcast flag join
    + collapse-by-id). A row with NO members anywhere (explode_outer
    must still emit it), NULL role arrays, and a NULL member inside an
    array (never matches the name set) all survive; a bad member in
    ANY role still drops the whole row. Also pin that the collapse
    preserves every column value byte-for-byte."""
    rows = [
        {},  # zero members in every role — must survive the explode
        {"reactants": None, "products": None},  # NULL arrays
        {"reactants": ["a", None], "products": ["p"], "yields": [1.0]},
        {"solvents": ["bad"], "reactants": ["a"], "products": ["p"]},
        {"products": ["bad"], "reactants": ["a"], "yields": [2.0]},
    ]
    names = spark.createDataFrame([("bad",)], "name string")
    cfg_b = C.CleanConfig(
        unresolved_names="remove_rxn",
    )
    df = rx_rows(spark, rows)
    out = C.handle_unresolved_names(df, names, cfg_b)
    assert ids(out) == [0, 1, 2]
    assert out.columns == df.columns
    got = {r.original_index: r for r in out.collect()}
    exp = {r.original_index: r for r in df.collect() if r.original_index in (0, 1, 2)}
    assert got == exp


def test_rename_catalysts_to_reagents(spark):
    df = rx_rows(spark, [{"reagents": ["r1"], "catalysts": ["c1", "c2"]}])
    out = C.rename_catalysts_to_reagents(df).collect()[0]
    assert out.reagents == ["r1", "c1", "c2"] and out.catalysts == []


def test_dedup_random_survivor_partition_invariant(spark):
    rows = [
        {"reactants": ["a"], "products": ["p"]},
        {"reactants": ["a"], "products": ["p"]},
        {"reactants": ["a"], "products": ["p"]},
        {"reactants": ["b"], "products": ["p"]},
    ]
    df = rx_rows(spark, rows)
    cfg = C.CleanConfig(dedup_subset_roles=["reactants", "products"])
    first = ids(C.dedup_reactions(df, cfg))
    assert len(first) == 2  # one survivor per key
    # survivor is a pure function of (data, seed): invariant under partitioning
    again = ids(C.dedup_reactions(df.repartition(7), cfg))
    assert first == again
    # different seed may pick a different survivor but still one per key
    other = ids(C.dedup_reactions(df, C.CleanConfig(seed=99, dedup_subset_roles=["reactants", "products"])))
    assert len(other) == 2


def test_rare_molecule_handling(spark):
    rows = [
        {"reactants": ["x"], "products": ["p"], "agents": ["common"], "solvents": ["rare1"]},
        {"reactants": ["x"], "products": ["p"], "agents": ["common"]},
        {"reactants": ["x"], "products": ["p"], "agents": ["common"]},
    ]
    df = rx_rows(spark, rows)
    counts = {r.molecule: r["count"] for r in C.condition_value_counts(df).collect()}
    assert counts == {"common": 3, "rare1": 1}

    removed = C.remove_rows_with_rare_molecules(df, C.condition_value_counts(df), 2)
    assert ids(removed) == [1, 2]

    mapped = C.map_rare_molecules_to_other(df, C.condition_value_counts(df), 2)
    got = {r.original_index: r.solvents for r in mapped.collect()}
    assert got[0] == ["other"]


def test_scramble_preserves_multiset_and_is_deterministic(spark):
    rows = [{"reactants": ["a", "b", "c", "d"], "products": ["p"]}]
    df = rx_rows(spark, rows)
    out1 = C.scramble_role_lists(df, C.CleanConfig()).collect()[0].reactants
    out2 = C.scramble_role_lists(df.repartition(3), C.CleanConfig()).collect()[0].reactants
    assert sorted(out1) == ["a", "b", "c", "d"]
    assert out1 == out2  # deterministic across partitionings


def test_train_test_split_no_leakage(spark):
    rows = [{"reactants": [f"m{i % 20}"], "products": ["p"], "agents": ["g"]} for i in range(200)]
    df = rx_rows(spark, rows)
    train, test = C.train_test_split(df, C.CleanConfig())
    n_train, n_test = train.count(), test.count()
    assert n_train + n_test == 200
    # leakage repair: no reaction hash in both sides
    th = train.select(C.reaction_hash(train).alias("h")).distinct()
    eh = test.select(C.reaction_hash(test).alias("h")).distinct()
    assert th.join(eh, "h", "inner").count() == 0


def test_wide_array_round_trip(spark):
    wide = spark.createDataFrame(
        [("r1", "<missing>", "p1", "p2", 50.0, None, "f")],
        "reactant_000 string, reactant_001 string, product_000 string, product_001 string, "
        "yield_000 double, yield_001 double, extracted_from_file string",
    )
    arr = wide_to_array(wide).collect()[0]
    assert arr.reactants == ["r1"]  # sentinel dropped
    assert arr.products == ["p1", "p2"]
    assert arr.yields == [50.0, None]  # alignment kept, null slot preserved

    back = array_to_wide(
        wide_to_array(wide), {"reactant": 2, "product": 2, "yield": 2}
    ).collect()[0]
    assert back.reactant_000 == "r1" and back.reactant_001 is None
    assert back.yield_000 == 50.0 and back.yield_001 is None


def test_observation_telemetry_no_extra_action(spark):
    """A7: stage row counts ride the single action via Observation."""
    df = rx_rows(
        spark,
        [
            {"reactants": ["a"], "products": ["p"], "agents": ["g"]},
            {"reactants": [], "products": ["p"], "agents": ["g"]},
        ],
    )
    observed_df, obs = C.observed(C.require_core_components(df), "post_core")
    n_out = observed_df.count()  # the ONLY action
    assert n_out == 1
    assert obs.get["rows"] == 1


def test_reaction_key_member_boundaries_cannot_collide(spark):
    """['CC.O'] vs ['CC','O'] — SMILES salts contain
    '.', so the key must encode member boundaries, not rely on the
    separator. The reference compares slot columns pairwise and has no
    such collision; neither may the key."""
    from orderly_spark.operators.cleaning import reaction_key

    df = spark.createDataFrame(
        [(1, ["CC.O"], ["p"]), (2, ["CC", "O"], ["p"])],
        "rid long, reactants array<string>, products array<string>",
    )
    keys = {
        r.rid: r.k
        for r in df.withColumn("k", reaction_key(df, ["reactants", "products"]))
        .select("rid", "k")
        .collect()
    }
    assert keys[1] != keys[2]


def test_merge_extracted_index_deterministic_with_duplicate_rxn(spark, tmp_path):
    """Rows sharing rxn_str within one file tie on the order key, which
    alone would leave original_index to physical partition order. The
    full-row fingerprint tiebreak makes the index a pure function of
    the data across partitionings."""
    import pyspark.sql.functions as F

    from orderly_spark.operators import cleaning as C
    from orderly_spark.sources.ord import write_extracted

    rows = [
        (i, "dup" if i % 3 == 0 else f"rx{i}", f"f{i % 2}", f"detail{i}")
        for i in range(30)
    ]
    df = spark.createDataFrame(
        rows, "rid long, rxn_str string, extracted_from_file string, procedure_details string"
    )
    outs = []
    for parts in (1, 7):
        d = str(tmp_path / f"p{parts}") + "/extracted"
        write_extracted(df.repartition(parts), d)
        merged = C.merge_extracted(spark, d)
        outs.append(
            sorted((r.rid, r.original_index) for r in merged.select("rid", "original_index").collect())
        )
    assert outs[0] == outs[1]
    # index is a contiguous 0..n-1 permutation
    assert sorted(i for _, i in outs[0]) == list(range(30))


def test_wide_to_array_pairs_yields_by_suffix(spark):
    """With yield_000 absent (dropped by a writer), yield_001 still
    attaches to product_001, not to product_000 as a positional zip of
    the two sorted lists would have it."""
    from orderly_spark.schema import wide_to_array

    df = spark.createDataFrame(
        [("rx", "pA", "pB", 55.0)],
        "rxn_str string, product_000 string, product_001 string, yield_001 double",
    )
    row = wide_to_array(df).select("products", "yields").head()
    assert row.products == ["pA", "pB"]
    assert row.yields[0] is None and row.yields[1] == 55.0


def test_wide_to_array_merges_mixed_layout_rows(spark):
    """mergeSchema over a directory mixing array-model and wide-model
    files yields BOTH layouts with per-row NULLs: the wide rows' data
    survives beside an existing array column. Each row keeps whichever
    model its source file wrote."""
    from pyspark.sql import functions as F

    from orderly_spark.schema import wide_to_array

    df = spark.createDataFrame(
        [
            # array-model row: arrays set, wide cols NULL
            (0, ["r1"], ["p1"], [50.0], None, None, None),
            # wide-model row: wide cols set, arrays NULL
            (1, None, None, None, "r2", "p2", 60.0),
        ],
        "rid long, reactants array<string>, products array<string>, yields array<double>, "
        "reactant_000 string, product_000 string, yield_000 double",
    )
    got = {r.rid: r for r in wide_to_array(df).collect()}
    assert list(got[0].reactants) == ["r1"]
    assert list(got[0].products) == ["p1"] and list(got[0].yields) == [50.0]
    assert list(got[1].reactants) == ["r2"]
    assert list(got[1].products) == ["p2"] and list(got[1].yields) == [60.0]
    # idempotent: second application is a no-op (wide cols consumed)
    twice = wide_to_array(wide_to_array(df))
    assert {r.rid: (list(r.products), list(r.yields)) for r in twice.collect()} == {
        0: (["p1"], [50.0]),
        1: (["p2"], [60.0]),
    }


def test_array_to_wide_pads_absent_roles_and_avoids_collisions(spark):
    """Absent roles emit NULL-padded slots (the export schema never
    silently shrinks) and pre-existing wide names cannot collide with
    generated columns."""
    from orderly_spark.schema import array_to_wide

    df = spark.createDataFrame(
        [(1, ["p1"], "stale")],
        "rid long, products array<string>, product_000 string",
    )
    out = array_to_wide(df, {"product": 2, "reactant": 1})
    assert out.columns.count("product_000") == 1  # no duplicate
    row = out.collect()[0]
    assert row["product_000"] == "p1" and row["product_001"] is None
    assert row["reactant_000"] is None  # absent role: padded, not dropped


def test_array_to_wide_preserves_existing_wide_data_without_array(spark):
    """A role listed in counts whose ARRAY column is absent but whose
    wide column already carries data passes that column through: the
    collision exclusion must not drop it from passthrough and re-emit
    NULL over it."""
    from orderly_spark.schema import array_to_wide

    df = spark.createDataFrame(
        [(1, ["p1"], "keep-me", 42.5)],
        "rid long, products array<string>, reactant_000 string, yield_000 double",
    )
    out = array_to_wide(df, {"product": 1, "reactant": 2, "yield": 1})
    row = out.collect()[0]
    assert row["product_000"] == "p1"
    assert row["reactant_000"] == "keep-me"  # pre-existing wide data survives
    assert row["reactant_001"] is None       # truly sourceless slot NULL-pads
    assert row["yield_000"] == 42.5
    assert out.columns.count("reactant_000") == 1


def test_pack_unpack_row_roundtrips_backticked_column_names(spark):
    """Column names reach the SQL-string builders quoted, with embedded
    backticks doubled: a name holding a backtick (or a dot) round-trips
    through _pack_row/_unpack_row unchanged, and so does _arr."""
    cols = ["a`b", "c.d", "reactants"]
    schema = T.StructType([
        T.StructField("a`b", T.LongType()),
        T.StructField("c.d", T.StringType()),
        T.StructField("reactants", T.ArrayType(T.StringType())),
    ])
    df = spark.createDataFrame([(1, "x", None)], schema)
    packed = df.select(C._pack_row(cols).alias("__row"))
    out = C._unpack_row(packed, cols)
    assert out.columns == cols
    assert [tuple(r) for r in out.collect()] == [(1, "x", None)]
    assert df.select(C._arr("reactants").alias("r")).first().r == []


# ---------------------------------------------------------------------------
# P11 / A4 against a pure-Python reference
# ---------------------------------------------------------------------------

_SCALAR_ROLES = ("reactants", "agents", "reagents", "solvents", "catalysts")
_MEMBERSHIP_SCHEMA = (
    "rid long, reactants array<string>, agents array<string>, "
    "reagents array<string>, solvents array<string>, catalysts array<string>, "
    "products array<string>, yields array<double>, rxn_str string, "
    "is_mapped boolean, original_index long"
)
_MODES = {
    "a": {},
    "b": dict(unresolved_names="remove_rxn"),
    "c": dict(unresolved_names="none"),
}


def _ref_unresolved(row, bad, mode):
    """P11 on one row dict, or None when the row is dropped."""
    has_bad = any(m in bad for r in C.ALL_ROLES for m in (row[r] or []))
    if mode == "b":
        return None if has_bad else row
    if mode == "a" and has_bad and not row["is_mapped"]:
        return None
    out = dict(row)
    for r in _SCALAR_ROLES:
        if row[r] is not None:
            out[r] = [m for m in row[r] if m is not None and m not in bad]
    prods, ys = row["products"] or [], row["yields"] or []
    pairs = [
        (prods[i] if i < len(prods) else None, ys[i] if i < len(ys) else None)
        for i in range(max(len(prods), len(ys)))
    ]
    kept = [(p, y) for p, y in pairs if p is not None and p not in bad]
    out["products"], out["yields"] = [p for p, _ in kept], [y for _, y in kept]
    return out


def _ref_rare_to_other(rows, k):
    """A4 over all rows: condition members with count < k -> 'other'."""
    from collections import Counter

    counts = Counter(m for row in rows for r in C.CONDITION_ROLES for m in (row[r] or []))
    out = []
    for row in rows:
        row = dict(row)
        for r in C.CONDITION_ROLES:
            row[r] = [
                None if m is None else (m if counts[m] >= k else "other") for m in (row[r] or [])
            ]
        out.append(row)
    return out


def _membership_corpus(spark, n=400, seed=31):
    """Seeded rows covering NULL members, NULL role arrays, yields
    longer and shorter than products, and NULL is_mapped; member
    frequencies are skewed so A4 sees both frequent and rare ones."""
    import random

    rng = random.Random(seed)

    def member():
        u = rng.random()
        if u < 0.05:
            return None
        if u < 0.30:
            return f"bad{rng.randrange(40)}"
        return f"ok{int(rng.expovariate(0.08))}"

    def arr(max_n):
        if rng.random() < 0.15:
            return None
        return [member() for _ in range(rng.randint(0, max_n))]

    cols = ["rid", *C.ALL_ROLES, "yields", "rxn_str", "is_mapped", "original_index"]
    rows = []
    for i in range(n):
        yields = None if rng.random() < 0.2 else [
            None if rng.random() < 0.3 else float(rng.randint(0, 100))
            for _ in range(rng.randint(0, 4))
        ]
        rows.append(dict(zip(cols, (
            i, arr(3), arr(3), arr(2), arr(2), arr(2), arr(3), yields, None,
            rng.choice([True, False, None]), i,
        ))))
    return rows, spark.createDataFrame([tuple(r[c] for c in cols) for r in rows], _MEMBERSHIP_SCHEMA)


def _as_rows(df):
    return {r.rid: r.asDict() for r in df.collect()}


def test_membership_stages_match_python_reference(spark):
    rows, df = _membership_corpus(spark)
    bad = {f"bad{i}" for i in range(40)}
    names = spark.createDataFrame([(b,) for b in sorted(bad)] + [("bad3",), (None,)], "name string")
    # the corpus really exercises every edge the reference encodes
    assert any(r["is_mapped"] is None for r in rows)
    assert any(r["reactants"] is None for r in rows) and any(r["products"] is None for r in rows)
    assert any(len(r["yields"] or []) > len(r["products"] or []) for r in rows)
    assert any(len(r["yields"] or []) < len(r["products"] or []) for r in rows)
    assert any(None in (r["agents"] or []) for r in rows)
    for mode, kw in _MODES.items():
        got = _as_rows(C.handle_unresolved_names(df, names, C.CleanConfig(**kw)))
        want = {r["rid"]: o for r in rows if (o := _ref_unresolved(r, bad, mode)) is not None}
        assert set(got) == set(want), mode
        assert got == want, (mode, [k for k in want if got[k] != want[k]][:3])

    k = 8
    got = _as_rows(C.map_rare_molecules_to_other(df, C.condition_value_counts(df), k))
    want = {r["rid"]: r for r in _ref_rare_to_other(rows, k)}
    assert got == want, [i for i in want if got[i] != want[i]][:3]
    flat = [m for r in want.values() for role in C.CONDITION_ROLES for m in r[role]]
    assert "other" in flat and any(m not in ("other", None) for m in flat)


def test_membership_collapse_fails_on_repeated_original_index(spark):
    """Two rows sharing an original_index would be merged by the
    collapse; every P11 mode and A4 fail the job instead, naming the
    column."""
    df = spark.createDataFrame(
        [
            (0, ["a", "b"], ["g"], [], [], [], ["p"], [1.0], None, True, 7),
            (1, ["c"], [], [], ["s"], [], ["p"], [2.0], None, True, 7),
            (2, ["a"], ["g"], [], [], [], ["p"], [3.0], None, True, 8),
        ],
        _MEMBERSHIP_SCHEMA,
    )
    names = spark.createDataFrame([("zzz",)], "name string")
    stages = {m: (lambda kw=kw: C.handle_unresolved_names(df, names, C.CleanConfig(**kw)))
              for m, kw in _MODES.items()}
    stages["A4"] = lambda: C.map_rare_molecules_to_other(df, C.condition_value_counts(df), 2)
    for stage, build in stages.items():
        with pytest.raises(Exception, match="original_index"):
            build().collect()
        with pytest.raises(Exception, match="original_index"):
            build().count()


def test_clean_pipeline_build_job_count(spark):
    """Building the membership stages runs no Spark job, and building
    clean_pipeline in mode (a) with rare molecules mapped to 'other'
    runs only the dedup checkpoint: its AQE stages (the distinct name
    set, its broadcast, the collapse by row id, the dedup window) and
    the checkpoint's result stage."""
    rows, df = _membership_corpus(spark, n=60)
    names = spark.createDataFrame([(f"bad{i}",) for i in range(40)], "name string")
    cfg = C.CleanConfig(min_frequency_of_occurrence=2, map_rare_molecules_to_other=True)
    sc = spark.sparkContext

    def jobs(group, build):
        sc.setJobGroup(group, group)
        try:
            build()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    counts = C.condition_value_counts(df)
    assert jobs("build_p11", lambda: C.handle_unresolved_names(df, names, cfg)) == 0
    assert jobs("build_a4", lambda: C.map_rare_molecules_to_other(df, counts, 2)) == 0
    assert jobs("build_clean", lambda: C.clean_pipeline(df, names, cfg)) == 5


def test_map_rare_to_other_literal_and_join_paths_agree(spark):
    """A4 once had two membership paths (an InSet literal and a join
    rebuild); its one broadcast-join path must agree with the
    pure-Python reference on hand rows covering empty-role rows, order
    preservation and NULL members (kept NULL, never mapped to
    'other')."""
    inputs = [
        {"rxn_str": "a", "agents": ["x", "y", "x"], "solvents": ["z"]},
        {"rxn_str": "b", "agents": ["y"], "solvents": []},
        {"rxn_str": "c", "agents": [], "solvents": []},
        {"rxn_str": "d", "agents": ["w", "y", "q"], "solvents": ["y"]},
        {"rxn_str": "e", "agents": ["y", None], "solvents": []},
    ]
    df = rx_rows(spark, inputs)
    out = C.map_rare_molecules_to_other(df, C.condition_value_counts(df), min_freq=2)
    got = {r["rxn_str"]: r for r in out.select("rxn_str", *C.CONDITION_ROLES).collect()}
    ref_in = [{role: r.get(role, []) for role in C.CONDITION_ROLES} | {"rxn_str": r["rxn_str"]} for r in inputs]
    want = {r["rxn_str"]: r for r in _ref_rare_to_other(ref_in, 2)}
    assert set(got) == set(want) == {"a", "b", "c", "d", "e"}
    for k in want:
        for role in C.CONDITION_ROLES:
            assert list(got[k][role] or []) == want[k][role], (k, role)
    # y (count 5) and x (count 2) survive; z/w/q (count 1) -> 'other'
    assert list(got["a"]["agents"]) == ["x", "y", "x"]
    assert list(got["a"]["solvents"]) == ["other"]
    assert list(got["d"]["agents"]) == ["other", "y", "other"]
    assert list(got["e"]["agents"]) == ["y", None]


def test_unresolved_nullout_join_equals_literal_path(spark):
    """P11 modes (a) and (c) once had two null-out paths (an isin
    literal and a join); the one broadcast-join path must equal the
    pure-Python reference on a seeded corpus: NULL members, NULL role
    arrays (stay NULL for scalar roles, [] for products), arrays_zip
    padding in both directions, bad names in every role, and rows with
    nothing bad."""
    import random

    rng = random.Random(31)
    bad_names = [f"bad{i}" for i in range(40)]
    pool = bad_names + [f"ok{i}" for i in range(60)] + [None]

    def arr(max_n):
        if rng.random() < 0.15:
            return None
        return [rng.choice(pool) for _ in range(rng.randint(0, max_n))]

    cols = ["rid", *C.ALL_ROLES, "yields", "rxn_str", "is_mapped", "original_index"]
    rows = []
    for i in range(400):
        prods = arr(3)
        n_y = rng.choice([0, 1, 2, 3, 4])  # deliberately mis-sized vs prods
        yields = None if rng.random() < 0.2 else [
            None if rng.random() < 0.3 else float(rng.randint(0, 100)) for _ in range(n_y)
        ]
        rows.append(dict(zip(cols, (
            i, arr(3), arr(3), arr(2), arr(2), arr(2), prods, yields, None, rng.random() < 0.5, i,
        ))))
    df = spark.createDataFrame([tuple(r[c] for c in cols) for r in rows], _MEMBERSHIP_SCHEMA)
    names = spark.createDataFrame([(n,) for n in bad_names], "name string")
    bad = set(bad_names)

    for mode, mode_kw in (
        ("a", dict(unresolved_names="none_if_mapped_else_remove_rxn")),
        ("c", dict(unresolved_names="none")),
    ):
        got = _as_rows(C.handle_unresolved_names(df, names, C.CleanConfig(**mode_kw)))
        want = {r["rid"]: o for r in rows if (o := _ref_unresolved(r, bad, mode)) is not None}
        assert set(got) == set(want), mode
        assert got == want, (mode, [k for k in want if got[k] != want[k]][:3])
        # both kinds of row survive: some lost a bad member, some had none
        assert any(got[k] != rows[k] for k in got), mode
        assert len(want) < len(rows) or mode == "c"
