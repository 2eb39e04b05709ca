"""SQL entry-path tests: the function registry (SURVEY §4 item 1),
the spark.sql query surface, unpivot plan shape, and the approximate
sketches' tolerance vs exact answers."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from orderly_spark.functions.sql_registry import register_sql_functions
from orderly_spark.tables import load, register_views


@pytest.fixture(scope="module", autouse=True)
def _registered(spark):
    names = register_sql_functions(spark)
    assert "canonical_smiles" in names
    return names


def _one(spark, sql: str):
    return spark.sql(sql).collect()[0][0]


class TestSqlScalarFunctions:
    def test_strip_filename(self, spark):
        # F1 golden case (extractor.py:55-65 semantics)
        assert _one(spark, "SELECT strip_filename('A b/c.pb')") == "a_b-fs-c-pb"
        assert _one(spark, """SELECT strip_filename('x: "y" z''s')""") == "x_y_zs"

    @pytest.mark.parametrize(
        "s,expect",
        [
            ("35", True),
            ("3.5e2", True),
            ("1_000", True),  # Python int() underscore rule
            ("1_", False),
            ("_1", False),
            ("1__0", False),
            ("nan", True),  # float('nan') parses
            ("abc", False),
        ],
    )
    def test_is_number_python_semantics(self, spark, s, expect):
        assert _one(spark, f"SELECT is_number('{s}')") is expect

    def test_reaction_hash_matches_expression_form(self, spark):
        # SQL-registry F13 == operators/cleaning.reaction_hash on the
        # same rows (null member → 'NULL' sentinel, sorted roles).
        from orderly_spark.operators.cleaning import reaction_hash

        df = spark.createDataFrame(
            [(["b", None, "a"], ["p2", "p1"]), ([], ["x"])],
            "reactants array<string>, products array<string>",
        )
        expr_hash = df.select(reaction_hash(df).alias("h")).collect()
        sql_hash = df.selectExpr("reaction_hash(reactants, products) AS h").collect()
        assert [r.h for r in expr_hash] == [r.h for r in sql_hash]

    def test_unit_conversions(self, spark):
        assert _one(spark, "SELECT temp_to_celsius(212.0D, 'FAHRENHEIT', NULL)") == 100.0
        assert _one(spark, "SELECT temp_to_celsius(NULL, NULL, 'DRY_ICE')") == -78.5
        assert _one(spark, "SELECT temp_to_celsius(NULL, NULL, NULL)") is None
        assert _one(spark, "SELECT time_to_hours(90.0D, 'MINUTE')") == 1.5
        assert _one(spark, "SELECT time_to_hours(2.0D, 'DAY')") == 48.0
        # r9 HALF_EVEN lockstep with the Column twin: 7.5 min = 0.125 h
        # rounds to the even digit like Python round() (HALF_UP gave 0.13)
        assert _one(spark, "SELECT time_to_hours(7.5D, 'MINUTE')") == 0.12

    def test_grant_date(self, spark):
        got = _one(
            spark, "SELECT grant_date_from_filename('uspto-grants-1995_11')"
        )
        assert (got.year, got.month, got.day) == (1995, 11, 1)
        assert _one(spark, "SELECT grant_date_from_filename('no-date-here')") is None

    def test_rule_functions_plan_without_python(self, spark):
        # F5 and F13 are SQL-bodied: they inline into the JVM plan
        from orderly_spark.plans.audit import audit

        df = spark.sql(
            "SELECT has_transition_metal(s) AS t, reaction_hash(array(s), array(s)) AS h "
            "FROM VALUES ('[Pd]'), (NULL) AS v(s)"
        )
        assert not audit(df).has_python_udf
        assert [r.t for r in df.collect()] == [True, False]

    def test_chem_udfs_callable_from_sql(self, spark):
        # the SQL call path reaches the same kernels as the DataFrame UDFs
        row = spark.sql(
            "SELECT canonical_smiles('CCO', false) AS c, has_transition_metal('CCO') AS t"
        ).collect()[0]
        assert (row.c, row.t) == ("C(C)O", False)
        fp = spark.sql("SELECT morgan_fp('CCO') AS fp").collect()[0].fp
        assert fp is not None and len(fp) == 2048


class TestUnpivotPlan:
    def test_unpivot_is_single_scan_expand(self, spark, sf_smoke):
        l = load(spark, sf_smoke, "lineitem")
        df = l.unpivot(
            ids=["l_orderkey"],
            values=["l_quantity", "l_discount"],
            variableColumnName="measure",
            valueColumnName="val",
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Expand" in plan
        # one scan, not a UNION of per-measure re-scans
        assert plan.count("Scan parquet") == 1
        assert df.count() == 2 * l.count()


class TestApproxSketches:
    def test_sketches_within_tolerance_of_exact(self, spark, sf_oracle):
        l = load(spark, sf_oracle, "lineitem")
        approx = (
            l.groupBy("l_returnflag")
            .agg(
                F.approx_count_distinct("l_partkey", rsd=0.01).alias("nd"),
                F.percentile_approx("l_extendedprice", 0.5, 10000).alias("p50"),
            )
            .collect()
        )
        exact = {
            r.l_returnflag: r
            for r in l.groupBy("l_returnflag")
            .agg(
                F.count_distinct("l_partkey").alias("nd"),
                F.expr("percentile(l_extendedprice, 0.5D)").alias("p50"),
            )
            .collect()
        }
        for row in approx:
            e = exact[row.l_returnflag]
            assert abs(row.nd - e.nd) <= 0.02 * e.nd  # 2× the 1% rsd
            assert abs(row.p50 - e.p50) <= 0.01 * abs(e.p50)

    def test_sketches_deterministic_across_runs(self, spark, sf_oracle):
        """The other half of a_approx_sketches' rows-only rationale
        (r10 verdict item 7): the built-in sketch values are NOT
        oracle-replayable in DuckDB, but they ARE a deterministic
        function of the data — two independent evaluations must agree
        bit-for-bit, so the rows-only gate still pins a stable
        surface, not noise."""
        import orderly_spark.queries  # noqa: F401  (fills the registry)
        from orderly_spark.registry import REGISTRY

        q = REGISTRY["a_approx_sketches"].fn
        a = sorted(map(tuple, q(spark, sf_oracle).collect()))
        b = sorted(map(tuple, q(spark, sf_oracle).collect()))
        assert a == b


class TestSharedAnsiText:
    def test_spark_sql_runs_shared_text(self, spark, sf_smoke):
        from orderly_spark.queries.sql_battery import _SHARED_ANSI

        register_views(spark, sf_smoke)
        df = spark.sql(_SHARED_ANSI)
        assert df.columns == ["n_name", "o_year", "revenue", "n_lines"]
        assert df.count() > 0
