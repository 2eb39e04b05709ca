"""The ORDerly clean pipeline (reference: orderly/clean/cleaner.py,
traced in SURVEY §3.2) re-expressed as composable lazy DataFrame
transforms over the array-model reaction schema.

Stage order matches the reference's hard-coded pipeline
(cleaner.py:533-882): merge → unresolved names → catalyst/reagent
remap → component-count trims → non-empty filters → reactants≠products
→ yield consistency → dedup (random survivor) → rare-molecule handling
→ second dedup → scramble → (export pivot handles nulls-last/column
sort). Catalyst fuses the filter stages into one pass; the only
shuffles are the membership collapses by row id, the frequency
aggregate, the dedup windows, and the split-hash window — each
annotated below with its 100 TB behaviour.

Determinism: the reference relies on seeded numpy RNG + pandas row
order (cleaner.py:796-816, admits platform-dependence at :483). Every
random choice here is re-keyed to md5(data, seed) so results are pure
functions of the data — identical across partitionings, retries and
cluster sizes.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from orderly_spark.functions import rxn as R
from orderly_spark.schema import MISSING, wide_to_array
from orderly_spark.session import barrier
from orderly_spark.tables import micros_from_nanos

CONDITION_ROLES = ("agents", "solvents", "reagents", "catalysts")
ALL_ROLES = ("reactants", "agents", "reagents", "solvents", "catalysts", "products")


#: P11's unresolved-name modes (cleaner.py:572-657; see
#: :func:`handle_unresolved_names`), in the order of the reference CLI
#: flags that select them:
#: ``--set-unresolved-names-to-none-if-mapped-rxn-str-exists-else-del-rxn``,
#: ``--remove-rxn-with-unresolved-names``, ``--set-unresolved-names-to-none``
UNRESOLVED_NAME_MODES = ("none_if_mapped_else_remove_rxn", "remove_rxn", "none")


@dataclass
class CleanConfig:
    """Knobs mirroring the reference CLI (cleaner.py:948-1196)."""

    num_reactant: int = 5
    num_product: int = 5
    num_solv: int = 2
    num_agent: int = 3
    num_cat: int = 0
    num_reag: int = 0
    consistent_yield: bool = True
    min_frequency_of_occurrence: int = 100
    map_rare_molecules_to_other: bool = False  # False → remove rows (cleaner.py:370-396)
    unresolved_names: str = "none_if_mapped_else_remove_rxn"  # one of UNRESOLVED_NAME_MODES
    drop_duplicates: bool = True
    scramble: bool = True
    train_test_split_fraction: float = 0.9
    seed: int = 12345
    dedup_subset_roles: Sequence[str] = field(
        default_factory=lambda: ["reactants", "agents", "reagents", "solvents", "catalysts", "products"]
    )

    def __post_init__(self) -> None:
        if self.unresolved_names not in UNRESOLVED_NAME_MODES:
            raise ValueError(
                f"unresolved_names must be one of {UNRESOLVED_NAME_MODES}, "
                f"got {self.unresolved_names!r}"
            )


# ---------------------------------------------------------------------------
# S6 — merge
# ---------------------------------------------------------------------------

def merge_extracted(spark, parquet_dir: str) -> DataFrame:
    """Read all extracted parquets as one DataFrame (union implicit in
    the multi-file scan), normalise sentinels, pivot to the array
    model, and add ``original_index`` (cleaner.py:98-135).

    The contiguous global index is built in two phases so no stage
    ever funnels the whole dataset through one task (the naive
    ``row_number() OVER (ORDER BY …)`` does exactly that):

    1. per-file position — ``row_number`` partitioned by
       ``extracted_from_file`` (parallel across files);
    2. per-file offset — running sum over the per-file COUNTS
       (one row per file; its global window sorts #files rows, not
       #rows) broadcast-joined back.

    ``offset + position`` reproduces the exact total order of the
    single-window formulation (file asc, md5(rxn_str) asc within
    file), so parity is unchanged. The counts subtree re-scans only
    the pruned ``extracted_from_file`` column.
    """
    df = spark.read.option("mergeSchema", "true").parquet(parquet_dir)
    dtypes = dict(df.dtypes)
    for c in ("date_of_experiment", "grant_date"):
        # pandas-written extraction parquets store timestamp[ns], which
        # the session's nanosAsLong conf surfaces as epoch-nanos longs —
        # restore real (microsecond) timestamps
        if dtypes.get(c) == "bigint":
            df = df.withColumn(c, F.timestamp_micros(micros_from_nanos(c)))
    # P9 on SCALAR string columns (arrays are cleaned inside
    # wide_to_array): a '<missing>' rxn_str is NULL, not a real string
    # (cleaner.py:129-134)
    scalar_strings = [
        c for c, t in df.dtypes if t == "string" and c != "extracted_from_file"
    ]
    df = normalize_sentinels(df, scalar_strings)
    df = wide_to_array(df)
    # full-row fingerprint tiebreak: rows sharing rxn_str within a
    # file (USPTO repeats reactions) tie on the order key, and
    # row_number alone would break the tie by physical partition order
    # (a nondeterministic original_index). The JSON fingerprint makes
    # the total order a pure function of the data; exact duplicates of
    # ENTIRE rows remain interchangeable (identical fingerprints ->
    # identical downstream behaviour whichever ordinal each copy gets).
    # Timestamp columns enter the fingerprint as unix MICROS, not
    # rendered strings: to_json renders timestamps in the session
    # timeZone, which would make the survivor choice conf-dependent
    # across sessions, while epoch micros are the same integers under
    # any timeZone. to_json omits null fields, so a null timestamp is
    # absent from the fingerprint. Exact dtype
    # match: unix_micros accepts only TIMESTAMP — a timestamp_ntz
    # column (e.g. a microsecond pandas/pyarrow parquet read under
    # inferTimestampNTZ=true) would raise DATATYPE_MISMATCH, and NTZ
    # needs no conversion anyway: its to_json rendering carries no
    # zone, so it is already session-timezone-independent.
    fp_fields = [
        F.unix_micros(F.col(c)).alias(c) if t == "timestamp" else F.col(c)
        for c, t in df.dtypes
    ]
    pos_w = Window.partitionBy("extracted_from_file").orderBy(
        F.md5(F.coalesce(F.col("rxn_str"), F.lit(""))),
        F.md5(F.to_json(F.struct(*fp_fields))),
    )
    df = df.withColumn("__pos", F.row_number().over(pos_w) - 1)
    counts = df.groupBy("extracted_from_file").agg(F.count(F.lit(1)).alias("__n"))
    off_w = Window.orderBy("extracted_from_file").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "extracted_from_file",
        F.coalesce(F.sum("__n").over(off_w), F.lit(0)).alias("__off"),
    )
    # null-safe join: a partitionBy write round-trips a null partition
    # value back as null, and an inner equi-join would silently drop
    # those rows (the single-window formulation kept them)
    offsets = offsets.withColumnRenamed("extracted_from_file", "__f")
    return (
        df.join(F.broadcast(offsets), F.col("extracted_from_file").eqNullSafe(F.col("__f")))
        .withColumn("original_index", F.col("__off") + F.col("__pos"))
        .drop("__pos", "__off", "__f")
    )


def normalize_sentinels(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """P9: `"<missing>"` → null on scalar string columns
    (cleaner.py:129-134); array columns are cleaned by wide_to_array."""
    out = df
    for c in cols:
        out = out.withColumn(c, F.when(F.col(c) == MISSING, None).otherwise(F.col(c)))
    return out


# ---------------------------------------------------------------------------
# P11 — unresolved (non-SMILES) molecule names
# ---------------------------------------------------------------------------

def _quote(name: str) -> str:
    """A column name as a SQL identifier for the F.expr/selectExpr
    builders: backticked, with embedded backticks doubled."""
    return "`" + name.replace("`", "``") + "`"


def _pack_row(cols: Sequence[str]) -> Column:
    """``struct(c1, c2, …)`` over every column, as ONE SQL-parsed
    expression (same py4j-round-trip rationale as :func:`_arr`; SQL
    struct names its fields by attribute exactly like F.struct)."""
    return F.expr("struct(" + ", ".join(_quote(c) for c in cols) + ")")


def _unpack_row(df: DataFrame, cols: Sequence[str], keep: Sequence[str] = ()) -> DataFrame:
    """Inverse of :func:`_pack_row` on a ``__row`` column, in one
    selectExpr call; ``keep`` columns of ``df`` ride along after it."""
    return df.selectExpr(*[f"__row.{_quote(c)} AS {_quote(c)}" for c in cols], *keep)


def _arr(c: str) -> Column:
    # built as ONE SQL-parsed expression: the Column-builder form
    # (F.coalesce(F.col(c), F.array().cast(...))) costs ~10 py4j round
    # trips per call and this helper is invoked dozens of times per
    # pipeline construction; F.expr ships the whole subtree in one
    # call and parses to the identical expression
    return F.expr(f"coalesce({_quote(c)}, CAST(array() AS array<string>))")


def _member_hits(df: DataFrame, roles: Sequence[str], dim: DataFrame, agg: Column) -> DataFrame:
    """Probe every member of ``roles`` against ``dim`` (one string
    column ``__hit``) and return one row per input row: the packed row
    ``__row`` (see :func:`_pack_row`) beside ``agg``, an aggregate over
    ``__hit``, which is NULL for a member that matched nothing.

    Members are exploded beside the packed row, probed in a broadcast
    hash join (O(1) per member; NULL members never match) and collapsed
    back by ``original_index``. Invariants:

    - nothing is collected to the driver at any dimension size, and
      building the plan runs no Spark job;
    - the caller's plan is consumed once; the partial aggregation
      re-collapses the adjacent exploded copies map-side, so about one
      copy per row crosses the exchange, and none does when ``df`` is
      already hash-partitioned by the id;
    - ``dim`` holds each ``__hit`` at most once, so a row yields
      exactly ``max(1, #members)`` probed copies;
    - ``original_index`` is unique. A group with more copies than its
      row has members holds two rows, and the collapse fails the job
      naming ``original_index`` instead of merging them.
    """
    members = F.concat(*[_arr(r) for r in roles])
    exploded = df.select(
        F.col("original_index").alias("__ui"),
        _pack_row(df.columns).alias("__row"),
        F.greatest(F.size(members), F.lit(1)).alias("__copies"),
        F.explode_outer(members).alias("__m"),
    )
    probed = exploded.join(F.broadcast(dim), exploded["__m"] == dim["__hit"], "left")
    collapsed = probed.groupBy("__ui").agg(
        F.any_value("__row").alias("__row"),  # all copies identical
        agg,
        F.count(F.lit(1)).alias("__n"),
        F.max("__copies").alias("__copies"),
    )
    unique_id = F.when(F.col("__n") == F.col("__copies"), F.lit(True)).otherwise(
        F.raise_error(F.lit(
            "original_index is not unique: two input rows share one original_index, "
            "and the membership collapse would merge them"
        ))
    )
    return collapsed.filter(unique_id).drop("__ui", "__n", "__copies")


def handle_unresolved_names(df: DataFrame, names: DataFrame, cfg: CleanConfig) -> DataFrame:
    """P11 (cleaner.py:572-657), one of three modes (``cfg.unresolved_names``):

    a) ``none_if_mapped_else_remove_rxn``: set→NULL if the row has a
       mapped rxn_str, else drop the row;
    b) ``remove_rxn``: drop any row containing an unresolved name;
    c) ``none``: set→NULL everywhere.

    ``names`` is one string column ``name`` (a dimension table; NULL
    and repeated names are ignored). Membership is one broadcast hash
    join over every role's members (:func:`_member_hits`): no driver
    collect at any dimension size, no Spark job while building, and
    ``original_index`` must be unique (a repeat fails the job). Mode
    (b) keeps only a per-row boolean; modes (a)/(c) keep the set of
    unresolved names present in the row and null them out in place:

    - a nulled member is removed (the reference pushes it to None and
      relies on nulls-last + slot trimming, extractor.py:940-1016), and
      so is a NULL member; a NULL role array stays NULL, except
      products, which become [];
    - products move WITH their paired yields (cleaner.py:415-469), so
      the products↔yields zip is filtered, never products alone; the
      zip pads the shorter side with NULL, so an extra yield is
      dropped and an extra product keeps a NULL yield;
    - mode (a) tests for an unresolved name on the original arrays and
      keeps a row when ``is_mapped`` is true or it had none (a NULL
      ``is_mapped`` row survives only if it had none).
    """
    names_d = names.select(F.col("name").alias("__hit")).where(F.col("__hit").isNotNull()).distinct()

    if cfg.unresolved_names == "remove_rxn":
        flagged = _member_hits(
            df, ALL_ROLES, names_d, F.max(F.col("__hit").isNotNull()).alias("__has_bad")
        )
        return _unpack_row(flagged.filter(~F.col("__has_bad")), df.columns)

    hits = _member_hits(df, ALL_ROLES, names_d, F.collect_set("__hit").alias("__hits"))
    if cfg.unresolved_names == "none_if_mapped_else_remove_rxn":
        hits = hits.filter(F.expr("__row.is_mapped OR size(__hits) = 0"))

    # SQL-parsed expressions over the packed row, two selectExpr calls
    # in all: a withColumn chain re-analyses the plan once per role
    # (see _arr for the py4j rationale)
    def null_out(arr: str) -> str:
        return f"transform({arr}, x -> IF(array_contains(__hits, x), NULL, x))"

    pz = (
        "filter(zip_with("
        + null_out("coalesce(__row.products, CAST(array() AS array<string>))")
        + ", coalesce(__row.yields, CAST(array() AS array<double>)), "
        "(p, y) -> struct(p AS p, y AS y)), s -> s.p IS NOT NULL)"
    )
    cleaned = {
        r: f"filter({null_out('__row.' + _quote(r))}, x -> x IS NOT NULL)"
        for r in ("reactants", "agents", "reagents", "solvents", "catalysts")
    }
    cleaned["products"] = "transform(__pz, s -> s.p)"
    cleaned["yields"] = "transform(__pz, s -> s.y)"
    return hits.selectExpr("__row", f"{pz} AS __pz", "__hits").selectExpr(
        *[f"{cleaned.get(c, '__row.' + _quote(c))} AS {_quote(c)}" for c in df.columns]
    )


def rename_catalysts_to_reagents(df: DataFrame) -> DataFrame:
    """cleaner.py:148-167,660-681 — when trust_labelling output keeps
    separate catalyst/reagent roles but the run wants them merged:
    reagents ← reagents ∪ catalysts (order: reagents then catalysts),
    catalysts emptied. Column renumbering dissolves into array concat."""
    return df.withColumn("reagents", F.concat(_arr("reagents"), _arr("catalysts"))).withColumn(
        "catalysts", F.array().cast("array<string>")
    )


# ---------------------------------------------------------------------------
# P2–P6 — row filters
# ---------------------------------------------------------------------------

def trim_components(df: DataFrame, cfg: CleanConfig) -> DataFrame:
    """P2 (cleaner.py:170-225): drop rows with more members than the
    configured count for each role (rows, not slots: a row with a
    non-null beyond slot N is removed; padding happens at export)."""
    limits = {
        "reactants": cfg.num_reactant,
        "products": cfg.num_product,
        "solvents": cfg.num_solv,
        "agents": cfg.num_agent,
        "catalysts": cfg.num_cat,
        "reagents": cfg.num_reag,
    }
    out = df
    for role, n in limits.items():
        if n < 0:
            # reference -1 sentinel = keep every column/row untrimmed
            # (cleaner.py:179-182)
            continue
        out = out.filter(F.size(_arr(role)) <= n)
    return out


def require_core_components(df: DataFrame) -> DataFrame:
    """P3+P4 (cleaner.py:227-269): at least one reactant and one
    product; at least one condition component overall."""
    cond_size = sum(F.size(_arr(r)) for r in CONDITION_ROLES)
    return df.filter(
        (F.size(_arr("reactants")) > 0) & (F.size(_arr("products")) > 0) & (cond_size > 0)
    )


def remove_reactants_equal_products(df: DataFrame) -> DataFrame:
    """P5 (cleaner.py:271-287): drop rows whose reactant *set* equals
    the product set (recrystallisation etc.) — a row-loop in the
    reference, a pure expression here."""
    rset = F.array_sort(F.array_distinct(_arr("reactants")))
    pset = F.array_sort(F.array_distinct(_arr("products")))
    return df.filter(rset != pset)


def enforce_yield_consistency(df: DataFrame) -> DataFrame:
    """P6 (cleaner.py:289-316): every yield null or in [0,100], and
    the row-sum of yields ≤ 100; violating rows are dropped."""
    ys = F.coalesce(F.col("yields"), F.array().cast("array<double>"))
    each_ok = F.forall(ys, lambda y: y.isNull() | ((y >= 0) & (y <= 100)))
    total = F.aggregate(ys, F.lit(0.0), lambda acc, y: acc + F.coalesce(y, F.lit(0.0)))
    return df.filter(each_ok & (total <= 100.0))


# ---------------------------------------------------------------------------
# A3–A6 — frequency handling + dedup
# ---------------------------------------------------------------------------

def condition_value_counts(df: DataFrame) -> DataFrame:
    """A3 (cleaner.py:318-339): global frequency of every molecule
    across the condition roles. Two-phase hash aggregate; output is
    distinct-molecule sized (broadcastable)."""
    return (
        df.select(F.explode(F.concat(*[_arr(r) for r in CONDITION_ROLES])).alias("molecule"))
        .groupBy("molecule")
        .agg(F.count(F.lit(1)).alias("count"))
    )


def map_rare_molecules_to_other(df: DataFrame, counts: DataFrame, min_freq: int, other: str = "other") -> DataFrame:
    """A4 (cleaner.py:341-368): condition-role members with global
    count < k become ``other``; NULL members stay NULL, a NULL role
    array becomes [], and member order is kept.

    ``counts`` holds one row per ``molecule`` with its ``count`` (as
    :func:`condition_value_counts` builds it). A member is rare iff it
    is NOT in the frequent set {molecule: count ≥ k}, which holds at
    most total_members / k molecules by construction. That set is the
    broadcast dimension of one membership join (:func:`_member_hits`):
    no driver collect at any vocabulary size, no Spark job while
    building, and ``original_index`` must be unique (a repeat fails
    the job). Each row keeps the set of frequent molecules it holds
    and maps the rest in place."""
    freq = counts.filter(F.col("count") >= min_freq).select(F.col("molecule").alias("__hit"))
    hits = _member_hits(df, CONDITION_ROLES, freq, F.collect_set("__hit").alias("__hits"))
    out = _unpack_row(hits, df.columns, ["__hits"])
    for r in CONDITION_ROLES:
        out = out.withColumn(
            r,
            F.transform(
                _arr(r),
                lambda x: F.when(F.array_contains(F.col("__hits"), x), x)
                .when(x.isNotNull(), F.lit(other))
                .otherwise(F.lit(None).cast("string")),
            ),
        )
    return out.drop("__hits")


def remove_rows_with_rare_molecules(df: DataFrame, counts: DataFrame, min_freq: int) -> DataFrame:
    """A5/J3 (cleaner.py:370-396): drop rows containing any condition
    molecule with global count < k.

    Shape: explode members → broadcast-HASH semi-join the rare set →
    distinct offending ids → anti-join back. A real hash probe per
    member — in-row alternatives (array_contains / map element_at) are
    LINEAR scans of the rare set per member, which measured ~10 s at
    sf0.1 once the rare set hit ~2·10⁴; this shape is O(1) per member
    and every shuffle carries only (id, molecule) pairs."""
    rare = counts.filter(F.col("count") < min_freq).select("molecule")
    members = df.select(
        F.col("original_index").alias("__rmid"),
        F.explode(F.concat(*[_arr(r) for r in CONDITION_ROLES])).alias("__m"),
    )
    bad_ids = (
        members.join(F.broadcast(rare), members["__m"] == rare["molecule"], "left_semi")
        .select("__rmid")
        .distinct()
    )
    return df.join(bad_ids, df["original_index"] == bad_ids["__rmid"], "left_anti")


def reaction_key(df: DataFrame, roles: Sequence[str], include_yields: bool = False) -> Column:
    """The dedup subset key: POSITIONAL role lists (null→'NULL'),
    '.'-joined per role, '|' between roles. The reference's
    drop_duplicates compares the wide slot columns as-is — no sorting
    (cleaner.py:806-866 runs pre-scramble, so extraction's sorted
    lists arrive in positional==sorted order except agents, which are
    deliberately TM-first); permutations of each other are distinct
    rows there and stay distinct here."""
    # members are md5'd BEFORE joining: fixed-width encodings make the
    # '.'/'|' separators collision-free even when molecule strings
    # themselves contain '.' (SMILES salts like 'Cl.NCCN': ['CC.O'] and
    # ['CC','O'] must differ, as they do in the reference, which
    # compares slot columns pairwise)
    # One SQL-parsed expression per role (the same tree as the
    # Column-builder form: implicit string→binary cast inside md5,
    # coalesce/transform nesting), for few py4j round trips during plan
    # construction; see _arr.
    parts = [
        F.expr(
            f"concat_ws('.', transform(coalesce({_quote(r)}, CAST(array() AS array<string>)), "
            "x -> md5(coalesce(x, 'NULL'))))"
        )
        for r in roles
    ]
    if include_yields:
        parts.append(
            F.expr(
                "concat_ws('.', transform(coalesce(yields, CAST(array() AS array<double>)), "
                "y -> md5(coalesce(CAST(y AS string), 'NULL'))))"
            )
        )
    return F.concat_ws("|", *parts)


def dedup_reactions(df: DataFrame, cfg: CleanConfig, include_yields: bool = False) -> DataFrame:
    """A6 + W1 (cleaner.py:796-866): duplicate elimination where a
    seeded-*random* duplicate survives. The reference shuffles rows
    with numpy then keeps the first; here the survivor is the row
    minimising md5(seed:original_index) within its key group — same
    distribution, but a pure function of the data (retry/partition
    safe; the reference's own result is platform-dependent,
    cleaner.py:483)."""
    key = reaction_key(df, cfg.dedup_subset_roles, include_yields)
    order = F.md5(F.concat_ws(":", F.lit(str(cfg.seed)), F.col("original_index").cast("string")))
    # A row_number window, not a min_by argmin: the min_by full-row
    # struct buffer is not hash-mutable, so it plans as SortAggregate,
    # sorting the full-width rows TWICE (partial + final) around the
    # key exchange, while the window sorts them once after it. On the
    # compute-bound 10×-sf0.1 corpus (``tools/probe.py --gen --scale
    # 10``): min_by 10.3 s, window 7.0 s, identical 725,450 survivors
    # (at sf0.1 both are overhead-bound: 3.3 vs 3.5 s). min_by's partial
    # collapse pays only when duplicates of one key co-locate within map
    # partitions, and at ~50% global dup rate it still lost. Deciding on
    # narrow rows first lost too (13.0 s): its winner relation is a
    # second consumer of the upstream plan, re-running the scaffold.
    w = Window.partitionBy(key).orderBy(order, F.col("original_index"))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# ---------------------------------------------------------------------------
# F16 — scramble
# ---------------------------------------------------------------------------

def scramble_role_lists(df: DataFrame, cfg: CleanConfig, roles: Sequence[str] = ("reactants", "solvents", "reagents", "catalysts")) -> DataFrame:
    """F16 (cleaner.py:471-509): per-row permutation of each role list.
    Agents are excluded (transition-metal-first order must survive,
    cleaner.py:497-500); products/yields excluded (alignment).
    Permutation key: md5(seed:original_index:member) — deterministic."""
    # One SQL-parsed expression per role (the same tree as the
    # Column-builder form; cfg.seed is an int, inlined as the string
    # literal F.lit(str(seed)) produces); see _arr for the
    # py4j-round-trip rationale.
    out = df
    for r in roles:
        out = out.withColumn(
            r,
            F.expr(
                "transform(array_sort(transform("
                f"coalesce({_quote(r)}, CAST(array() AS array<string>)), "
                f"x -> struct(md5(concat_ws(':', '{cfg.seed}', "
                "CAST(original_index AS string), x)) AS k, x AS v))), s -> s.v)"
            ),
        )
    return out


# ---------------------------------------------------------------------------
# F13/F20/J4 — reaction hash + split with leakage repair
# ---------------------------------------------------------------------------

def reaction_hash(df: DataFrame) -> Column:
    """F13 over ``df``'s ``reactants`` and ``products``: the
    :func:`orderly_spark.functions.rxn.reaction_hash` expression, which
    the ``reaction_hash`` SQL function runs too."""
    return F.expr(R.reaction_hash(_quote("reactants"), _quote("products")))


def train_test_split_routed(df: DataFrame, cfg: CleanConfig) -> DataFrame:
    """F20 + J4 core: ``df`` plus a boolean ``__to_train`` column —
    deterministic pseudo-random split, then every row whose reaction
    hash co-occurs with a train row routes to train (leakage repair).

    The repair is ONE whole-partition window over the content hash
    (``any train row in my hash group?``), so the caller's upstream
    plan is consumed exactly ONCE (semi+anti or join shapes re-run the
    upstream scaffold per consumer branch, and AQE's stage cache does
    not dedupe the copies; profiled on c_split_fullscale).
    One exchange on the 32-byte hash is the standard exact-dedup
    shuffle any leakage repair must pay; the reference's 15-minute
    row-loop hash matching (BASELINE.md) is this same exchange.
    Routing is identical: to_train ⇔ is_train ∨ hash∈train_hashes
    ⇔ max(is_train) over the hash partition."""
    keyed = df.withColumn("__hash", reaction_hash(df)).withColumn(
        "__r", F.md5(F.concat_ws(":", F.lit(f"split{cfg.seed}"), F.col("original_index").cast("string")))
    )
    # md5 hex is uniform: threshold on the first 8 hex digits
    frac_key = F.conv(F.substring(F.col("__r"), 1, 8), 16, 10).cast("double") / float(0xFFFFFFFF)
    keyed = keyed.withColumn("__is_train", frac_key < cfg.train_test_split_fraction)
    w = Window.partitionBy("__hash")
    return keyed.withColumn(
        "__to_train", F.max(F.col("__is_train").cast("int")).over(w) == 1
    ).drop("__hash", "__r", "__is_train")


def train_test_split(df: DataFrame, cfg: CleanConfig) -> tuple[DataFrame, DataFrame]:
    """F20 + J4 (cleaner.py:1375-1421 + 886-945): deterministic
    pseudo-random split with leakage repair; returns (train, test).

    The routed relation (:func:`train_test_split_routed`) passes a
    barrier before the two filters. A real deployment materialises
    both splits to sinks (S9) anyway, so the barrier mirrors the
    deployment shape."""
    # two readers: the train and test filters
    routed = barrier(train_test_split_routed(df, cfg), "train_test_split.routed")
    final_train = routed.filter(F.col("__to_train")).drop("__to_train")
    clean_test = routed.filter(~F.col("__to_train")).drop("__to_train")
    return final_train, clean_test


# ---------------------------------------------------------------------------
# the full pipeline
# ---------------------------------------------------------------------------

def clean_pipeline(df: DataFrame, molecule_names: DataFrame, cfg: CleanConfig) -> DataFrame:
    """The fixed stage order of cleaner._get_dataframe
    (cleaner.py:533-882), minus the merge (see merge_extracted) and
    the export pivot (schema.array_to_wide).

    ``original_index`` must be unique (the membership stages fail the
    job on a repeat). Dimensions (unresolved names, frequent
    molecules) reach the rows through broadcast joins; nothing is
    collected to the driver at any dimension size.

    When the rare-molecule stage and the first dedup both run, the
    deduped relation passes a barrier (``session.barrier``): the only
    Spark work this function runs while building."""
    dedup1_ran = False
    out = handle_unresolved_names(df, molecule_names, cfg)
    if cfg.num_cat == 0 and cfg.num_reag > 0:
        out = rename_catalysts_to_reagents(out)
    out = trim_components(out, cfg)
    out = require_core_components(out)
    out = remove_reactants_equal_products(out)
    if cfg.consistent_yield:
        out = enforce_yield_consistency(out)
    if cfg.min_frequency_of_occurrence != 0:
        # the first dedup exists only to stop duplicates inflating the
        # frequency counts — the reference runs it inside the
        # rare-molecule block, not unconditionally (cleaner.py:806-828)
        if cfg.drop_duplicates:
            out = dedup_reactions(out, cfg, include_yields=cfg.consistent_yield)
            # two readers: the rare stage's value counts and membership probe
            out = barrier(out, "clean_pipeline.dedup1")
            dedup1_ran = True
        counts = condition_value_counts(out)
        k = cfg.min_frequency_of_occurrence
        if cfg.map_rare_molecules_to_other:
            out = map_rare_molecules_to_other(out, counts, k)
        else:
            out = remove_rows_with_rare_molecules(out, counts, k)
    if cfg.drop_duplicates:
        # yield columns join the subset whenever consistent_yield is on
        # (get_columns_for_duplicate_checking, cleaner.py:768-794):
        # reactions differing only in yield are deliberately KEPT.
        # Skip when provably a no-op: dedup1 already ran with the SAME
        # key and the rare stage only removed whole rows (row removal
        # cannot create new duplicates; map-to-other CAN, by collapsing
        # two rare molecules into 'other', so that path still dedups).
        if not (dedup1_ran and not cfg.map_rare_molecules_to_other):
            out = dedup_reactions(out, cfg, include_yields=cfg.consistent_yield)
    if cfg.scramble:
        out = scramble_role_lists(out, cfg)
    return out


def observed(df: DataFrame, name: str):
    """A7 (cleaner.py row-count telemetry): attach an Observation so
    the row count of this stage is collected as a side effect of
    whatever action runs downstream — NO extra count() pass per stage
    (the reference materialises and counts after every stage; at
    100 TB each of those is a full job). Returns (df, observation);
    read ``observation.get`` after an action."""
    from pyspark.sql import Observation

    obs = Observation(name)
    return df.observe(obs, F.count(F.lit(1)).alias("rows")), obs
