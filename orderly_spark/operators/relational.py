"""Generic relational operators the reference implements ad hoc in
pandas (SURVEY §2.4/§2.5), generalised and expressed Catalyst-first.

Every function takes and returns DataFrames — lazy, no actions — so
Catalyst can fuse them with surrounding plan nodes.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def epoch_us(col: Column) -> Column:
    """Microseconds since 1970-01-01 00:00:00 *wall clock*, from either
    timestamp flavor. Computed as a TIMESTAMP_NTZ difference — pure
    field arithmetic, no zone interpretation — so consumer differences
    are stable in ANY session zone (a cast through zoned TIMESTAMP
    would shift gaps straddling a DST transition by the offset delta)
    and match the DuckDB oracle's naive-timestamp semantics exactly.
    """
    epoch = F.lit("1970-01-01 00:00:00").cast("timestamp_ntz")
    return F.timestamp_diff("MICROSECOND", epoch, col.cast("timestamp_ntz"))


def topk_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    order_cols: Sequence[Column],
    k: int,
    rank_col: str = "rn",
) -> DataFrame:
    """Top-k rows per group (SURVEY W2 generalised).

    One shuffle on the group keys; rank + filter stay in the same
    stage. At scale prefer this over global sort+limit per group.
    Pass fully deterministic ``order_cols`` (include a unique
    tiebreaker) so results are stable across partitionings.
    """
    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return df.withColumn(rank_col, F.row_number().over(w)).filter(F.col(rank_col) <= k)


def sessionize(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    gap_minutes: float,
    tiebreak_col: str,
) -> DataFrame:
    """Gap-based sessionization (batch twin of streaming
    ``session_window``): adds ``session_id`` (0-based per user).

    Single shuffle on the user key; the lag + running-sum windows share
    the same partitioning so they fuse into one physical window stage.
    """
    w = Window.partitionBy(user_col).orderBy(F.col(ts_col), F.col(tiebreak_col))
    prev_ts = F.lag(F.col(ts_col)).over(w)
    gap_us = epoch_us(F.col(ts_col)) - epoch_us(prev_ts)
    new_sess = (
        F.when(prev_ts.isNull() | (gap_us > int(gap_minutes * 60_000_000)), F.lit(1))
        .otherwise(F.lit(0))
    )
    return df.withColumn(
        "session_id",
        F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding, 0)) - F.lit(1),
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-mitigated equi-join: the big side's hot keys are spread
    over ``n_salts`` sub-keys; the small side is replicated ×n_salts
    so every salted partition finds its match.

    Use when ONE key dominates a shuffle join and AQE's skew splitting
    isn't available/enough (e.g. a window or aggregation downstream
    pins the partitioning). The salt is deterministic
    (xxhash64(row-identity) % n_salts would also work; monotonic id is
    fine since salts only need to spread, not reproduce).

    Cost: small side ×n_salts (keep it broadcast-sized ÷ n_salts);
    big side untouched. For broadcastable small sides prefer a plain
    broadcast join — salting is for the sort-merge regime."""
    salted_big = big.withColumn("__salt", (F.monotonically_increasing_id() % n_salts).cast("int"))
    salts = F.explode(F.array(*[F.lit(i) for i in range(n_salts)])).alias("__salt")
    salted_small = small.select("*", salts)
    out = salted_big.join(salted_small, [key, "__salt"], how)
    return out.drop("__salt")
