"""Driver contract for the spark-graft builder (PySpark target).

- ``entry(spark)`` — flagship query smoke check at sf0.001.
- ``queries()`` — every implemented SURVEY §2 operator as a named
  (spark, sf_dir) -> DataFrame callable.
- ``oracle_sql()`` — matching DuckDB SQL per query (same column
  names/aliases on both sides). Queries without an oracle entry are
  non-SQL-expressible and get the driver's rows-only check.

The real inventory lives in ``orderly_spark/queries/`` and registers
into ``orderly_spark.registry.REGISTRY``; this module is a thin
adapter over it.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def _registry():
    import orderly_spark.queries  # noqa: F401  (import side-effect fills REGISTRY)
    from orderly_spark.registry import ordered_registry

    return ordered_registry()


def _pin_session(spark: SparkSession) -> None:
    """Set each runtime conf of ``SESSION_CONTRACT`` on ``spark``.

    Static confs cannot be pinned here. In particular
    ``spark.python.sql.dataFrameDebugging.enabled`` stays as the
    session's builder left it: on a session that ``get_spark`` did not
    build it is usually on, and building a plan then costs about 2-2.5x
    the py4j round trips ``tests/test_build_budget.py`` pins."""
    from orderly_spark.session import SESSION_CONTRACT

    for k, v in SESSION_CONTRACT:
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf locked by the host — proceed with its value


def _with_contract(
    fn: Callable[[SparkSession, str], DataFrame],
) -> Callable[[SparkSession, str], DataFrame]:
    import functools

    @functools.wraps(fn)
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        _pin_session(spark)
        return fn(spark, sf_dir)

    return wrapped


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    _pin_session(spark)
    reg = _registry()
    return reg["q1_pricing_summary"].fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: _with_contract(q.fn) for name, q in _registry().items()}


def oracle_sql() -> dict[str, str]:
    return {name: q.oracle for name, q in _registry().items() if q.oracle is not None}
