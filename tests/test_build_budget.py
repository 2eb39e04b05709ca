"""A driver budget for building each headline slot's plan.

Building a registry plan on the driver can cost more than running it,
and the cost hides in py4j round trips (one per JVM call) and in Spark
jobs started before the plan is returned (eager barriers, schema
inference). Each slot of bench.py's ``HEADLINE`` (it includes every
slot of the benchmark's ``registry_hot`` workload) is built on sf0.001
from an empty schema cache, and both counts are checked against
``BUDGET``.

``BUDGET`` holds the measured value of each count. The round-trip limit
adds ``PY4J_HEADROOM`` to it; the job count has no headroom, because
every build job is a labelled barrier (``session.barrier``) and adding
one is a design change. Raising an entry needs a ``CHANGES.md`` line
that gives the reason. Lower an entry when a change lowers its count.
"""

from __future__ import annotations

import math

import pytest

#: slot -> (py4j round trips, Spark jobs) while its DataFrame is built,
#: measured on a 4-vCPU host with pyspark 4.1.2
BUDGET = {
    "q1_pricing_summary": (153, 0),
    "q3_top_revenue_orders": (134, 0),
    "q5_nation_revenue": (205, 0),
    "q6_forecast_revenue": (67, 0),
    "q9_product_profit": (190, 0),
    "q10_returned_customers": (159, 0),
    "q21_waiting_supplier": (202, 0),
    "c_clean_pipeline_fullscale": (772, 6),
    "c_split_fullscale": (173, 0),
    "d_minhash_lsh_pairs": (676, 0),
    "t_quality_scores": (371, 0),
    "s_cosine_topk": (381, 0),
    "s_ivf_cosine_topk": (1494, 0),
    "j_band_quantity_tiers": (108, 0),
    "mm_media_meta_decode": (191, 0),
    "s_windowed_event_counts": (65, 0),
    "t_training_prep_pipeline": (848, 0),
    "t_span_dedup_rebuild": (313, 0),
    "d_incremental_index_dedup": (1352, 3),
    "g_pagerank_part_supplier": (522, 14),
    "d_prefix_filter_jaccard_skew": (595, 5),
    "s_semantic_dedup_cells": (858, 0),
    "t_bm25_rational_rank": (460, 2),
    "r_merge_upsert_batch": (307, 0),
}
#: fraction a slot's round trips may exceed its measured value by
PY4J_HEADROOM = 0.10


def test_budget_covers_the_benchmark_slots():
    import bench
    from benchmark.workloads import SLOTS

    assert list(BUDGET) == list(bench.HEADLINE)
    assert set(SLOTS) <= set(BUDGET)


def _build(spark, sf_dir: str, slot: str, group: str) -> tuple[int, int]:
    """Build ``slot`` from an empty schema cache; return its (py4j round
    trips, Spark jobs)."""
    from orderly_spark import tables
    from orderly_spark.registry import REGISTRY
    from orderly_spark.session import py4j_commands

    sc = spark.sparkContext
    tables._SCHEMA_CACHE.clear()
    sc.setJobGroup(group, group)
    try:
        with py4j_commands(spark) as sent:
            df = REGISTRY[slot].fn(spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    del df
    return sent[0], len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("slot", list(BUDGET))
def test_slot_builds_within_budget(spark, sf_smoke, slot):
    """The counted build follows one uncounted build, so a function the
    package registers in the session on first use is not charged to
    whichever slot happens to run first."""
    import orderly_spark.queries  # noqa: F401

    _build(spark, sf_smoke, slot, f"budget-warm-{slot}")
    py4j, jobs = _build(spark, sf_smoke, slot, f"budget-{slot}")
    want_py4j, want_jobs = BUDGET[slot]
    assert jobs <= want_jobs, f"{slot}: {jobs} Spark jobs while building, budget {want_jobs}"
    limit = math.ceil(want_py4j * (1 + PY4J_HEADROOM))
    assert py4j <= limit, f"{slot}: {py4j} py4j round trips while building, budget {limit} ({want_py4j} measured)"
