"""Regenerate COVERAGE.md: SURVEY §2 operator inventory → where each
operator lives (module), which oracle-gated queries exercise it, and
which unit tests pin it. Run: python tools/gen_coverage.py
"""

from __future__ import annotations

import sys
from collections import defaultdict
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

# SURVEY §2 id → (implementation site, unit-test site or "" )
# Query coverage is pulled live from the registry; entries with no
# registered query are covered by unit tests only (noted).
IMPL: dict[str, tuple[str, str]] = {
    # §2.1 scans/sources/sinks
    "S1": ("sources/ord.py scan_ord_files + ord_datasource.py (native format 'ord', planning-time pruning)", "tests/test_sources.py"),
    "S2": ("sources/ord_wire.py pure-Python protobuf wire codec + sources/ord.py decode_reactions + ord_datasource.py per-partition decode", "tests/test_ord_wire.py"),
    "S3": ("sources/ord.py scan_ord_files(skip_substring) + ord_datasource skip/contains options + functions/rxn.py filename_contains", "tests/test_sources.py"),
    "S4": ("functions/rxn.py grant_date_from_filename", "tests/test_extract.py"),
    "S5": ("sources/ord.py write_extracted (partitionBy source file)", "tests/test_sources.py"),
    "S6": ("operators/cleaning.py merge_extracted + schema.py wide_to_array", "tests/test_cleaning.py"),
    "S7": ("sources/ord.py merge_molecule_names", "tests/test_sources.py"),
    "S8": ("sources/solvents.py (packaged 615-row dimension, CSV loader, name map, smiles set)", "tests/test_sources.py"),
    "S9": ("operators/cleaning.py train_test_split + DataFrame.write.parquet", "tests/test_cleaning.py"),
    "S10": ("functions/chem.py morgan_fingerprint_udf → ArrayType column (npy export = collect-side util)", "tests/test_chem.py"),
    "S11": ("out-of-engine utility by design (SURVEY S11)", ""),
    "S12": ("config json sink/source (lineage metadata; cli.py _dump_config)", ""),
    # §2.2 projections/filters
    "P1": ("array model: role column select (schema.py)", "tests/test_cleaning.py"),
    "P2": ("operators/cleaning.py trim_components", "tests/test_cleaning.py"),
    "P3": ("operators/cleaning.py require_core_components", "tests/test_cleaning.py"),
    "P4": ("operators/cleaning.py require_core_components", "tests/test_cleaning.py"),
    "P5": ("operators/cleaning.py remove_reactants_equal_products", "tests/test_cleaning.py"),
    "P6": ("operators/cleaning.py enforce_yield_consistency", "tests/test_cleaning.py"),
    "P7": ("functions/rxn.py is_number + drop_numeric_identifiers", "tests/test_extract.py"),
    "P8": ("functions/rxn.py drop_empty_members + schema.py yields alignment", "tests/test_extract.py"),
    "P9": ("schema.py MISSING sentinel handling in wide_to_array / normalize_sentinels", "tests/test_cleaning.py"),
    "P10": ("sources/solvents.py apply_name_replacements (broadcast map)", "tests/test_sources.py"),
    "P11": ("operators/cleaning.py handle_unresolved_names (3 modes)", "tests/test_cleaning.py"),
    "P12": ("functions/rxn.py remove_pd_c_carbon", "tests/test_extract.py"),
    "P13": ("functions/rxn.py impute_ice_temperature", "tests/test_extract.py"),
    # §2.3 joins
    "J1": ("functions/rxn.py split_solvents_agents (broadcast set)", "tests/test_extract.py"),
    "J2": ("sources/solvents.py name_to_smiles_map + apply_name_replacements", "tests/test_sources.py"),
    "J3": ("operators/cleaning.py remove_rows_with_rare_molecules (broadcast semi + anti join)", "tests/test_cleaning.py"),
    "J4": ("operators/cleaning.py train_test_split (hash semi-join leakage repair)", "tests/test_cleaning.py"),
    "J5": ("functions/rxn.py align_yields_to_products (first-match, in-row)", "tests/test_extract.py"),
    "J-equi": ("DataFrame.join via Catalyst (tpch battery)", ""),
    "J-outer": ("DataFrame.join left_outer", ""),
    "J3-semi": ("left_semi joins", ""),
    "J3-anti": ("left_anti joins", ""),
    "J-asof[abs]": ("operators/asof.py (as-of / range join)", "tests/test_similarity_ops.py"),
    "J-range[abs]": ("broadcast band join vs tier dimension (queries/relational.py)", ""),
    # §2.4 aggregations
    "A1": ("sources/ord.py merge_molecule_names (distinct+sort)", "tests/test_sources.py"),
    "A2": ("array_sort(array_distinct(...)) — clean scaffold", ""),
    "A3": ("operators/cleaning.py condition_value_counts", "tests/test_cleaning.py"),
    "A4": ("operators/cleaning.py map_rare_molecules_to_other", "tests/test_cleaning.py"),
    "A5": ("operators/cleaning.py remove_rows_with_rare_molecules", "tests/test_cleaning.py"),
    "A6": ("operators/cleaning.py dedup_reactions (seeded random survivor)", "tests/test_cleaning.py"),
    "A7": ("count()/Observation telemetry (bench.py)", ""),
    "A8": ("operators/metrics.py frequency_informed_guess + topk_combo_accuracy", "tests/test_metrics.py"),
    "A9": ("operators/metrics.py role_popularity", "tests/test_metrics.py"),
    "A10": ("operators/metrics.py rare_threshold_sweep (one-pass)", "tests/test_metrics.py"),
    "A-cube[abs]": ("cube()", ""),
    "A-rollup[abs]": ("rollup()", ""),
    "A-stats[abs]": ("variance/stddev aggregates", ""),
    "A-gsets[abs]": ("groupingSets() + GROUPING() markers", ""),
    "A-pctl[abs]": ("exact interpolated percentiles (F.percentile)", ""),
    # §2.5 / §2.6 windows & sorts
    "W1": ("operators/cleaning.py dedup order + scramble keys (md5-seeded)", "tests/test_cleaning.py"),
    "W2": ("orderBy(desc(count)).limit(N) / rank windows", ""),
    "W-ntile[abs]": ("ntile() bucketing windows", ""),
    "O1": ("orderBy(input_file_name) — source ordering", ""),
    "O2": ("array_sort per role list", ""),
    "O3": ("functions/chem.py tm_first_order", "tests/test_chem.py"),
    "O4": ("array model (nulls removed; arrays_zip alignment)", "tests/test_cleaning.py"),
    "O5": ("functions/rxn.py sort_products_longest_first + yields_to_longest_product", "tests/test_extract.py"),
    "O6": ("schema.py array_to_wide column ordering", "tests/test_cleaning.py"),
    "O7": ("orderBy(desc(count))", ""),
    # §2.7 set ops
    "U1": ("multi-file scan union / unionByName", ""),
    "U2": ("union().distinct() (merge_molecule_names)", "tests/test_sources.py"),
    "U3": ("array_intersect/array_except (split_solvents_agents)", "tests/test_extract.py"),
    "U4": ("predicate OR / arrays_overlap (rare-row removal)", "tests/test_cleaning.py"),
    # §2.8 scalar functions
    "F1": ("functions/rxn.py strip_filename", "tests/test_extract.py"),
    "F2": ("functions/rxn.py rxn_segments/rxn_is_valid/rxn_role", "tests/test_extract.py"),
    "F3": ("functions/chem.py canonical_smiles_udf + canonicalise_via_dimension", "tests/test_chem.py"),
    "F4": ("functions/chem.py (atom-map strip inside canonical UDF via is_mapped)", "tests/test_chem.py"),
    "F5": ("functions/chem.py has_transition_metal_udf", "tests/test_chem.py"),
    "F6": ("functions/rxn.py temperature_to_celsius", "tests/test_extract.py"),
    "F7": ("functions/rxn.py time_to_hours", "tests/test_extract.py"),
    "F8": ("functions/rxn.py yield_percentage", "tests/test_extract.py"),
    "F9": ("functions/rxn.py parse_experiment_date (+grant-date quirk documented)", "tests/test_extract.py"),
    "F10": ("functions/rxn.py is_number (Python float() semantics incl. underscores)", "tests/test_extract.py"),
    "F11": ("sources/solvents.py lower-cased name keys", "tests/test_sources.py"),
    "F12": ("contains/isin predicates (charcoal, uspto, ice)", "tests/test_extract.py"),
    "F13": ("operators/cleaning.py reaction_hash (sha256)", "tests/test_cleaning.py"),
    "F14": ("functions/chem.py _morgan_fp_one kernel, one memo per UDF: reaction_fingerprint_udf (gen-fp, fused per row), morgan_fingerprint_udf / parsed_morgan_fp_udf (one column)", "tests/test_chem.py, tests/test_cli.py"),
    "F15": ("functions/chem.py reaction_fingerprint_udf (gen-fp: product − Σ reactants in the fused kernel) + fingerprint_difference (zip_with over fingerprint columns)", "tests/test_chem.py, tests/test_cli.py"),
    "F16": ("operators/cleaning.py scramble_role_lists", "tests/test_cleaning.py"),
    "F17": ("operators/metrics.py ohe_vocab + encode_with_vocab", "tests/test_metrics.py"),
    "F18": ("operators/metrics.py set_equality_match", "tests/test_metrics.py"),
    "F19": ("operators/metrics.py topn_combination_match", "tests/test_metrics.py"),
    "F20": ("operators/cleaning.py train_test_split", "tests/test_cleaning.py"),
    # §2.9 streaming (extension)
    "streaming-window": ("streaming/pipeline.py windowed_event_counts", "tests/test_streaming.py"),
    "streaming-session": ("streaming/pipeline.py sessionized_events", "tests/test_streaming.py"),
    "streaming-dedup": ("streaming/pipeline.py streaming_dedup_reactions", "tests/test_streaming.py"),
    "streaming-ingest": ("streaming/pipeline.py stream_extracted_reactions + sinks", "tests/test_streaming.py"),
    # beyond-reference LLM-pipeline operators
    "exact-dedup": ("operators/dedup.py exact_dup_groups", "tests/test_dedup_ops.py"),
    "minhash-lsh[abs]": ("operators/dedup.py minhash_signatures + lsh_candidate_pairs", "tests/test_dedup_ops.py"),
    "simhash[abs]": ("operators/dedup.py simhash", "tests/test_dedup_ops.py"),
    "ngram-jaccard[abs]": ("operators/dedup.py ngram_jaccard_pairs", "tests/test_dedup_ops.py"),
    "embedding-neardup[abs]": ("operators/similarity.py near-dup pairs", "tests/test_similarity_ops.py"),
    "ann-bruteforce[abs]": ("operators/similarity.py cosine top-k", "tests/test_similarity_ops.py"),
    "ann-lsh[abs]": ("operators/similarity.py LSH-bucketed top-k", "tests/test_similarity_ops.py"),
    "ann-ivf[abs]": ("operators/similarity.py IVF coarse cells + n_probe re-rank", "tests/test_similarity_ops.py"),
    "langid[abs]": ("operators/text.py language ID", "tests/test_text_ops.py"),
    "quality[abs]": ("operators/text.py quality scoring", "tests/test_text_ops.py"),
    "tokencount[abs]": ("operators/text.py token counting", "tests/test_text_ops.py"),
    "fingerprint[abs]": ("operators/text.py document fingerprinting", "tests/test_text_ops.py"),
    "multimodal": ("operators/multimodal.py decode/resize/frame-sample/embed (kernels stubbed, plumbing real)", "tests/test_multimodal.py"),
    # round-3 additions
    "connected-components[abs]": ("operators/dedup.py duplicate_clusters (iterative min-label propagation; recursive-CTE oracle)", "tests/test_dedup_ops.py"),
    "sampling[abs]": ("queries/text_battery.py deterministic hash-threshold stratified sampling", ""),
    "mixture[abs]": ("queries/text_battery.py weighted corpus mixing (explode replication)", ""),
    "pii-scrub[abs]": ("queries/text_battery.py regex PII redaction (pure regexp_replace)", ""),
    "packing[abs]": ("queries/text_battery.py sequential token-budget packing (per-shard prefix sum)", ""),
    "resample[abs]": ("queries/relational.py 1-hour grid resample + forward fill", ""),
    "streaming-state": ("streaming/pipeline.py running_user_totals (applyInPandasWithState)", "tests/test_streaming.py"),
    # round-4 additions
    "repetition[abs]": ("queries/curation_battery.py Gopher-style dup-token / top-bigram repetition signals", ""),
    "chunking[abs]": ("queries/curation_battery.py sliding-window token chunking (doc → training sequences)", ""),
    "tfidf[abs]": ("queries/curation_battery.py per-doc salient terms (tf × rareness, log-free)", ""),
    "cdc-compaction[abs]": ("queries/curation_battery.py latest-state-per-key event-log compaction", ""),
    "decontamination[abs]": ("queries/curation_battery.py train∩eval 5-gram overlap scrub (broadcast eval side)", ""),
    "snapshot-diff[abs]": ("queries/curation_battery.py added/removed/changed corpus version diff on content hashes", ""),
    "streaming-join[abs]": ("streaming/pipeline.py stream_stream_attribution_join (watermarked stream-stream join, value-gated)", ""),
    "ann-quantized[abs]": ("queries/similarity_battery.py int8-absmax quantized cosine top-k + error audit", ""),
    "ann-pq[abs]": ("operators/clustering.py pq_adc_topk — per-subspace codebooks + broadcast ADC tables + exact re-rank", "tests/test_clustering.py"),
    "streaming-upsert[abs]": ("queries/streaming_battery.py foreachBatch idempotent state merge (value-gated vs batch compaction)", ""),
    "S-formats[abs]": ("queries/relational.py CSV/JSON/ORC write+read parity (explicit schemas, no inference)", ""),
    "W-range[abs]": ("queries/relational.py RANGE-frame trailing-hour window on epoch-microsecond bounds", ""),
    "A-winsorize[abs]": ("queries/relational.py group-wise winsorization (clip at broadcast per-group quartiles)", ""),
    "J-bucketed[abs]": ("queries/relational.py bucketBy(8).sortBy saveAsTable → exchange-free SortMergeJoin", "tests/test_plans.py"),
    "kmeans[abs]": ("operators/clustering.py exact integer-space Lloyd's k-means (IVF trainer)", "tests/test_clustering.py"),
    "ann-ivf-trained[abs]": ("queries/similarity_battery.py k-means-trained IVF index → probe → exact re-rank", "tests/test_clustering.py"),
    "scd2[abs]": ("queries/relational.py gaps-and-islands SCD2 state-interval build", ""),
    "lm-quality[abs]": ("queries/text_battery.py corpus-statistics token-DF quality scores (exact-rational)", ""),
    "zorder[abs]": ("operators/layout.py Morton-code clustering; file-pruning win measured on parquet footer stats", "tests/test_storage_layout.py"),
    "span-dedup[abs]": ("queries/curation_battery.py C4-style corpus span dedup + document rebuild", ""),
    "dedup-exact[abs]": ("operators/dedup.py exact content-hash dedup (see also exact-dedup)", "tests/test_dedup_ops.py"),
    "skew-salting[abs]": ("operators/relational.py salted_join (hot-key spread, value-gated vs plain join)", "tests/test_storage_layout.py"),
    "inverted-index[abs]": ("queries/curation_battery.py sharded posting-segment index build", ""),
    "J-interval[abs]": ("queries/relational.py bucketed interval-overlap join (sessions × incident windows)", ""),
    "checksum[abs]": ("queries/relational.py order-independent table content checksum + rollup", ""),
    "incremental-dedup[abs]": ("operators/dedup.py lsh_band_keys index probe (batch vs persisted corpus keys)", ""),
    "fuzzy-join[abs]": ("queries/relational.py blocked Levenshtein self-join (entity resolution)", ""),
    "countmin[abs]": ("queries/curation_battery.py deterministic count-min sketch estimates vs truth", "tests/test_curation_ops.py"),
    "hll[abs]": ("queries/relational.py deterministic md5-HLL distinct estimates vs exact", ""),
    "streaming-static-join[abs]": ("queries/streaming_battery.py stream-static dimension enrichment (stateless broadcast join per micro-batch)", ""),
    "triangles[abs]": ("queries/dedup_battery.py triangle census of the near-dup graph (two-join enumeration)", ""),
    "pagerank[abs]": ("operators/graph.py fixed-point PageRank (integer arithmetic, unrolled-iteration oracle)", "tests/test_graph.py"),
    "funnel[abs]": ("queries/relational.py ordered view→click→purchase session funnel (conditional-min stages)", ""),
    "cohort[abs]": ("queries/relational.py cohort retention matrix (integer epoch-week buckets)", ""),
    "data-quality[abs]": ("queries/relational.py Deequ-style rule report (fused conditional counts + FK orphan probe)", ""),
    "json[abs]": ("queries/relational.py schema-on-read JSON payload extraction (from_json, codegen parse)", ""),
    "W-hopping[abs]": ("queries/relational.py hopping 1h/15min windows (native window(), integer-epoch oracle)", ""),
    "corrupt-ingest[abs]": ("queries/relational.py PERMISSIVE CSV read with _corrupt_record quarantine accounting", ""),
    "hist-quantile[abs]": ("queries/curation_battery.py mergeable 64-bin histogram quantile sketch (deterministic, value-gated)", ""),
    "kfold[abs]": ("queries/curation_battery.py deterministic hash k-fold CV assignment census", ""),
    "drift[abs]": ("queries/curation_battery.py chi-square token-distribution drift between corpus generations", ""),
    # round 6
    "prefix-filter[abs]": ("operators/dedup.py prefix_filter_jaccard_pairs (AllPairs/PPJoin exact set-similarity join)", "tests/test_dedup_ops.py"),
    "bloom[abs]": ("queries/relational.py deterministic Bloom filter build + probe (md5 positions, broadcast state)", "tests/test_plans.py"),
    "compaction[abs]": ("queries/relational.py size-targeted compaction bin-packing planner (window over per-hour stats)", "tests/test_storage_layout.py"),
    "incremental-view[abs]": ("queries/relational.py abelian-group materialized-aggregate maintenance from signed CDC delta", "tests/test_plans.py"),
    "J-asof-fwd[abs]": ("operators/asof.py asof_join_forward (union+window, time order reversed)", "tests/test_similarity_ops.py"),
    "domain-cap[abs]": ("queries/text_battery.py per-domain cap by deterministic md5 rank (WindowGroupLimit plan)", "tests/test_plans.py"),
    "streaming-outer-join[abs]": ("streaming/pipeline.py stream_stream_attribution_join(join_type='left_outer') watermark-expiry emission", "tests/test_streaming.py"),
    "semantic-dedup[abs]": ("queries/similarity_battery.py SemDeDup-style within-cell greedy pruning over IVF cells", "tests/test_plans.py"),
    "J-asof-nearest[abs]": ("operators/asof.py asof_join_nearest (one union, two window passes, pick-nearer on whole-row structs)", "tests/test_properties.py"),
    "UDTF[abs]": ("operators/text.py token_runs_udtf — Python UDTF (Spark 4 table function), map-side stateful one-to-many RLE", "tests/test_text_ops.py"),
    # round 7
    "prefix-filter-skew[abs]": ("queries/dedup_battery.py prefix filtering on the df-skewed (boilerplate) regime, full corpus, t=1/2", ""),
    "containment[abs]": ("operators/dedup.py containment_pairs — directed |A∩B|/|A| gate from one symmetric co-occurrence join", "tests/test_analytics_ops.py"),
    "twa[abs]": ("queries/analytics_battery.py per-key time-weighted average (lead-segment window + rounded-product dsum)", "tests/test_analytics_ops.py"),
    "gapfill-locf[abs]": ("queries/analytics_battery.py dense-grid gapfill + last(ignorenulls) LOCF from the per-user span table", "tests/test_analytics_ops.py"),
    "grouped-mode[abs]": ("queries/analytics_battery.py per-key modal value via count agg + WindowGroupLimit top-1", "tests/test_analytics_ops.py"),
    "mad-outliers[abs]": ("queries/analytics_battery.py median/MAD robust outlier gate (exact percentile on group dims)", "tests/test_analytics_ops.py"),
    "skyline[abs]": ("queries/analytics_battery.py O(n log n) sorted-sweep pareto frontier on the supplier-grain aggregate", "tests/test_analytics_ops.py"),
    "weighted-sampling[abs]": ("queries/analytics_battery.py integer-lottery-ticket weighted per-key top-k sample (no libm)", "tests/test_analytics_ops.py"),
    "bloom-pruned-join[abs]": ("queries/analytics_battery.py Catalyst runtime bloom-filter join pruning, executed-plan-asserted in the graded fn", "tests/test_storage_layout.py"),
    "streaming-full-outer-join[abs]": ("streaming/pipeline.py stream_stream_attribution_join(join_type='full_outer') — both-side watermark-expiry emission", ""),
    "temperature-sampling[abs]": ("queries/analytics_battery.py sqrt-temperature corpus resampling (correctly-rounded IEEE sqrt keeps the fractional exponent under the value oracle)", ""),
    "weighted-median-udaf[abs]": ("queries/lakehouse_battery.py groupBy().applyInPandas batch Arrow UDAF — exact weighted median; plan pinned to FlatMapGroupsInPandas", "tests/test_lakehouse_ops.py"),
    "grouped-ewma[abs]": ("queries/lakehouse_battery.py ordered HOF fold F.aggregate ↔ list_reduce, α=1/2 power-of-two steps (bit-identical)", "tests/test_lakehouse_ops.py"),
    "batch-merge[abs]": ("queries/lakehouse_battery.py one-shot MERGE INTO: reprocess delta full-outer rollup snapshot, 5 action paths", "tests/test_lakehouse_ops.py"),
    "bm25[abs]": ("queries/lakehouse_battery.py log-free BM25: rational tf saturation + integer df-rank rareness, TakeOrderedAndProject top-k", "tests/test_lakehouse_ops.py"),
    "theta-sketch[abs]": ("queries/lakehouse_battery.py KMV bottom-256 seeded-md5 sketches; estimate value-gated beside the exact join", "tests/test_lakehouse_ops.py"),
    "weighted-sample-replacement[abs]": ("queries/lakehouse_battery.py integer inverse-CDF over cumulative weights, seeded-md5 draws broadcast", "tests/test_lakehouse_ops.py"),
    "multi-metric-topk[abs]": ("queries/lakehouse_battery.py N rankings on one window partitioning + stack unpivot", "tests/test_lakehouse_ops.py"),
    "zorder[abs]": ("queries/lakehouse_battery.py Morton interleave from one div/mod template (twin-tested) + per-file footer stats", "tests/test_lakehouse_ops.py"),
    "interval-overlap[abs]": ("queries/lakehouse_battery.py epoch-day grid-binned candidates + exact overlap filter + dedup", "tests/test_lakehouse_ops.py"),
    "repetition-gate[abs]": ("queries/text_battery.py Gopher-style dup-n-gram/top-gram gates, integer cross-multiplied thresholds; operators/text.py ngrams_raw + linear run-length max_multiplicity — zero-exchange map-side plan", "tests/test_text_repetition.py"),
}


def main() -> None:
    import orderly_spark.queries  # noqa: F401
    from orderly_spark.registry import REGISTRY

    by_survey: dict[str, list[str]] = defaultdict(list)
    for n, q in REGISTRY.items():
        for sid in (q.survey or "").replace(" ", "").split(","):
            if sid:
                by_survey[sid].append(n)
    # expand ranges like P2-P6
    import re

    for sid in list(by_survey):
        m = re.fullmatch(r"P(\d+)-P(\d+)", sid)
        if m:
            for i in range(int(m.group(1)), int(m.group(2)) + 1):
                by_survey[f"P{i}"].extend(by_survey[sid])

    lines = [
        "# COVERAGE — SURVEY §2 operator inventory → implementation / gate / tests",
        "",
        "Generated by `python tools/gen_coverage.py` from the live query",
        "registry. *Queries* are under the driver's DuckDB-oracle gate",
        "(`__spark_entry__.queries()` / `oracle_sql()`); *tests* are pytest",
        "files with literal-fixture unit coverage. `[abs]` = absent in the",
        "reference, added for the 100 TB LLM-pipeline north star.",
        "",
        "| SURVEY id | Implementation | Oracle-gated queries | Unit tests |",
        "|---|---|---|---|",
    ]
    for sid, (impl, test) in IMPL.items():
        qs = sorted(set(by_survey.get(sid, [])))
        qcell = ", ".join(f"`{q}`" for q in qs) if qs else "—"
        tcell = f"`{test}`" if test else "—"
        # escape literal pipes so notes like |A∩B|/|A| can't split the
        # markdown columns (r7 verdict #7 — this file is parsed by
        # tooling as the §2-id → gating-query audit trail)
        impl = impl.replace("|", "\\|")
        lines.append(f"| {sid} | {impl} | {qcell} | {tcell} |")

    n_q = len(REGISTRY)
    n_o = sum(1 for q in REGISTRY.values() if q.oracle)
    lines += [
        "",
        f"Registry totals: **{n_q} queries**, **{n_o} with DuckDB oracles**"
        " (the rest are rows-only checks by design).",
        "",
        "Plan-level guarantees (pushdown reaches the scan, dimension joins",
        "broadcast, shuffle-count ceilings, Python UDFs only on broadcast",
        "dimension paths) are enforced by `tests/test_plans.py` via",
        "`orderly_spark/plans/audit.py`.",
    ]
    (REPO / "COVERAGE.md").write_text("\n".join(lines) + "\n")
    print(f"wrote COVERAGE.md: {len(IMPL)} survey ids, {n_q} queries, {n_o} oracles")


if __name__ == "__main__":
    main()
