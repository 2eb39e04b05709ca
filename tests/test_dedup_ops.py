"""Literal-fixture unit tests for the dedup operator family (exact,
MinHash+LSH, SimHash, n-gram Jaccard) — the 100 TB training-data
surface. Exact expected values where the math is hand-checkable;
metamorphic properties (identical docs must pair, disjoint docs must
not) elsewhere."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from orderly_spark.operators import dedup as D

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
    (3, "the quick brown fox jumps over a lazy dog today"),  # near dup of 1
    (4, "completely unrelated text about chemistry and reactions"),
    (5, "ab"),  # too short for 3-shingles
]


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_exact_dup_groups_literal(spark, docs):
    got = D.exact_dup_groups(docs, "doc_id", F.col("text")).collect()
    assert len(got) == 1
    assert got[0]["n_dups"] == 2
    assert got[0]["ids"] == [1, 2]


def test_minhash_signatures_shape_and_equality(spark, docs):
    sigs = {r["__id"]: r["sig"] for r in D.minhash_signatures(docs, "doc_id", "text").collect()}
    # doc 5 has < 3 tokens -> no shingles -> excluded by design
    assert set(sigs) == {1, 2, 3, 4}
    assert all(len(s) == 16 for s in sigs.values())
    assert sigs[1] == sigs[2]  # identical text, identical signature
    assert sigs[1] != sigs[4]
    # near-dup: shared 3-shingles = 4 of union 11 -> Jaccard ~0.36, so
    # E[agreement] ~ 5.8 of 16; deterministic hashes give exactly 6 here —
    # assert the loose band so a hash-scheme change still flags a break
    agree = sum(a == b for a, b in zip(sigs[1], sigs[3]))
    assert 3 <= agree < 16


def test_lsh_candidate_pairs(spark, docs):
    pairs = {(r["id_a"], r["id_b"]) for r in D.lsh_candidate_pairs(docs, "doc_id", "text").collect()}
    assert (1, 2) in pairs  # exact dups agree on every band
    assert all(a < b for a, b in pairs)
    assert not any(4 in p for p in pairs)  # unrelated doc never pairs

    # longer documents: exact duplicates pair, shingle-disjoint ones never do
    longer = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "the quick brown fox jumps over the lazy dog again and again"),
            (3, "completely different words populate this entirely unrelated text body"),
            (4, "yet another disjoint vocabulary sentence with zero overlap present here"),
        ],
        "doc_id long, text string",
    )
    pairs = {(r.id_a, r.id_b) for r in D.lsh_candidate_pairs(longer, "doc_id", "text").collect()}
    assert pairs == {(1, 2)}


def test_ngram_jaccard_exact_value(spark):
    # A: "a b c d" -> bigrams {a b, b c, c d}; B: "a b c e" -> {a b, b c, c e}
    # shared=2, J = 2 / (3+3-2) = 0.5
    df = spark.createDataFrame([(1, "a b c d"), (2, "a b c e")], ["doc_id", "text"])
    got = D.ngram_jaccard_pairs(df, "doc_id", "text", shingle_n=2, threshold=0.4).collect()
    assert len(got) == 1
    assert (got[0]["id_a"], got[0]["id_b"]) == (1, 2)
    assert got[0]["jaccard"] == pytest.approx(0.5)


def test_ngram_jaccard_threshold_excludes(spark):
    df = spark.createDataFrame([(1, "a b c d"), (2, "a b c e")], ["doc_id", "text"])
    assert D.ngram_jaccard_pairs(df, "doc_id", "text", shingle_n=2, threshold=0.6).count() == 0


def test_simhash16_range_and_determinism(spark):
    df = spark.createDataFrame(DOCS, ["doc_id", "text"])
    vals = {r["doc_id"]: r["sh"] for r in df.select("doc_id", D.simhash16(F.col("text")).alias("sh")).collect()}
    assert all(0 <= v <= 0xFFFF for v in vals.values())
    assert vals[1] == vals[2]
    again = {r["doc_id"]: r["sh"] for r in df.select("doc_id", D.simhash16(F.col("text")).alias("sh")).collect()}
    assert vals == again


def test_simhash_pairs_finds_exact_dup_at_hamming_zero(spark, docs):
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in D.simhash_pairs(docs, "doc_id", "text").collect()}
    assert got.get((1, 2)) == 0
    assert all(h <= 3 for h in got.values())


def test_simhash_4band_full_recall_at_hamming_3(spark):
    """r9 recall contract: with 4 bands (4-bit buckets), pigeonhole
    guarantees EVERY pair at hamming <= 3 is a candidate — verified
    against brute-force hamming over the computed simhashes. The
    2-band variant on the same corpus is certified complete only at
    hamming <= 1: any pair it misses must be at distance >= 2 with
    its differing bits straddling both halves."""
    rows = [(i, f"tok{i % 7} tok{i % 11} tok{i % 13} tok{i} filler words here") for i in range(60)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    shs = {
        r["doc_id"]: r["sh"]
        for r in df.select("doc_id", D.simhash16(F.col("text")).alias("sh")).collect()
    }
    brute = {
        (a, b): bin(shs[a] ^ shs[b]).count("1")
        for a in shs
        for b in shs
        if a < b and bin(shs[a] ^ shs[b]).count("1") <= 3
    }
    assert brute, "fixture must produce at least one close pair"
    got4 = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in D.simhash_pairs(df, "doc_id", "text", max_hamming=3, bands=4).collect()
    }
    assert got4 == brute  # full recall AND exact distances
    got2 = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in D.simhash_pairs(df, "doc_id", "text", max_hamming=3, bands=2).collect()
    }
    assert set(got2) <= set(brute)
    for pair, h in brute.items():
        if pair not in got2:  # every 2-band miss straddles both halves
            xor = shs[pair[0]] ^ shs[pair[1]]
            assert h >= 2 and (xor & 0xFF) and (xor >> 8)


def test_simhash_pairs_rejects_invalid_bands(spark, docs):
    with pytest.raises(ValueError, match="bands"):
        D.simhash_pairs(docs, "doc_id", "text", bands=3)


def test_pairs_invariant_under_repartitioning(spark, docs):
    base = {(r["id_a"], r["id_b"]) for r in D.lsh_candidate_pairs(docs, "doc_id", "text").collect()}
    shuffled = docs.repartition(7)
    again = {(r["id_a"], r["id_b"]) for r in D.lsh_candidate_pairs(shuffled, "doc_id", "text").collect()}
    assert base == again


def test_duplicate_clusters_path_graph_converges(spark):
    """Worst-case diameter: a path 1-2-3-...-8 plus a separate pair
    must collapse to min-id labels (multi-round propagation), and
    isolated pairs keep their own cluster."""
    from orderly_spark.operators.dedup import duplicate_clusters

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 8)] + [(20, 21)], "id_a long, id_b long"
    )
    got = {r.doc_id: r.cluster_id for r in duplicate_clusters(pairs).collect()}
    assert got == {**{i: 1 for i in range(1, 9)}, 20: 20, 21: 20}


def test_duplicate_clusters_empty_pairs_terminates_immediately(spark):
    """No candidate pairs → empty label frame whose sum aggregates to
    NULL; the convergence check must treat equal NULL sums as the
    fixpoint (regression: a None-guarded comparison spun through all
    max_iterations on empty input)."""
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    out = D.duplicate_clusters(pairs, max_iterations=50).collect()
    assert out == []


def _union_find_labels(edges):
    """Pure-Python connected components: node → min id of its component."""
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_duplicate_clusters_equals_union_find(spark):
    """Min-label propagation labels every node with the min id of its
    component, as a union-find does, on every graph shape: path (the
    worst case for propagation: 20 rounds), cliques joined by a
    bridge, a single edge and random graphs."""
    import random

    cases = {
        "path": [(i, i + 1) for i in range(20)],
        "cliques+bridge": (
            [(i, j) for i in range(5) for j in range(i + 1, 5)]
            + [(i, j) for i in range(10, 15) for j in range(i + 1, 15)]
            + [(4, 10)]
        ),
        "single-edge": [(5, 9)],
    }
    random.seed(7)
    for t in range(2):
        edges = [(random.randrange(60), random.randrange(60)) for _ in range(70)]
        cases[f"random-{t}"] = [(a, b) for a, b in edges if a != b]
    for name, edges in cases.items():
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        got = {r.doc_id: r.cluster_id for r in D.duplicate_clusters(pairs, 50).collect()}
        assert got == _union_find_labels(edges), name


def test_prefix_filter_jaccard_equals_bruteforce(spark, docs):
    """Prefix filtering is EXACT: same pairs + values as the
    all-shingle co-occurrence join at the same threshold."""
    brute = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.125).collect()
    }
    pref = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.prefix_filter_jaccard_pairs(
            docs, "doc_id", "text", t_num=1, t_den=8
        ).collect()
    }
    assert pref == brute
    assert (1, 2) in pref and pref[(1, 2)] == 1.0


def test_prefix_filter_sid_is_injective_on_corpus(spark, sf_smoke):
    """The verify arrays use sid = xxhash64(shingle), a pure function
    of the shingle and so retry-safe. Jaccard is exact iff the
    shingle→sid map is injective on the data. Collision bound: a
    verified candidate pair of docs holding na and nb shingles is
    misread only if one of its na·nb cross pairs of DIFFERENT shingles
    shares a 64-bit hash, probability ≈ na·nb/2^64 per candidate
    (derivation at operators/dedup.py, prefix_filter_jaccard_pairs).
    Audited here on the real (boilerplate-skewed) corpus: distinct
    shingles == distinct sids."""
    from orderly_spark.operators.text import shingles, tokens
    from orderly_spark.tables import load

    d = load(spark, sf_smoke, "documents").select(
        "doc_id",
        F.concat(F.col("text"), F.lit(" copyright notice all rights reserved")).alias("text"),
    )
    sh = d.select(F.explode(shingles(tokens(F.col("text")), 3)).alias("s")).distinct()
    row = sh.agg(
        F.countDistinct("s").alias("n_shingles"),
        F.countDistinct(F.xxhash64("s")).alias("n_sids"),
    ).collect()[0]
    assert row["n_shingles"] > 0
    assert row["n_shingles"] == row["n_sids"]


def test_prefix_filter_prunes_candidates(spark):
    """The candidate join must touch fewer shingle occurrences than
    the exhaustive join: docs sharing only COMMON shingles below the
    overlap bound never become candidates."""
    # 1&2 share only their single most-frequent shingle ('x y z'
    # appears in all docs -> df 4 -> never in a prefix at t=1/2)
    rows = [
        (1, "x y z a b c d e f g"),
        (2, "x y z h i j k l m n"),
        (3, "x y z a b c d e f g"),
        (4, "x y z p q r s t u v"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    # assert on the UNVERIFIED candidate set — the verify stage would
    # mask over-generation, so asserting only the final output cannot
    # detect a broken pruner (review r6): docs 2&4 co-occur on the
    # max-df 'x y z' shingle, which the prefix must exclude at t=1/2,
    # so they must never even become candidates.
    cand = {(r["id_a"], r["id_b"]) for r in
            D.prefix_filter_jaccard_pairs(
                df, "doc_id", "text", t_num=1, t_den=2, candidates_only=True
            ).collect()}
    assert cand == {(1, 3)}  # pruned BEFORE verification
    out = {(r["id_a"], r["id_b"]) for r in
           D.prefix_filter_jaccard_pairs(df, "doc_id", "text", t_num=1, t_den=2).collect()}
    assert out == {(1, 3)}  # the true duplicate pair, nothing else


def test_duplicate_clusters_string_ids_converge(spark):
    """String doc ids (the normal corpus case) must cluster correctly:
    a decimal(38,0) convergence cast throws under ANSI or NULLs the
    sum, which would end the loop after two rounds with intermediate
    labels. A diameter-3 chain needs 3 propagation rounds, so it
    distinguishes real convergence from an early exit."""
    from orderly_spark.operators.dedup import duplicate_clusters

    pairs = spark.createDataFrame(
        [("docA", "docB"), ("docB", "docC"), ("docC", "docD")],
        "id_a string, id_b string",
    )
    got = {r.doc_id: r.cluster_id for r in duplicate_clusters(pairs).collect()}
    assert got == {"docA": "docA", "docB": "docA", "docC": "docA", "docD": "docA"}


def test_duplicate_clusters_raises_on_non_convergence(spark):
    """max_iterations exhaustion must FAIL LOUD, not silently return
    intermediate labels."""
    import pytest as _pytest

    from orderly_spark.operators.dedup import duplicate_clusters

    chain = [(i, i + 1) for i in range(6)]  # diameter 6
    pairs = spark.createDataFrame(chain, "id_a long, id_b long")
    with _pytest.raises(ValueError, match="did not converge"):
        duplicate_clusters(pairs, max_iterations=2)
    # and with enough budget the same graph converges to min-label 0
    got = {r.doc_id: r.cluster_id for r in duplicate_clusters(pairs).collect()}
    assert set(got.values()) == {0}


def test_lsh_band_keys_rejects_invalid_bands(spark):
    """bands > num_hashes degenerated every band hash to md5('') — a
    constant key turning the candidate join into all-pairs O(n^2);
    a non-dividing bands silently dropped trailing hashes (review
    finding, r8). Both now fail loud."""
    import pytest as _pytest

    from orderly_spark.operators.dedup import lsh_band_keys

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="must divide"):
        lsh_band_keys(df, "doc_id", "text", num_hashes=16, bands=32)
    with _pytest.raises(ValueError, match="must divide"):
        lsh_band_keys(df, "doc_id", "text", num_hashes=16, bands=5)


def test_minhash_seed_format_matches_seeded_md5(spark):
    """minhash_signatures now builds its seeded hashes from the shared
    text.seeded_md5 helper; pin that the emitted hash equals the
    documented 'seed:value' md5 so the format can never drift."""
    import hashlib

    from orderly_spark.operators.dedup import minhash_signatures

    df = spark.createDataFrame([(1, "x y z")], "doc_id long, text string")
    sig = minhash_signatures(df, "doc_id", "text", shingle_n=3, num_hashes=2).collect()[0]["sig"]
    want = [
        min(hashlib.md5(f"{h}:x y z".encode()).hexdigest() for _ in [0])
        for h in range(2)
    ]
    assert sig == want  # single 3-shingle doc: min == the one hash


def test_bloom_probe_verdict_only_matches_exact(spark, sf_smoke):
    """r13 hot-bucket hardening: verdict_only=True answers keep/drop
    via a LEFT SEMI join (no pair-product materialisation in hot band
    buckets) — its verdicts and pruning counts must EQUAL the exact
    mode's row for row, with the count sentinel at -1."""
    from pyspark.sql import functions as F

    from orderly_spark.operators import dedup as D

    d = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    new_keys = D.lsh_band_keys(d.filter(F.col("doc_id") % 5 == 0), "doc_id", "text")
    old_keys = D.lsh_band_keys(d.filter(F.col("doc_id") % 5 != 0), "doc_id", "text")
    exact = {
        r.new_doc_id: (r.n_keys, r.n_keys_bloom_pos, r.is_near_dup)
        for r in D.bloom_filtered_index_probe(new_keys, old_keys).collect()
    }
    fast = D.bloom_filtered_index_probe(new_keys, old_keys, verdict_only=True).collect()
    assert {r.new_doc_id for r in fast} == set(exact)
    for r in fast:
        assert r.n_index_matches == -1
        assert (r.n_keys, r.n_keys_bloom_pos, r.is_near_dup) == exact[r.new_doc_id], r


def test_bloom_bitmap_high_m_matches_unfiltered(spark, sf_smoke):
    """r15 (VERDICT r14 item 5): the packed long-array bitmap lets m
    scale past 64 Ki — at m = 1 Mi (16384 words, 128 KiB broadcast)
    the verdict columns must STILL equal the unfiltered exact probe
    (zero false negatives at any m / any representation), and pruning
    can only improve (bloom positives shrink as m grows)."""
    from pyspark.sql import functions as F

    from orderly_spark.operators import dedup as D

    d = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    new_keys = D.lsh_band_keys(d.filter(F.col("doc_id") % 5 == 0), "doc_id", "text")
    old_keys = D.lsh_band_keys(d.filter(F.col("doc_id") % 5 != 0), "doc_id", "text")
    base = {
        r.new_doc_id: (r.n_keys, r.n_keys_bloom_pos, r.is_near_dup, r.n_index_matches)
        for r in D.bloom_filtered_index_probe(new_keys, old_keys).collect()
    }
    hi = D.bloom_filtered_index_probe(new_keys, old_keys, m_bits=1 << 20).collect()
    assert {r.new_doc_id for r in hi} == set(base)
    for r in hi:
        bk, bp, bd, bm = base[r.new_doc_id]
        assert r.n_keys == bk and r.is_near_dup == bd and r.n_index_matches == bm, r
        # a true match is always bloom-positive; fewer false positives
        assert r.n_keys_bloom_pos <= bp, r
