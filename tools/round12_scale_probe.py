"""Round-12 scale probes.

P1 — parsed-kernel throughput at ADVERSARIAL molecule shapes (r11
verdict item 7: "the USPTO tail is uglier" than the well-formed r11
synthetics). Measures mol/s for morgan_fingerprint AND the r12
canonical writer per shape family, single-process, plus the canon
fallback (None) rate — the writer's documented symmetry budget should
fall back ONLY on the pathological families:
  - deep_rings: %nn-numbered fused-ring ladders (up to 40 concurrent
    open ring bonds) — parser ring bookkeeping + in_ring bridges;
  - long_chain: substituted 120-300 heavy-atom chains (realistic
    polymer/fatty tails — asymmetric, so canon tie-break is free);
  - charge_isotope: charge magnitudes ±15, isotopes up to 999,
    explicit-H extremes — bracket parse + invariant width;
  - branch_storm: 60-atom maximal-branching trees (paren depth);
  - salt_swarm: 24-component dot-disconnected salts (component sort);
  - symmetric_evil: plain C_n rings and mirror chains AT and past the
    canon budget (the deterministic fallback families).

P2 — the honest post-fix UDF numbers (the r11 ADVICE medium item:
the periodic generator let the memo cache shortcut ~78% of the parse
work, inflating UDF-path mol/s; the generator is injective now and
guarded). Re-measures (a) kernel single-process and (b) end-to-end
parsed_morgan_fp_udf + parsed_canonical_smiles_udf mol/s on the
injective 20k corpus, local[32].

Run on a QUIET host (concurrent Spark sessions inflate numbers; see
the repo verify notes).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from orderly_spark.functions.smiles import canonical_smiles, morgan_fingerprint


def _deep_rings(i: int) -> str:
    """Fused ring ladder with %nn closures: opens `w` rings on a
    backbone atom run, closes them in reverse — up to 40 concurrently
    open ring bonds, all via %nn two-digit numbers."""
    w = 10 + (i % 31)  # 10..40 concurrent rings
    opens = "C" + "".join(f"%{10 + k}" for k in range(w))
    spine = "C" * (3 + i % 5)
    closes = "C" + "".join(f"%{10 + k}" for k in reversed(range(w)))
    return opens + spine + closes


def _long_chain(i: int) -> str:
    """120-300 heavy atoms: alkyl chain with periodic O/N substituents
    and a charged head group — asymmetric by construction."""
    n = 120 + (i * 7) % 181
    parts = []
    for k in range(n):
        if k % 17 == 0:
            parts.append("C(O)")
        elif k % 23 == 0:
            parts.append("N")
        else:
            parts.append("C")
    return "".join(parts) + "C(=O)[O-]"


def _charge_isotope(i: int) -> str:
    chg = (i % 15) + 1
    iso = 100 + (i * 13) % 900
    h = i % 5
    return (
        f"[{iso}C{'H' + str(h) if h else ''}+{chg}]"
        f"C(=O)[{iso % 250 + 1}N-{(i % 7) + 1}]"
        f"[{iso}Pt+{(i % 4) + 1}]"
    )


def _branch_storm(i: int) -> str:
    """Maximal branching: a binary tree of depth 5-6 written as nested
    parens (~60 atoms), leaf element and a binary-coded tail varying
    with i so the family is distinct per index."""
    leaf = ["C", "N", "O", "S"][i % 4]

    def tree(d: int) -> str:
        if d == 0:
            return leaf
        return f"C({tree(d - 1)}){tree(d - 1)}"

    tail = "".join("C" if (i >> k) & 1 else "N" for k in range(max(i.bit_length(), 1)))
    return tree(5 + i % 2) + tail


def _salt_swarm(i: int) -> str:
    comps = []
    for k in range(24):
        z = ["[Na+]", "[Cl-]", "CCO", "[K+]", "C(=O)[O-]", "O"][(i + k) % 6]
        comps.append(z)
    # distinct organic tail per index
    comps.append("C" + "".join("C" if (i >> k) & 1 else "N" for k in range(max(i.bit_length(), 1))))
    return ".".join(comps)


def _symmetric_evil(i: int) -> str:
    """The one family still allowed to hit the deterministic tie-break
    budget after the r12 AHU tree path landed: large PLAIN rings (the
    only all-tied CYCLIC shape; chains/trees are now branch-free).
    Sizes 36..154 so part of the family completes (≤ ~C40) and part
    falls back — the probe records the split."""
    n = 36 + (i % 60) * 2
    return "C1" + "C" * (n - 2) + "1"


FAMILIES = {
    "deep_rings": _deep_rings,
    "long_chain": _long_chain,
    "charge_isotope": _charge_isotope,
    "branch_storm": _branch_storm,
    "salt_swarm": _salt_swarm,
    "symmetric_evil": _symmetric_evil,
}


def probe_adversarial_shapes(per_family: int = 200) -> None:
    print(f"[P1] adversarial shapes, {per_family} molecules/family, single process")
    for name, gen in FAMILIES.items():
        mols = [gen(i) for i in range(per_family)]
        assert len(set(mols)) >= per_family // 4, name  # enough distinct work
        # parse guard: every family must be INSIDE the parser subset
        bad = [m for m in mols[:20] if morgan_fingerprint(m, 1, 16) is None]
        assert not bad, (name, bad[:1])
        t0 = time.perf_counter()
        for m in mols:
            morgan_fingerprint(m, radius=2, n_bits=1024)
        fp_rate = per_family / (time.perf_counter() - t0)
        t0 = time.perf_counter()
        fallbacks = 0
        idem_bad = 0
        for m in mols:
            c = canonical_smiles(m)
            if c is None:
                fallbacks += 1
            elif canonical_smiles(c) != c:
                idem_bad += 1
        canon_rate = per_family / (time.perf_counter() - t0)
        assert idem_bad == 0, name  # idempotence holds wherever canon succeeds
        print(
            f"[P1] {name:>15}: morgan {fp_rate:8,.0f} mol/s | "
            f"canon {canon_rate:8,.0f} mol/s | canon fallback "
            f"{fallbacks}/{per_family}"
        )
        # r13: the rotation-orbit cycle path closed the symmetric_evil
        # fallback family (plain C36-C154 rings are exact now) — NO
        # family is allowed to fall back anymore. The r12 run of this
        # probe recorded the historical 152/200 split; the r13 ceiling
        # (C380/C400 orbit budget) is pinned by round13_scale_probe.
        assert fallbacks == 0, (name, fallbacks)


def _synthetic_smiles(n: int) -> list[str]:
    """n DISTINCT parseable molecules with realistic size spread
    (chains, a branch, a charge site, a ring). A C/N chain segment
    encodes the full index in binary, so the generator is injective
    and the memoised UDF cache cannot shortcut the parse."""
    out = []
    for i in range(n):
        a, b = i % 53, (i // 53) % 41
        ring = "1" if i % 3 == 0 else ""
        # i in binary as a C/N heavy-atom chain (LSB first; 'C'=1)
        tail = "".join("C" if (i >> k) & 1 else "N" for k in range(max(i.bit_length(), 1)))
        out.append(
            f"C{ring}C{'C' * a}N(CC{'O' * (b % 4)})C{'C' * b}{tail}"
            f"C(=O)[O-].[Na+]{'C' + ring if ring else ''}"
        )
    return out


def probe_udf_throughput_postfix(n: int = 20_000) -> None:
    """P2: honest end-to-end UDF numbers on the INJECTIVE corpus."""
    from orderly_spark.session import get_spark

    mols = _synthetic_smiles(n)
    assert len(set(mols)) == len(mols)
    t0 = time.perf_counter()
    for m in mols:
        morgan_fingerprint(m, radius=2, n_bits=1024)
    print(f"[P2] morgan kernel single-process: {n / (time.perf_counter() - t0):,.0f} mol/s")
    t0 = time.perf_counter()
    for m in mols:
        canonical_smiles(m)
    print(f"[P2] canon  kernel single-process: {n / (time.perf_counter() - t0):,.0f} mol/s")

    from pyspark.sql import functions as F

    from orderly_spark.functions.chem import (
        parsed_canonical_smiles_udf,
        parsed_morgan_fp_udf,
    )

    spark = get_spark("round12_probe")
    df = spark.createDataFrame([(m,) for m in mols], "m string").repartition(32).cache()
    df.count()
    t0 = time.perf_counter()
    df.select(F.sum(F.element_at(parsed_morgan_fp_udf(n_bits=1024, radius=2)(F.col("m")), 1))).collect()
    print(f"[P2] morgan UDF end-to-end local[32]: {n / (time.perf_counter() - t0):,.0f} mol/s")
    t0 = time.perf_counter()
    df.select(
        F.sum(F.length(parsed_canonical_smiles_udf(F.struct(F.col("m"), F.lit(False)))))
    ).collect()
    print(f"[P2] canon  UDF end-to-end local[32]: {n / (time.perf_counter() - t0):,.0f} mol/s")


def probe_rq_vs_pq_recall(sf_dir: str = "/root/testdata/sf0.1", n_queries: int = 40) -> None:
    """P3: ANN QUALITY, not just correctness — recall@3 of the two
    compressed-index families against exact brute force at equal code
    budget (PQ: 2 subspace codes/vector; RQ: 2 stacked codes + one
    norm scalar), as a function of the candidate budget. The value
    gates prove both chains are deterministic and exactly replayed;
    this records how much of the exact top-3 the compressed scan
    actually recovers at sf0.1."""
    from pyspark.sql import functions as F

    from orderly_spark.operators.clustering import pq_adc_topk, rq_adc_topk
    from orderly_spark.operators.similarity import cosine_topk
    from orderly_spark.session import get_spark
    from orderly_spark.tables import load

    spark = get_spark("round12_probe_recall")
    e = load(spark, sf_dir, "embeddings", fan_out=True)
    q = e.filter(F.col("vec_id") < n_queries)
    brute = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(e, q, k=3).collect()
    }
    n_brute = len(brute)
    for cand in (5, 10, 20, 40):
        pq = {
            (r.query_id, r.neighbor_id)
            for r in pq_adc_topk(e, q, m_subs=2, codebook_k=4,
                                 n_candidates=cand, topk=3, seed=47).collect()
        }
        rq = {
            (r.query_id, r.neighbor_id)
            for r in rq_adc_topk(e, q, levels=2, codebook_k=4,
                                 n_candidates=cand, topk=3, seed=59).collect()
        }
        print(
            f"[P3] sf0.1 (NO cluster structure) candidates={cand:>3}: "
            f"recall@3 pq={len(pq & brute)/n_brute:.3f} "
            f"rq={len(rq & brute)/n_brute:.3f}  (exact pairs={n_brute})"
        )
    # The testdata embeddings are i.i.d. random vectors — the
    # adversarial NO-STRUCTURE case where any tiny-codebook index is
    # near-random. Repeat on a CLUSTERED corpus (the workload these
    # indexes exist for): 2000 vectors around 8 seeded centers.
    import numpy as np

    rng = np.random.default_rng(1212)
    centers = rng.standard_normal((8, 64)) * 5.0
    rows = []
    for i in range(2000):
        c = i % 8
        v = centers[c] + rng.standard_normal(64) * 0.4
        rows.append((i, [float(x) for x in v]))
    cl = spark.createDataFrame(rows, "vec_id long, embedding array<float>").cache()
    cl.count()
    qc = cl.filter(F.col("vec_id") < n_queries)
    brute_c = {(r.query_id, r.neighbor_id) for r in cosine_topk(cl, qc, k=3).collect()}
    for cand in (10, 40):
        pq = {
            (r.query_id, r.neighbor_id)
            for r in pq_adc_topk(cl, qc, m_subs=2, codebook_k=4,
                                 n_candidates=cand, topk=3, seed=47).collect()
        }
        rq = {
            (r.query_id, r.neighbor_id)
            for r in rq_adc_topk(cl, qc, levels=2, codebook_k=4,
                                 n_candidates=cand, topk=3, seed=59).collect()
        }
        print(
            f"[P3] clustered-8 candidates={cand:>3}: "
            f"recall@3 pq={len(pq & brute_c)/len(brute_c):.3f} "
            f"rq={len(rq & brute_c)/len(brute_c):.3f}  (exact pairs={len(brute_c)})"
        )
    # gate-sized codebooks (m=2/k=4 → ~16 composed cells) cannot
    # resolve a 2000-vector corpus — hundreds of identical-code
    # vectors tie in the ADC and candidates become id-order. Size the
    # codebooks like production would (composed cells ≳ corpus/10):
    for cand in (10, 40):
        pq = {
            (r.query_id, r.neighbor_id)
            for r in pq_adc_topk(cl, qc, m_subs=4, codebook_k=16, iterations=3,
                                 n_candidates=cand, topk=3, seed=47).collect()
        }
        rq = {
            (r.query_id, r.neighbor_id)
            for r in rq_adc_topk(cl, qc, levels=3, codebook_k=16, iterations=3,
                                 n_candidates=cand, topk=3, seed=59).collect()
        }
        print(
            f"[P3] clustered-8 SIZED (pq m=4 k=16 | rq L=3 k=16) candidates={cand:>3}: "
            f"recall@3 pq={len(pq & brute_c)/len(brute_c):.3f} "
            f"rq={len(rq & brute_c)/len(brute_c):.3f}"
        )


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    probe_adversarial_shapes()
    probe_udf_throughput_postfix()
    probe_rq_vs_pq_recall()
