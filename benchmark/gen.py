"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``(seed, size)``: the same pair
writes byte-identical files. Inputs are written once into a cache
directory keyed by workload, seed and size, so a path never holds two
different corpora (the program caches parquet schemas by path).

Each generator returns a ``facts`` dict: the properties it planted
(duplicate rate, vocabulary size, invalid-row count, ...). The
correctness checks in :mod:`benchmark.workloads` compare the program's
outputs against these facts.
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import shutil
from pathlib import Path

import numpy as np

# -- molecule vocabulary ----------------------------------------------------

# Ring cores as atom tokens; substituents attach only after 'c'/'C' tokens
# so every generated string stays a valid SMILES.
_CORES = (
    ("c1", "c", "c", "c", "c", "c1"),
    ("c1", "c", "c", "n", "c", "c1"),
    ("C1", "C", "C", "C", "C", "C1"),
    ("C1", "C", "C", "N", "C", "C1"),
    ("C1", "C", "C", "O", "C", "C1"),
    ("c1", "c", "c", "o", "c1"),
    ("c1", "c", "c", "s", "c1"),
    ("c1", "c", "c", "c2", "c", "c", "c", "c", "c2", "c1"),
)
_SUBS = (
    "C", "CC", "O", "N", "Cl", "F", "Br", "C(=O)O", "C(=O)N", "OC", "C#N",
    "C(F)(F)F", "N(C)C", "[N+](=O)[O-]", "S(=O)(=O)C", "C(C)C", "C(=O)OC",
    "I", "OC(F)(F)F", "CO",
)
_LINKERS = ("", "", "C", "CC", "O", "N", "CO", "OC", "CCO", "NC(=O)", "C(=O)N", "CCN")

# Condition molecules: salts written with '.', transition-metal catalysts,
# bases and acids. The long tail of the condition vocabulary is generated.
_SALTS = (
    "[Na+].[OH-]", "[K+].[K+].[O-]C([O-])=O", "[Na+].[Cl-]", "[Li+].[Cl-]",
    "[Cs+].[Cs+].[O-]C([O-])=O", "CC(=O)[O-].[Na+]", "[H-].[Na+]",
    "CC(C)(C)[O-].[K+]", "[Na+].[Na+].[O-]S([O-])(=O)=O", "[NH4+].[Cl-]",
)
_TM_CATALYSTS = (
    "[Pd]", "Cl[Pd]Cl", "[Cu]I", "CC(=O)O[Pd]OC(C)=O", "[Ni]", "Cl[Ni]Cl",
    "[Fe]", "[Rh]", "[Ru]", "[Pt]", "[Cu]", "[Zn]",
)
_REAGENTS = (
    "CCN(CC)CC", "O=C(O)C(F)(F)F", "Cl", "O=S(=O)(O)O", "CN(C)c1ccncc1",
    "C(=O)(Cl)Cl", "CC(C)N(CC)C(C)C", "O=C(Cl)C(=O)Cl", "B", "CS(=O)(=O)Cl",
    "c1ccc(P(c2ccccc2)c2ccccc2)cc1", "O=C(OO)c1cccc(Cl)c1",
)
_SOLVENTS = (
    "ClCCl", "CCOC(C)=O", "C1CCOC1", "CN(C)C=O", "O", "CO", "CCO", "CC#N",
    "c1ccccc1", "Cc1ccccc1", "ClC(Cl)Cl", "CS(C)=O", "CCOCC", "C1COCCO1",
)


def _molecule(rng: np.random.Generator) -> str:
    core = list(_CORES[rng.integers(len(_CORES))])
    slots = [i for i, t in enumerate(core) if t[0] in "cC"]
    n_sub = int(rng.integers(0, 4))
    for i in sorted(rng.choice(slots, size=min(n_sub, len(slots)), replace=False), reverse=True):
        core[i] = f"{core[i]}({_SUBS[rng.integers(len(_SUBS))]})"
    return _LINKERS[rng.integers(len(_LINKERS))] + "".join(core)


def molecule_vocabulary(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` distinct generated SMILES, in generation order."""
    seen: dict[str, None] = {}
    while len(seen) < n:
        seen.setdefault(_molecule(rng), None)
    return list(seen)


@functools.lru_cache(maxsize=None)
def _zipf_cdf(n: int, a: float) -> np.ndarray:
    cdf = np.cumsum(1.0 / np.arange(1, n + 1) ** a)
    return cdf / cdf[-1]


def _zipf_index(rng: np.random.Generator, n: int, size: int, a: float = 1.1) -> np.ndarray:
    """Zipf-skewed indices into ``range(n)``: rank r drawn with p ∝ 1/r^a."""
    return np.minimum(np.searchsorted(_zipf_cdf(n, a), rng.random(size), side="right"), n - 1)


def _write_bytes(path: Path, data: bytes) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_bytes(data)


def _finish(out: Path, facts: dict) -> dict:
    (out / "facts.json").write_text(json.dumps(facts, indent=1, sort_keys=True))
    (out / ".complete").write_text("")
    return facts


def cached(root: Path, kind: str, seed: int, size: int, build) -> tuple[Path, dict]:
    """Return ``(dir, facts)`` for one generated corpus, building it on
    first use. A half-written directory (no ``.complete`` marker) is
    removed and rebuilt."""
    out = root / f"{kind}-seed{seed}-n{size}"
    if not (out / ".complete").exists():
        shutil.rmtree(out, ignore_errors=True)
        tmp = out.with_name(out.name + ".tmp")
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir(parents=True)
        build(tmp, seed, size)
        tmp.rename(out)
    return out, json.loads((out / "facts.json").read_text())


# -- ord_e2e: ORD protobuf corpus ----------------------------------------------

def write_ord_corpus(out: Path, seed: int, n_rxn: int, n_files: int = 8) -> dict:
    """ORD ``.pb.gz`` files under ``out/data/<xx>/uspto-grants-YYYY_MM.pb.gz``.

    Planted properties: Zipf-skewed reactant/product vocabulary, ~20%
    exact repeats of earlier reactions, '.'-joined salts, transition-metal
    catalysts, ~30% mapped rows, a counted set of rxn strings without
    exactly two '>' (these decode to a null rxn_str and keep their
    labelled roles) and a counted set of numeric compound names.
    """
    from orderly_spark.sources.ord_wire import dataset_pb_gz, encode_compound, encode_reaction

    rng = np.random.default_rng([seed, 1])
    n_vocab = max(64, n_rxn // 3)
    vocab = molecule_vocabulary(rng, n_vocab)
    cond_tail = molecule_vocabulary(np.random.default_rng([seed, 2]), max(32, n_rxn // 20))
    agents_pool = list(_TM_CATALYSTS) + list(_REAGENTS) + list(_SALTS) + cond_tail

    n_unique = n_rxn - n_rxn // 5
    reactions: list[bytes] = []
    flags: list[tuple[bool, bool, bool]] = []  # (invalid rxn string, numeric name, mapped)
    for i in range(n_unique):
        n_r = int(rng.integers(1, 4))
        idx = _zipf_index(rng, n_vocab, n_r + 1)
        reactants = sorted({vocab[j] for j in idx[:n_r]})
        product = vocab[(int(idx[-1]) + 1 + i) % n_vocab]
        agents = [agents_pool[j] for j in _zipf_index(rng, len(agents_pool), int(rng.integers(0, 3)))]
        solvents = [_SOLVENTS[j] for j in _zipf_index(rng, len(_SOLVENTS), int(rng.integers(0, 3)))]
        is_mapped = bool(rng.random() < 0.3)
        cx = f"{'.'.join(reactants)}>{'.'.join(agents)}>{product}"
        invalid = bool(rng.random() < 0.01)
        if invalid:
            cx = cx.replace(">", ">>", 1)  # three '>' → invalid rxn string
        inputs = [("reactant", [encode_compound([(2, r)], 1) for r in reactants])]
        if solvents:
            inputs.append(("solvent", [encode_compound([(2, s)], 3) for s in solvents]))
        cats = [a for a in agents if a in _TM_CATALYSTS]
        if cats:
            inputs.append(("catalyst", [encode_compound([(2, c)], 4) for c in cats]))
        numeric = bool(rng.random() < 0.02)
        if numeric:
            inputs.append(("reagent", [encode_compound([(2, str(int(rng.integers(1, 100))))], 2)]))
        flags.append((invalid, numeric, is_mapped))
        reactions.append(
            encode_reaction(
                cxsmiles=cx + (" |f:0.1|" if is_mapped else ""),
                is_mapped=is_mapped,
                inputs=inputs,
                products=[(product, float(round(rng.uniform(5, 99), 1)))],
                time_value=float(rng.integers(1, 48)),
                time_units=1,
                temp_value=float(rng.integers(-10, 120)),
                temp_units=1,
                procedure_details="stirred, filtered and concentrated",
                experiment_start=f"{int(rng.integers(1, 13)):02d}/{int(rng.integers(1, 28)):02d}/20{int(rng.integers(10, 20))}",
            )
        )
    dups = rng.integers(0, n_unique, size=n_rxn - n_unique)
    reactions += [reactions[j] for j in dups]
    invalid, numeric, mapped = (int(sum(col)) for col in zip(*(flags + [flags[j] for j in dups])))
    order = rng.permutation(len(reactions))
    files: list[str] = []
    for f in range(n_files):
        name = f"uspto-grants-{2000 + f}_{int(rng.integers(1, 13)):02d}"
        part = [reactions[j] for j in order[f::n_files]]
        shard = hashlib.md5(name.encode()).hexdigest()[:2]
        _write_bytes(out / "data" / shard / f"{name}.pb.gz", dataset_pb_gz(part, name))
        files.append(name)
    return _finish(
        out,
        {
            "reactions": n_rxn,
            "files": n_files,
            "repeats": int(n_rxn - n_unique),
            "distinct_reactions": int(len(set(reactions))),
            "vocab": n_vocab,
            "invalid_rxn_str": invalid,
            "numeric_name_rows": numeric,
            "mapped_rows": mapped,
            "file_names": sorted(files),
        },
    )


# -- registry_hot: star-schema tables in the testdata layout -------------------

_WORDS = (
    "key agg row scan slow fast table value part hash merge batch the a line "
    "sort window spark order data column join small customer query big stream "
    "filter group index shard cache plan"
).split()


def write_registry_tables(out: Path, seed: int, scale_milli: int) -> dict:
    """The ten testdata tables (``region nation customer supplier part
    orders lineitem events documents embeddings``) at scale factor
    ``scale_milli / 1000``, with the testdata column names and types.

    Key ranges start at a seed-dependent offset; the part-key offset is a
    multiple of 13 so the clean scaffold's ``p_partkey % 13`` name list
    keeps its size.
    """
    import pandas as pd

    sf = scale_milli / 1000.0
    rng = np.random.default_rng([seed, 5])
    off_c, off_s, off_o = (int(rng.integers(0, 1000)) * 1000 for _ in range(3))
    off_p = int(rng.integers(0, 1000)) * 13 * 1000
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_doc = int(1_500_000 * sf), max(50, int(50_000 * sf))

    def save(name: str, cols: dict) -> None:
        pd.DataFrame(cols).to_parquet(out / f"{name}.parquet", index=False)

    out.mkdir(parents=True, exist_ok=True)
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    save("region", {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": regions})
    save(
        "nation",
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        },
    )
    ck = off_c + np.arange(n_cust, dtype=np.int64)
    save(
        "customer",
        {
            "c_custkey": ck,
            "c_name": [f"Customer#{k:09d}" for k in ck],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
            "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
        },
    )
    sk = off_s + np.arange(n_supp, dtype=np.int64)
    save(
        "supplier",
        {
            "s_suppkey": sk,
            "s_name": [f"Supplier#{k:09d}" for k in sk],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
        },
    )
    pk = off_p + np.arange(n_part, dtype=np.int64)
    adj = np.array(["small", "red", "large", "blue", "green", "tiny"])
    noun = np.array(["ring", "widget", "bolt", "gear", "valve", "panel"])
    save(
        "part",
        {
            "p_partkey": pk,
            "p_name": np.char.add(np.char.add(rng.choice(adj, n_part), " "), rng.choice(noun, n_part)),
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 50, n_part)],
            "p_type": rng.choice(["ECONOMY", "STANDARD", "PROMO", "LARGE", "MEDIUM"], n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + (pk % 1000) / 10.0, 2),
        },
    )
    ok = off_o + np.arange(n_ord, dtype=np.int64)
    day0 = np.datetime64("1992-01-01")
    odate = day0 + rng.integers(0, 365 * 10, n_ord).astype("timedelta64[D]")
    save(
        "orders",
        {
            "o_orderkey": ok,
            "o_custkey": rng.choice(ck, n_ord),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
            "o_orderdate": odate.astype("datetime64[us]"),
            "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
        },
    )
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    l_ok = np.repeat(ok, lines)
    l_ln = (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    l_pk = rng.choice(pk, n_li)
    save(
        "lineitem",
        {
            "l_orderkey": l_ok,
            "l_partkey": l_pk,
            "l_suppkey": rng.choice(sk, n_li),
            "l_linenumber": l_ln,
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * (900 + (l_pk % 1000) / 10.0), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": (np.repeat(odate, lines) + rng.integers(1, 122, n_li).astype("timedelta64[D]")).astype(
                "datetime64[us]"
            ),
        },
    )
    n_ev = max(100, int(100_000 * sf))
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    save(
        "events",
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": t0 + np.sort(rng.integers(0, 86_400_000_000 * 7, n_ev)).astype("timedelta64[us]"),
            "user_id": rng.integers(0, 200, n_ev).astype(np.int64),
            "event_type": rng.choice(["click", "view", "purchase", "error"], n_ev),
            "value": np.round(rng.uniform(0, 100, n_ev), 2),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
        },
    )
    words = np.array(_WORDS)
    texts = [" ".join(rng.choice(words, int(rng.integers(4, 80)))) for _ in range(n_doc)]
    save(
        "documents",
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(["en", "de", "fr"], n_doc, p=[0.8, 0.1, 0.1]),
            "source": [f"src{i % 7}" for i in range(n_doc)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        },
    )
    emb = rng.normal(0, 0.15, (n_doc, 64)).astype(np.float32)
    save(
        "embeddings",
        {"vec_id": np.arange(n_doc, dtype=np.int64), "embedding": list(emb), "label": rng.integers(0, 5, n_doc).astype(np.int32)},
    )
    return _finish(
        out,
        {"scale_factor": sf, "lineitem": n_li, "orders": n_ord, "documents": n_doc, "part": n_part},
    )


def tree_digest(root: Path) -> str:
    """sha256 over every file's relative path and bytes, in path order."""
    h = hashlib.sha256()
    for p in sorted(q for q in root.rglob("*") if q.is_file()):
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def dir_mb(path: str | os.PathLike) -> float:
    """Bytes under ``path`` in MB (10^6), data files only."""
    total = 0
    for p in Path(path).rglob("*"):
        if p.is_file() and not p.name.startswith((".", "_")):
            total += p.stat().st_size
    return total / 1e6
