"""ORD protobuf wire codec (SURVEY S2 — orderly_spark/sources/ord_wire.py).

Round-trips hand-rolled wire-format fixtures through the decoder and
pins every extractor semantics branch the reference implements
(orderly/extract/extractor.py:103-500): role bucketing + dot-split +
sort, LAST-CXSMILES-wins, '>'-count validity, yield rounding +
longest-first padding, all four temperature unit/control paths, all
four time units, strict %m/%d/%Y dates, and proto3 default handling.

When the authoritative ``ord-schema`` package IS importable, a parity
test cross-checks our encoder's bytes against the generated classes
(skip-gated — absent from this image)."""

from __future__ import annotations

import gzip

import pytest

from orderly_spark.sources import ord_wire as W
from orderly_spark.sources.ord import proto_decoder


def _decode_one(rxn_bytes: bytes) -> dict:
    rxns = list(W.iter_dataset_reactions(W.encode_dataset([rxn_bytes])))
    assert len(rxns) == 1
    return W.reaction_to_row(rxns[0])


# --------------------------------------------------------------------------
# wire primitives
# --------------------------------------------------------------------------


def test_varint_roundtrip_boundaries():
    for v in (0, 1, 127, 128, 300, 2**21 - 1, 2**32, 2**63 - 1):
        enc = W._enc_uvarint(v)
        dec, pos = W._read_uvarint(enc, 0)
        assert (dec, pos) == (v, len(enc))


def test_truncated_inputs_raise():
    with pytest.raises(ValueError):
        W._read_uvarint(b"\xff", 0)  # continuation bit, no next byte
    with pytest.raises(ValueError):
        list(W.iter_fields(b"\x0a\x05ab"))  # LEN says 5, only 2 present


def test_unknown_fields_are_skipped():
    # append an unknown varint field (99) and an unknown fixed64 (98):
    # proto3 forward-compat — decode must ignore both
    rxn = W.encode_reaction(cxsmiles="C>N>O") + W._enc_varint_field(99, 7)
    rxn += W._enc_tag(98, 1) + b"\x00" * 8
    row = _decode_one(rxn)
    assert row["rxn_str"] == "C>N>O"


# --------------------------------------------------------------------------
# reaction identifiers (extractor.py:161-180)
# --------------------------------------------------------------------------


def test_last_cxsmiles_identifier_wins():
    # reference loops all identifiers without break — the LAST type-6
    # value (and ITS is_mapped) is the one returned
    first = W._enc_varint_field(1, 6) + W._enc_str(3, "A>B>C") + W._enc_varint_field(4, 1)
    last = W._enc_varint_field(1, 6) + W._enc_str(3, "X>Y>Z")
    rxn = W._enc_len(1, first) + W._enc_len(1, last)
    row = _decode_one(rxn)
    assert row["rxn_str"] == "X>Y>Z"
    assert row["is_mapped"] is False


def test_extended_smiles_suffix_dropped_at_first_space():
    row = _decode_one(W.encode_reaction(cxsmiles="CC>O>CCO |f:0.2,^1:3|", is_mapped=True))
    assert row["rxn_str"] == "CC>O>CCO"
    assert row["is_mapped"] is True


@pytest.mark.parametrize("bad", ["CC>O", "A>B>C>D", "plain"])
def test_invalid_gt_count_yields_null_rxn_str(bad):
    row = _decode_one(W.encode_reaction(cxsmiles=bad))
    assert row["rxn_str"] is None
    assert row["is_mapped"] is None  # reference returns None for BOTH


def test_no_identifier_at_all():
    row = _decode_one(W.encode_reaction())
    assert row["rxn_str"] is None and row["is_mapped"] is None


# --------------------------------------------------------------------------
# inputs → role buckets (extractor.py:309-376)
# --------------------------------------------------------------------------


def test_roles_bucketed_dot_split_sorted():
    rxn = W.encode_reaction(
        inputs=[
            ("m1", [
                W.encode_compound([(2, "CN.CC")], 1),   # reactant, dotted
                W.encode_compound([(2, "O")], 3),        # solvent
                W.encode_compound([(2, "CCO")], 2),      # reagent
            ]),
            ("m2", [
                W.encode_compound([(2, "[Pd]")], 4),     # catalyst
                W.encode_compound([(2, "WWW")], 5),      # workup: skipped
                W.encode_compound([(2, "III")], 6),      # internal std: skipped
                W.encode_compound([(2, "AAA")], 7),      # authentic std: skipped
            ]),
        ]
    )
    row = _decode_one(rxn)
    assert row["reactants"] == ["CC", "CN"]  # dot-split then sorted
    assert row["reagents"] == ["CCO"]
    assert row["solvents"] == ["O"]
    assert row["catalysts"] == ["[Pd]"]
    assert row["agents"] is None  # agents only exist post merge_to_agents


def test_name_identifier_is_not_read():
    """As the reference's default (consider_molecule_names=False): a
    compound with only a NAME identifier contributes no member."""
    rxn = W.encode_reaction(inputs=[("m", [W.encode_compound([(6, "aqua regia")], 2)])])
    assert _decode_one(rxn)["reagents"] == []


def test_smiles_preferred_over_name():
    comp = W.encode_compound([(6, "ethanol"), (2, "CCO")], 1)
    row = _decode_one(W.encode_reaction(inputs=[("m", [comp])]))
    assert row["reactants"] == ["CCO"]


def test_compound_with_no_usable_identifier_skipped():
    comp = W.encode_compound([(1, "custom-id")], 1)  # CUSTOM: never read
    row = _decode_one(W.encode_reaction(inputs=[("m", [comp])]))
    assert row["reactants"] == []


# --------------------------------------------------------------------------
# outcomes → products + yields (extractor.py:378-423)
# --------------------------------------------------------------------------


def test_yield_padding_longest_fragment_first():
    rxn = W.encode_reaction(products=[("[Na+].[O-]BBB", 62.5), ("OCC", None)])
    row = _decode_one(rxn)
    assert row["products"] == ["[O-]BBB", "[Na+]", "OCC"]
    assert row["yields"] == [62.5, None, None]


def test_yield_rounded_to_2_like_python_round():
    # 33.333 is not f32-exact; round(float32(33.333), 2) both here and
    # in the reference (they share the f32→double→round path)
    import struct as _s

    f32 = _s.unpack("<f", _s.pack("<f", 33.333))[0]
    row = _decode_one(W.encode_reaction(products=[("CC", 33.333)]))
    assert row["yields"] == [round(f32, 2)]


def test_no_outcomes_at_all():
    row = _decode_one(W.encode_reaction(with_outcome=False))
    assert row["products"] == [] and row["yields"] == [] and row["rxn_time"] is None


def test_only_first_outcome_read():
    # reference reads outcomes[0] only
    r1 = W.encode_reaction(products=[("AA", 10.0)])
    extra_outcome = W._enc_len(
        8, W._enc_len(3, W._enc_len(1, W._enc_varint_field(1, 2) + W._enc_str(3, "ZZ")))
    )
    row = _decode_one(r1 + extra_outcome)
    assert row["products"] == ["AA"]


# --------------------------------------------------------------------------
# temperature (extractor.py:424-455) and time (458-475)
# --------------------------------------------------------------------------


@pytest.mark.parametrize(
    "units,value,expected",
    [
        (1, 80.0, 80.0),                      # celsius passthrough
        (2, 50.0, (50.0 - 32) * 5 / 9),       # fahrenheit
        (3, 300.0, 300.0 - 273.15),           # kelvin
    ],
)
def test_temperature_units(units, value, expected):
    row = _decode_one(W.encode_reaction(temp_value=value, temp_units=units))
    assert row["temperature"] == expected


@pytest.mark.parametrize(
    "control,expected",
    [(2, 25.0), (6, 0.0), (9, -78.5), (11, -196.0), (3, None), (0, None)],
)
def test_temperature_control_fallback(control, expected):
    row = _decode_one(W.encode_reaction(temp_control_type=control))
    assert row["temperature"] == expected


def test_setpoint_beats_control():
    row = _decode_one(W.encode_reaction(temp_value=5.0, temp_units=1, temp_control_type=6))
    assert row["temperature"] == 5.0


@pytest.mark.parametrize(
    "units,value,expected",
    [
        (1, 3.0, 3.0),            # hours
        (2, 30.0, 0.5),           # minutes
        (3, 36.0, 0.01),          # seconds
        (4, 2.0, 48.0),           # days
        (0, 7.0, None),           # unspecified
        (5, 7.0, None),           # unknown enum
    ],
)
def test_time_units(units, value, expected):
    row = _decode_one(W.encode_reaction(time_value=value, time_units=units))
    assert row["rxn_time"] == expected


def test_time_rounding_is_python_half_even():
    # 25 min = 0.41666…h → 0.42 (the reference's round(h, 2))
    row = _decode_one(W.encode_reaction(time_value=25.0, time_units=2))
    assert row["rxn_time"] == round(25.0 / 60, 2)


def test_proto3_accessor_defaults_mirrored():
    """The reference reads .value accessors that default to 0.0 when
    the submessage/field is absent (proto3): a YIELD measurement with
    no Percentage reads as 0.0%, and a set temperature/time units with
    no value reads as 0.0 — all three mirrored here."""
    # type-3 measurement, Percentage submessage entirely absent
    pc = W._enc_len(1, W._enc_varint_field(1, 2) + W._enc_str(3, "CC"))
    pc += W._enc_len(3, W._enc_varint_field(2, 3))  # measurement: type only
    outcome = W._enc_len(3, pc)
    row = _decode_one(W._enc_len(8, outcome))
    assert row["yields"] == [0.0]
    # units set, value absent: 0 C ; 0 F = (0-32)*5/9 ; 0 min = 0 h
    tc = W._enc_len(2, W._enc_varint_field(3, 2))  # setpoint: units=F only
    rxn = W._enc_len(4, W._enc_len(1, tc))
    assert _decode_one(rxn)["temperature"] == (0.0 - 32) * 5 / 9
    t = W._enc_len(1, W._enc_varint_field(3, 2))  # reaction_time: units=min only
    assert _decode_one(W._enc_len(8, t))["rxn_time"] == 0.0


# --------------------------------------------------------------------------
# notes / provenance (extractor.py:477-500)
# --------------------------------------------------------------------------


def test_procedure_details_and_proto3_default():
    assert _decode_one(W.encode_reaction(procedure_details="stir 2h"))[
        "procedure_details"
    ] == "stir 2h"
    assert _decode_one(W.encode_reaction())["procedure_details"] == ""


@pytest.mark.parametrize(
    "raw,expected_iso",
    [("06/15/2023", "2023-06-15"), ("02/29/2024", "2024-02-29")],
)
def test_experiment_date_strict_mdy(raw, expected_iso):
    row = _decode_one(W.encode_reaction(experiment_start=raw))
    assert row["date_of_experiment"].strftime("%Y-%m-%d") == expected_iso


@pytest.mark.parametrize("raw", ["2023-06-15", "15/06/2023x", "not a date", "13/40/2023"])
def test_unparseable_date_is_none(raw):
    assert _decode_one(W.encode_reaction(experiment_start=raw))["date_of_experiment"] is None


# --------------------------------------------------------------------------
# file-level decoder (ord.py proto_decoder)
# --------------------------------------------------------------------------


def test_proto_decoder_gzip_and_plain():
    rxn = W.encode_reaction(cxsmiles="C>N>O", products=[("O", 50.0)])
    gz = W.dataset_pb_gz([rxn, rxn])
    rows = list(proto_decoder("d.pb.gz", gz))
    assert len(rows) == 2 and rows[0]["rxn_str"] == "C>N>O"
    # load_message accepts un-gzipped bytes too
    plain = W.encode_dataset([rxn])
    assert len(list(proto_decoder("d.pb", plain))) == 1


def test_dataset_pb_gz_deterministic():
    rxn = W.encode_reaction(cxsmiles="C>N>O")
    assert W.dataset_pb_gz([rxn]) == W.dataset_pb_gz([rxn])  # mtime pinned


# --------------------------------------------------------------------------
# authoritative cross-check (skip-gated: ord-schema absent from image)
# --------------------------------------------------------------------------


def test_parity_with_ord_schema_generated_classes():
    dataset_pb2 = pytest.importorskip("ord_schema.proto.dataset_pb2")

    rxn = W.encode_reaction(
        cxsmiles="CC>O>CCO |f|",
        is_mapped=True,
        inputs=[("m1", [W.encode_compound([(2, "CC.CN")], 1)])],
        products=[("CCO", 77.0)],
        time_value=30.0,
        time_units=2,
        temp_value=50.0,
        temp_units=2,
        procedure_details="p",
        experiment_start="06/15/2023",
    )
    ds = dataset_pb2.Dataset.FromString(W.encode_dataset([rxn]))
    r = ds.reactions[0]
    assert r.identifiers[0].type == 6 and r.identifiers[0].value == "CC>O>CCO |f|"
    assert r.identifiers[0].is_mapped is True
    comp = r.inputs["m1"].components[0]
    assert comp.reaction_role == 1 and comp.identifiers[0].value == "CC.CN"
    assert r.outcomes[0].reaction_time.units == 2
    assert r.outcomes[0].products[0].measurements[0].percentage.value == 77.0
    assert r.conditions.temperature.setpoint.units == 2
    assert r.notes.procedure_details == "p"
    assert r.provenance.experiment_start.value == "06/15/2023"
    # and the wire decoder agrees with the generated parse
    row = W.reaction_to_row(next(W.iter_dataset_reactions(ds.SerializeToString())))
    assert row["rxn_str"] == "CC>O>CCO"


# --------------------------------------------------------------------------
# seeded random round-trip sweep vs an INDEPENDENT semantics model
# --------------------------------------------------------------------------


def _independent_expected_row(spec: dict) -> dict:
    """Extractor semantics recomputed WITHOUT the wire parser — a
    second, straight-line implementation used only as the test
    oracle, so an encoder/decoder bug cannot cancel itself out."""
    import datetime as _dt

    rxn_str, is_mapped = None, None
    cx = spec.get("cxsmiles")
    if cx is not None:
        head = cx.split(" ")[0]
        if head.count(">") == 2:
            rxn_str, is_mapped = head, spec.get("is_mapped", False)
    buckets = {"reactants": [], "reagents": [], "solvents": [], "catalysts": []}
    names = {1: "reactants", 2: "reagents", 3: "solvents", 4: "catalysts"}
    for _key, comps in spec.get("inputs", []):
        for role, smiles in comps:
            b = names.get(role)
            if b:
                buckets[b] += smiles.split(".")
    products, yields = [], []
    if spec.get("with_outcome", True):
        for smiles, y in spec.get("products", []):
            frags = sorted(smiles.split("."), key=len, reverse=True)
            products += frags
            yields += [None if y is None else round(float(y), 2)] + [None] * (len(frags) - 1)
    tv, tu = spec.get("time_value"), spec.get("time_units", 0)
    time_h = None
    if spec.get("with_outcome", True) and (tv is not None or tu):
        v = 0.0 if tv is None else float(tv)
        time_h = {1: round(v, 2), 2: round(v / 60, 2), 3: round(v / 3600, 2), 4: round(v * 24, 2)}.get(tu)
    Tv, Tu, Tc = spec.get("temp_value"), spec.get("temp_units", 0), spec.get("temp_control_type", 0)
    v = 0.0 if Tv is None else float(Tv)
    if Tu == 1:
        temp = float(v)
    elif Tu == 2:
        temp = float((v - 32) * 5 / 9)
    elif Tu == 3:
        temp = float(v - 273.15)
    elif Tu == 0 and (Tv is not None or Tc):
        temp = {2: 25.0, 6: 0.0, 9: -78.5, 11: -196.0}.get(Tc)
    else:
        temp = None
    date = None
    raw = spec.get("experiment_start", "")
    if raw:
        try:
            date = _dt.datetime.strptime(raw, "%m/%d/%Y")
        except ValueError:
            date = None
    return {
        "rxn_str": rxn_str,
        "reactants": sorted(buckets["reactants"]),
        "agents": None,
        "reagents": sorted(buckets["reagents"]),
        "solvents": sorted(buckets["solvents"]),
        "catalysts": sorted(buckets["catalysts"]),
        "products": products,
        "yields": yields,
        "temperature": temp,
        "rxn_time": time_h,
        "procedure_details": spec.get("procedure_details", ""),
        "date_of_experiment": date,
        "grant_date": None,
        "is_mapped": is_mapped,
    }


def test_random_roundtrip_sweep_vs_independent_model():
    """300 seeded random reactions: encoder → gzip → proto_decoder
    must equal the independent semantics model EXACTLY (incl. f32
    value effects — the spec values are f32-exact by construction)."""
    import random

    rng = random.Random(77)
    frag = lambda: rng.choice(["C", "CC", "CCO", "[Pd]", "[Na+]", "O=C=O", "N#N", "c1ccccc1"])
    dotted = lambda: ".".join(frag() for _ in range(rng.randint(1, 3)))
    specs = []
    for i in range(300):
        spec = {}
        if rng.random() < 0.85:
            gts = rng.choice([1, 2, 3])
            core = ">".join(frag() for _ in range(gts + 1))
            spec["cxsmiles"] = core + (" |f:1.2|" if rng.random() < 0.5 else "")
            spec["is_mapped"] = rng.random() < 0.5
        if rng.random() < 0.8:
            spec["inputs"] = [
                (
                    f"m{j}",
                    [(rng.choice([1, 2, 3, 4, 5, 6, 7, 8]), dotted()) for _ in range(rng.randint(1, 3))],
                )
                for j in range(rng.randint(1, 2))
            ]
        spec["with_outcome"] = rng.random() < 0.9
        if spec["with_outcome"]:
            spec["products"] = [
                (dotted(), rng.choice([None, float(rng.randint(0, 100)), float(rng.randint(0, 200)) / 2]))
                for _ in range(rng.randint(0, 3))
            ]
            if rng.random() < 0.8:
                spec["time_units"] = rng.randint(0, 5)
                spec["time_value"] = float(rng.randint(0, 100)) if rng.random() < 0.9 else None
        if rng.random() < 0.8:
            spec["temp_units"] = rng.randint(0, 3)
            spec["temp_value"] = float(rng.randint(-50, 400)) if rng.random() < 0.9 else None
            spec["temp_control_type"] = rng.choice([0, 2, 3, 6, 9, 11])
        if rng.random() < 0.5:
            spec["procedure_details"] = f"proc {i} αβ"
        spec["experiment_start"] = rng.choice(["", "06/15/2023", "12/31/1999", "2023-06-15", "bad"])
        specs.append(spec)

    enc = [
        W.encode_reaction(
            cxsmiles=s.get("cxsmiles"),
            is_mapped=s.get("is_mapped", False),
            inputs=[
                (k, [W.encode_compound([(2, smiles)], role) for role, smiles in comps])
                for k, comps in s.get("inputs", [])
            ],
            products=s.get("products"),
            time_value=s.get("time_value"),
            time_units=s.get("time_units", 0),
            temp_value=s.get("temp_value"),
            temp_units=s.get("temp_units", 0),
            temp_control_type=s.get("temp_control_type", 0),
            procedure_details=s.get("procedure_details", ""),
            experiment_start=s.get("experiment_start", ""),
            with_outcome=s.get("with_outcome", True),
        )
        for s in specs
    ]
    rows = list(proto_decoder("sweep.pb.gz", W.dataset_pb_gz(enc)))
    assert len(rows) == len(specs)
    mismatches = []
    for i, (row, spec) in enumerate(zip(rows, specs)):
        want = _independent_expected_row(spec)
        # input roles in this sweep are single-identifier SMILES
        # components, so find_smiles(False) always resolves them
        if row != want:
            mismatches.append((i, spec, row, want))
    assert not mismatches, mismatches[:3]
