"""Pure-Python ORD protobuf wire-format codec (SURVEY S2).

The reference loads gzipped binary ``Dataset`` protobufs through the
``ord-schema`` package (orderly/extract/extractor.py:103-110,
``ord_message_helpers.load_message``). That package is absent from
this image, but the ORD wire format is plain proto3 — this module
decodes the exact field subset the reference's extractor reads, using
only the documented protobuf wire encoding (varints + length-delimited
submessages + fixed32 floats) and the field numbers published in the
open-reaction-database ``ord-schema`` protos (``proto/dataset.proto``,
``proto/reaction.proto``).

Decoded-subset map (message → fields read by the extractor):

- ``Dataset``            reactions = 3                    (dataset.proto)
- ``Reaction``           identifiers = 1, inputs = 2 (map),
                         conditions = 4, notes = 5,
                         outcomes = 8, provenance = 9
- ``ReactionIdentifier`` type = 1, value = 3, is_mapped = 4
                         (type 6 = REACTION_CXSMILES; extractor.py:161-180)
- ``ReactionInput``      components = 1
- ``Compound``           identifiers = 1, reaction_role = 3
                         (roles 1..8; extractor.py:309-376)
- ``CompoundIdentifier`` type = 1, value = 3
                         (2 = SMILES; extractor.py:113-159)
- ``ReactionConditions`` temperature = 1
- ``TemperatureConditions`` control = 1, setpoint = 2
- ``TemperatureControl`` type = 1 (2 AMBIENT / 6 ICE_BATH /
                         9 DRY_ICE_BATH / 11 LIQUID_NITROGEN;
                         extractor.py:424-455)
- ``Temperature``/``Time`` value = 1 (float), units = 3 (enum)
- ``ReactionOutcome``    reaction_time = 1, products = 3
- ``ProductCompound``    identifiers = 1, measurements = 3
- ``ProductMeasurement`` type = 2 (3 = YIELD), percentage = 8
- ``Percentage``         value = 1 (float)
- ``ReactionNotes``      procedure_details = 9
- ``ReactionProvenance`` experiment_start = 3 → ``DateTime.value = 1``

The encoder half exists so tests and the gated query can build REAL
wire-format ``.pb.gz`` fixtures without ord-schema, and doubles as a
minimal ORD sink. A skip-gated parity test cross-checks both halves
against the authoritative generated classes whenever ``ord-schema``
IS importable.

Scale note: this is the per-file decode kernel that runs inside the
``mapInPandas`` task fan-out of :func:`orderly_spark.sources.ord.
decode_reactions` — one dataset file per task, rows streamed out per
batch; nothing here touches the driver.
"""

from __future__ import annotations

import datetime as _dt
import struct
from collections.abc import Iterator

# --------------------------------------------------------------------------
# wire primitives
# --------------------------------------------------------------------------

_WT_VARINT = 0
_WT_FIXED64 = 1
_WT_LEN = 2
_WT_FIXED32 = 5


def _read_uvarint(data: bytes, pos: int) -> tuple[int, int]:
    """Base-128 varint at ``pos`` → (value, next_pos)."""
    result = 0
    shift = 0
    while True:
        if pos >= len(data):
            raise ValueError("truncated varint")
        b = data[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7
        if shift > 63:
            raise ValueError("varint too long")


def iter_fields(data: bytes) -> Iterator[tuple[int, int, int | bytes]]:
    """Yield ``(field_no, wire_type, value)`` for one serialized
    message. LEN fields yield raw bytes; VARINT yields int; FIXED32/64
    yield their raw byte slices (caller unpacks). Unknown fields are
    yielded too — callers skip what they don't read, which is exactly
    proto3 forward-compatibility."""
    pos = 0
    n = len(data)
    while pos < n:
        tag, pos = _read_uvarint(data, pos)
        field_no, wt = tag >> 3, tag & 0x7
        if wt == _WT_VARINT:
            v, pos = _read_uvarint(data, pos)
            yield field_no, wt, v
        elif wt == _WT_LEN:
            ln, pos = _read_uvarint(data, pos)
            if pos + ln > n:
                raise ValueError("truncated length-delimited field")
            yield field_no, wt, data[pos : pos + ln]
            pos += ln
        elif wt == _WT_FIXED32:
            if pos + 4 > n:
                raise ValueError("truncated fixed32")
            yield field_no, wt, data[pos : pos + 4]
            pos += 4
        elif wt == _WT_FIXED64:
            if pos + 8 > n:
                raise ValueError("truncated fixed64")
            yield field_no, wt, data[pos : pos + 8]
            pos += 8
        else:  # groups (3/4) never appear in proto3 ORD data
            raise ValueError(f"unsupported wire type {wt}")


def _f32(raw: bytes) -> float:
    return struct.unpack("<f", raw)[0]


# --------------------------------------------------------------------------
# message parsers (only the extractor-read subset; see module doc)
# --------------------------------------------------------------------------


def _parse_value_units(raw: bytes) -> tuple[float | None, int]:
    """Shared shape of ORD unit messages (Temperature, Time):
    value = 1 (float), units = 3 (enum varint)."""
    value: float | None = None
    units = 0
    for no, wt, v in iter_fields(raw):
        if no == 1 and wt == _WT_FIXED32:
            value = _f32(v)
        elif no == 3 and wt == _WT_VARINT:
            units = int(v)
    return value, units


def _parse_compound_identifier(raw: bytes) -> tuple[int, str]:
    ctype = 0
    value = ""
    for no, wt, v in iter_fields(raw):
        if no == 1 and wt == _WT_VARINT:
            ctype = int(v)
        elif no == 3 and wt == _WT_LEN:
            value = v.decode("utf-8")
    return ctype, value


def _parse_compound(raw: bytes) -> dict:
    identifiers: list[tuple[int, str]] = []
    role = 0
    for no, wt, v in iter_fields(raw):
        if no == 1 and wt == _WT_LEN:
            identifiers.append(_parse_compound_identifier(v))
        elif no == 3 and wt == _WT_VARINT:
            role = int(v)
    return {"identifiers": identifiers, "reaction_role": role}


def _parse_reaction_input(raw: bytes) -> list[dict]:
    return [
        _parse_compound(v) for no, wt, v in iter_fields(raw) if no == 1 and wt == _WT_LEN
    ]


def _parse_map_entry(raw: bytes) -> tuple[str, bytes]:
    """proto map<string, M> entry: key = 1, value = 2."""
    key = ""
    value = b""
    for no, wt, v in iter_fields(raw):
        if no == 1 and wt == _WT_LEN:
            key = v.decode("utf-8")
        elif no == 2 and wt == _WT_LEN:
            value = v
    return key, value


def _parse_temperature_conditions(raw: bytes) -> tuple[float | None, int, int]:
    """→ (setpoint_value, setpoint_units, control_type)."""
    sp_value: float | None = None
    sp_units = 0
    control_type = 0
    for no, wt, v in iter_fields(raw):
        if no == 2 and wt == _WT_LEN:
            sp_value, sp_units = _parse_value_units(v)
        elif no == 1 and wt == _WT_LEN:
            for cno, cwt, cv in iter_fields(v):
                if cno == 1 and cwt == _WT_VARINT:
                    control_type = int(cv)
    return sp_value, sp_units, control_type


def _parse_product_measurement(raw: bytes) -> dict:
    mtype = 0
    percentage: float | None = None
    for no, wt, v in iter_fields(raw):
        if no == 2 and wt == _WT_VARINT:
            mtype = int(v)
        elif no == 8 and wt == _WT_LEN:  # Percentage submessage
            for pno, pwt, pv in iter_fields(v):
                if pno == 1 and pwt == _WT_FIXED32:
                    percentage = _f32(pv)
    return {"type": mtype, "percentage": percentage}


def _parse_product_compound(raw: bytes) -> dict:
    identifiers: list[tuple[int, str]] = []
    measurements: list[dict] = []
    for no, wt, v in iter_fields(raw):
        if no == 1 and wt == _WT_LEN:
            identifiers.append(_parse_compound_identifier(v))
        elif no == 3 and wt == _WT_LEN:
            measurements.append(_parse_product_measurement(v))
    return {"identifiers": identifiers, "measurements": measurements}


def _parse_outcome(raw: bytes) -> dict:
    time_value: float | None = None
    time_units = 0
    products: list[dict] = []
    for no, wt, v in iter_fields(raw):
        if no == 1 and wt == _WT_LEN:
            time_value, time_units = _parse_value_units(v)
        elif no == 3 and wt == _WT_LEN:
            products.append(_parse_product_compound(v))
    return {"time_value": time_value, "time_units": time_units, "products": products}


def _parse_reaction_identifier(raw: bytes) -> dict:
    itype = 0
    value = ""
    is_mapped = False
    for no, wt, v in iter_fields(raw):
        if no == 1 and wt == _WT_VARINT:
            itype = int(v)
        elif no == 3 and wt == _WT_LEN:
            value = v.decode("utf-8")
        elif no == 4 and wt == _WT_VARINT:
            is_mapped = bool(v)
    return {"type": itype, "value": value, "is_mapped": is_mapped}


def parse_reaction(raw: bytes) -> dict:
    """One ``Reaction`` message → plain dict of the extractor-read
    subset (see module doc for the field map)."""
    identifiers: list[dict] = []
    inputs: list[tuple[str, list[dict]]] = []
    outcomes: list[dict] = []
    temp: tuple[float | None, int, int] = (None, 0, 0)
    procedure_details = ""
    experiment_start = ""
    for no, wt, v in iter_fields(raw):
        if wt != _WT_LEN:
            continue
        if no == 1:
            identifiers.append(_parse_reaction_identifier(v))
        elif no == 2:
            key, entry = _parse_map_entry(v)
            inputs.append((key, _parse_reaction_input(entry)))
        elif no == 4:  # ReactionConditions.temperature = 1
            for cno, cwt, cv in iter_fields(v):
                if cno == 1 and cwt == _WT_LEN:
                    temp = _parse_temperature_conditions(cv)
        elif no == 5:  # ReactionNotes.procedure_details = 9
            for nno, nwt, nv in iter_fields(v):
                if nno == 9 and nwt == _WT_LEN:
                    procedure_details = nv.decode("utf-8")
        elif no == 8:
            outcomes.append(_parse_outcome(v))
        elif no == 9:  # ReactionProvenance.experiment_start = 3 → DateTime.value = 1
            for pno, pwt, pv in iter_fields(v):
                if pno == 3 and pwt == _WT_LEN:
                    for dno, dwt, dv in iter_fields(pv):
                        if dno == 1 and dwt == _WT_LEN:
                            experiment_start = dv.decode("utf-8")
    return {
        "identifiers": identifiers,
        "inputs": inputs,
        "outcomes": outcomes,
        "temperature": temp,
        "procedure_details": procedure_details,
        "experiment_start": experiment_start,
    }


def iter_dataset_reactions(data: bytes) -> Iterator[dict]:
    """``Dataset`` message → its ``reactions = 3`` entries, parsed."""
    for no, wt, v in iter_fields(data):
        if no == 3 and wt == _WT_LEN:
            yield parse_reaction(v)


# --------------------------------------------------------------------------
# extractor semantics: parsed reaction → REACTION_SCHEMA row
# (mirrors orderly/extract/extractor.py; SMILES identifiers are kept as
# written, the decode does not canonicalise them)
# --------------------------------------------------------------------------


def _find_smiles(identifiers: list[tuple[int, str]]) -> str | None:
    """extractor.py:113-159 find_smiles with the reference's default
    ``consider_molecule_names=False``: the first SMILES identifier
    (type 2) as written, else None. NAME identifiers (type 6) are not
    read."""
    for itype, value in identifiers:
        if itype == 2:
            return value
    return None


def _rxn_string_and_is_mapped(rxn: dict) -> tuple[str | None, bool | None]:
    """extractor.py:161-180: the LAST REACTION_CXSMILES identifier
    (type 6) wins; extended-SMILES suffix dropped at the first space;
    valid iff exactly two '>'."""
    ext = None
    is_mapped = False
    for ident in rxn["identifiers"]:
        if ident["type"] == 6:
            ext = ident["value"]
            is_mapped = ident["is_mapped"]
    if ext is None:
        return None, None
    rxn_str = ext.split(" ")[0]
    if rxn_str.count(">") == 2:
        return rxn_str, is_mapped
    return None, None


_ROLE_BUCKETS = {1: "reactants", 2: "reagents", 3: "solvents", 4: "catalysts", 8: "products_in"}


def _inputs_to_roles(rxn: dict) -> dict[str, list[str]]:
    """extractor.py:309-376 rxn_input_extractor: role-bucketed,
    dot-split, sorted. Roles 5/6/7 (workup / internal / authentic
    standard) are skipped; role 8 products-in-inputs are decoded but
    the downstream pipeline trusts outcomes for products, exactly as
    the reference does."""
    buckets: dict[str, list[str]] = {k: [] for k in _ROLE_BUCKETS.values()}
    for _key, components in rxn["inputs"]:
        for comp in components:
            bucket = _ROLE_BUCKETS.get(comp["reaction_role"])
            if bucket is None:
                continue
            smiles = _find_smiles(comp["identifiers"])
            if smiles is None:
                continue
            buckets[bucket] += smiles.split(".")
    return {k: sorted(v) for k, v in buckets.items()}


def _outcomes_to_products(rxn: dict) -> tuple[list[str], list[float | None]]:
    """extractor.py:378-423 rxn_outcomes_extractor on outcomes[0]:
    per product, YIELD measurement (type 3) percentage rounded to 2;
    dotted product strings sorted longest-first with the yield pinned
    to the front and None-padding — the reference's one-yield-per-
    multi-fragment-product resolution."""
    if not rxn["outcomes"]:
        return [], []
    products: list[str] = []
    yields: list[float | None] = []
    for product in rxn["outcomes"][0]["products"]:
        smiles = _find_smiles(product["identifiers"])
        if smiles is None:
            continue
        y: float | None = None
        for m in product["measurements"]:
            if m["type"] == 3:
                # proto3 accessor semantics, as the reference reads it:
                # measurement.percentage.value is 0.0 when the
                # Percentage submessage is absent — a type-3 (YIELD)
                # measurement therefore always produces a number
                y = round(float(m["percentage"] or 0.0), 2)
        frags = sorted(smiles.split("."), key=len, reverse=True)
        products += frags
        yields += [y] + [None] * (len(frags) - 1)
    return products, yields


def _temperature_celsius(rxn: dict) -> float | None:
    """extractor.py:424-455: setpoint units 1/2/3 (C/F/K), else the
    control-type constants (AMBIENT 25, ICE_BATH 0, DRY_ICE_BATH
    -78.5, LIQUID_NITROGEN -196). A set units with an absent value
    reads as 0.0 — the proto3 ``setpoint.value`` accessor default the
    reference reads through."""
    value, units, control_type = rxn["temperature"]
    v = 0.0 if value is None else value
    if units == 1:
        return float(v)
    if units == 2:
        return float((v - 32) * 5 / 9)
    if units == 3:
        return float(v - 273.15)
    if units == 0:
        return {2: 25.0, 6: 0.0, 9: -78.5, 11: -196.0}.get(control_type)
    return None


def _rxn_time_hours(rxn: dict) -> float | None:
    """extractor.py:458-475: hours/minutes/seconds/days → hours,
    rounded to 2 (Python HALF_EVEN, as the reference). A set units
    with an absent value reads as 0.0 (proto3 accessor default, as
    the reference reads it). A reaction with NO outcomes returns None
    — deliberate hardening: the reference indexes ``outcomes[0]``
    unconditionally and would raise on such a record."""
    if not rxn["outcomes"]:
        return None
    value = rxn["outcomes"][0]["time_value"]
    units = rxn["outcomes"][0]["time_units"]
    v = 0.0 if value is None else float(value)
    if units == 1:
        return round(v, 2)
    if units == 2:
        return round(v / 60, 2)
    if units == 3:
        return round(v / 3600, 2)
    if units == 4:
        return round(v * 24, 2)
    return None


def _date_of_experiment(rxn: dict) -> _dt.datetime | None:
    """extractor.py:484-500: strict %m/%d/%Y, unparseable → None."""
    raw = rxn["experiment_start"]
    if not raw:
        return None
    try:
        return _dt.datetime.strptime(raw, "%m/%d/%Y")
    except ValueError:
        return None


def reaction_to_row(rxn: dict) -> dict:
    """Parsed reaction → labelled REACTION_SCHEMA row (the S2 decode
    surface; role re-derivation from the rxn string is downstream in
    :func:`orderly_spark.operators.extract.extract_reactions`).
    ``agents`` stays None here — the reference only creates agents in
    merge_to_agents (extractor.py:546-593), after decoding."""
    rxn_str, is_mapped = _rxn_string_and_is_mapped(rxn)
    roles = _inputs_to_roles(rxn)
    products, yields = _outcomes_to_products(rxn)
    return {
        "rxn_str": rxn_str,
        "reactants": roles["reactants"],
        "agents": None,
        "reagents": roles["reagents"],
        "solvents": roles["solvents"],
        "catalysts": roles["catalysts"],
        "products": products,
        "yields": yields,
        "temperature": _temperature_celsius(rxn),
        "rxn_time": _rxn_time_hours(rxn),
        "procedure_details": rxn["procedure_details"],
        "date_of_experiment": _date_of_experiment(rxn),
        "grant_date": None,  # S4: derived from the FILENAME, not the proto
        "is_mapped": is_mapped,
    }


# --------------------------------------------------------------------------
# encoder — fixture builder / minimal ORD sink (same field numbers)
# --------------------------------------------------------------------------


def _enc_uvarint(v: int) -> bytes:
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _enc_tag(field_no: int, wt: int) -> bytes:
    return _enc_uvarint((field_no << 3) | wt)


def _enc_len(field_no: int, payload: bytes) -> bytes:
    return _enc_tag(field_no, _WT_LEN) + _enc_uvarint(len(payload)) + payload


def _enc_str(field_no: int, s: str) -> bytes:
    return _enc_len(field_no, s.encode("utf-8"))


def _enc_varint_field(field_no: int, v: int) -> bytes:
    return _enc_tag(field_no, _WT_VARINT) + _enc_uvarint(v)


def _enc_f32(field_no: int, v: float) -> bytes:
    return _enc_tag(field_no, _WT_FIXED32) + struct.pack("<f", v)


def encode_compound(identifiers: list[tuple[int, str]], reaction_role: int = 0) -> bytes:
    body = b"".join(
        _enc_len(1, _enc_varint_field(1, t) + _enc_str(3, v)) for t, v in identifiers
    )
    if reaction_role:
        body += _enc_varint_field(3, reaction_role)
    return body


def encode_reaction(
    *,
    cxsmiles: str | None = None,
    is_mapped: bool = False,
    inputs: list[tuple[str, list[bytes]]] | None = None,
    products: list[tuple[str, float | None]] | None = None,
    time_value: float | None = None,
    time_units: int = 0,
    temp_value: float | None = None,
    temp_units: int = 0,
    temp_control_type: int = 0,
    procedure_details: str = "",
    experiment_start: str = "",
    with_outcome: bool = True,
) -> bytes:
    """Serialize one ``Reaction``. ``inputs`` maps key → encoded
    Compound list; ``products`` is (SMILES-or-name, yield%|None)."""
    body = b""
    if cxsmiles is not None:
        ident = _enc_varint_field(1, 6) + _enc_str(3, cxsmiles)
        if is_mapped:
            ident += _enc_varint_field(4, 1)
        body += _enc_len(1, ident)
    for key, compounds in inputs or []:
        rinput = b"".join(_enc_len(1, c) for c in compounds)
        body += _enc_len(2, _enc_str(1, key) + _enc_len(2, rinput))
    if temp_units or temp_value is not None or temp_control_type:
        setpoint = b""
        if temp_value is not None:
            setpoint += _enc_f32(1, temp_value)
        if temp_units:
            setpoint += _enc_varint_field(3, temp_units)
        tc = b""
        if temp_control_type:
            tc += _enc_len(1, _enc_varint_field(1, temp_control_type))
        if setpoint:
            tc += _enc_len(2, setpoint)
        body += _enc_len(4, _enc_len(1, tc))
    if procedure_details:
        body += _enc_len(5, _enc_str(9, procedure_details))
    if with_outcome:
        outcome = b""
        if time_value is not None or time_units:
            t = b""
            if time_value is not None:
                t += _enc_f32(1, time_value)
            if time_units:
                t += _enc_varint_field(3, time_units)
            outcome += _enc_len(1, t)
        for smiles, y in products or []:
            pc = _enc_len(1, _enc_varint_field(1, 2) + _enc_str(3, smiles))
            if y is not None:
                pc += _enc_len(3, _enc_varint_field(2, 3) + _enc_len(8, _enc_f32(1, y)))
            outcome += _enc_len(3, pc)
        body += _enc_len(8, outcome)
    if experiment_start:
        body += _enc_len(9, _enc_len(3, _enc_str(1, experiment_start)))
    return body


def encode_dataset(reactions: list[bytes], name: str = "fixture") -> bytes:
    """Serialize a ``Dataset`` holding pre-encoded reactions."""
    return _enc_str(1, name) + b"".join(_enc_len(3, r) for r in reactions)


def dataset_pb_gz(reactions: list[bytes], name: str = "fixture") -> bytes:
    """Gzipped wire bytes — the on-disk ``.pb.gz`` format the
    reference's two-level glob scans (main.py:27-51)."""
    import gzip
    import io

    buf = io.BytesIO()
    # mtime=0 keeps fixture bytes deterministic across runs
    with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as fh:
        fh.write(encode_dataset(reactions, name))
    return buf.getvalue()
