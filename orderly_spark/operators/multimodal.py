"""Multimodal columns (north-star LLM-pipeline surface): image/audio/
video as opaque ``binary`` columns with typed metadata, processed by
Arrow-batched Pandas UDFs over ``mapInPandas``.

Media are read in one container format, the fake one below; there is
no codec (PIL, ffmpeg, torchaudio…) path, so every kernel's output
depends only on its input. Every operator is split into
  (a) the Spark-side plumbing — schema, batching, partitioning, UDF
      signature, null handling — which is REAL and tested, and
  (b) a deterministic kernel over the container header and payload;
      any other bytes are invalid media.

Fake container format (for tests/fixtures): ``b"OSMM" + json header
+ b"\\0" + payload`` — enough structure that header parsing, frame
addressing and byte-range slicing exercise the same code paths a real
codec would.

Scale notes: media blobs ride the fact table as binary columns;
operators are mapInPandas so Arrow moves each batch once. Blob sizes
dominate memory — callers should size
``spark.sql.execution.arrow.maxRecordsPerBatch`` so batch_bytes ≈
rows × avg_blob fits the executor (documented per operator).
"""

from __future__ import annotations

import hashlib
import json
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MAGIC = b"OSMM"

MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("media_type", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("valid", T.BooleanType()),
    ]
)


def fake_media_bytes(
    media_type: str = "image",
    width: int = 0,
    height: int = 0,
    n_frames: int = 1,
    sample_rate: int = 0,
    payload: bytes = b"",
) -> bytes:
    """Build a fake-container blob (fixtures / deterministic tests)."""
    header = json.dumps(
        {
            "media_type": media_type,
            "width": width,
            "height": height,
            "n_frames": n_frames,
            "sample_rate": sample_rate,
        },
        sort_keys=True,
    ).encode()
    return MAGIC + header + b"\0" + payload


#: numeric header fields and the int32 envelope they must sit in (the
#: decode schema's IntegerType): a header DECLARING a width past 2^31
#: is corrupt data, and without this gate it killed the task at Arrow
#: conversion time instead of yielding valid=false (r12 hostile-media
#: sweep finding — one poisoned blob aborted the stage)
_NUM_FIELDS = ("width", "height", "n_frames", "sample_rate")
_I32_MIN, _I32_MAX = -(1 << 31), (1 << 31) - 1


def _parse_fake(content: bytes) -> dict | None:
    """Parse a fake container; None for anything that is not a
    structurally VALID header — bad magic, truncated/non-UTF8/non-JSON
    header, a non-object header, a non-string media_type, or numeric
    fields that are not int32-range integers (booleans included:
    ``true`` is not a width). Absent fields stay absent (the
    header-incomplete contract: valid row, NULL field)."""
    if content is None or not content.startswith(MAGIC):
        return None
    try:
        head, _, payload = content[len(MAGIC):].partition(b"\0")
        meta = json.loads(head)
        if not isinstance(meta, dict):
            return None
        mt = meta.get("media_type")
        if mt is not None and not isinstance(mt, str):
            return None
        for f in _NUM_FIELDS:
            v = meta.get(f)
            if v is None:
                continue
            if isinstance(v, bool) or not isinstance(v, int) or not (_I32_MIN <= v <= _I32_MAX):
                return None
        meta["payload"] = payload
        return meta
    except Exception:
        return None


def decode_media_meta(df: DataFrame, content_col: str = "content") -> DataFrame:
    """Decode → typed metadata struct, appended as ``media_meta``.

    Plumbing (real): mapInPandas over (all input cols + content),
    emitting input schema + MEDIA_META_SCHEMA; corrupt/unknown blobs
    yield valid=false rows instead of failing the task — at 100 TB a
    per-mille of corrupt blobs is certain and must not kill stages.

    Kernel: the container header parse; bytes that are not a
    well-formed container yield valid=false."""
    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField("media_meta", MEDIA_META_SCHEMA)]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = []
            for content in pdf[content_col]:
                blob = bytes(content) if content is not None else None
                parsed = _parse_fake(blob)
                if parsed is None:
                    metas.append(
                        {
                            "media_type": None,
                            "width": None,
                            "height": None,
                            "n_frames": None,
                            "sample_rate": None,
                            "n_bytes": len(blob) if blob is not None else None,
                            "valid": False,
                        }
                    )
                else:
                    # .get(): a blob whose header parses but lacks a
                    # field must yield a row, never a KeyError that
                    # kills the task (review finding — the docstring's
                    # corrupt-blob contract)
                    metas.append(
                        {
                            "media_type": parsed.get("media_type"),
                            "width": parsed.get("width"),
                            "height": parsed.get("height"),
                            "n_frames": parsed.get("n_frames"),
                            "sample_rate": parsed.get("sample_rate"),
                            "n_bytes": len(blob),
                            "valid": True,
                        }
                    )
            pdf = pdf.copy()
            pdf["media_meta"] = metas
            yield pdf

    return df.mapInPandas(kernel, out_schema)


def media_embedding(content: Column, dim: int = 64) -> Column:
    """binary → deterministic pseudo-embedding ArrayType(FloatType).

    STUB kernel (md5-seeded): a real model would run in the same
    pandas-UDF shape (batch in, matrix out). Plumbing real: scalar
    iterator pandas UDF, Arrow batches, null→null."""

    @F.pandas_udf(T.ArrayType(T.FloatType()))
    def embed(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in it:

            def one(b):
                if b is None:
                    return None
                seed = int.from_bytes(hashlib.md5(bytes(b)).digest()[:8], "big")
                rng = np.random.default_rng(seed)
                v = rng.standard_normal(dim)
                v /= np.linalg.norm(v) or 1.0
                return v.astype(np.float32).tolist()

            yield s.map(one)

    return embed(content)


def sample_frames(df: DataFrame, every_n: int, content_col: str = "content") -> DataFrame:
    """Video frame sampling: one output row per kept frame
    (one-to-many ⇒ mapInPandas, like the ORD decode). Output schema =
    input minus blob plus (frame_index, frame_ref). The stub addresses
    frames as payload byte-ranges; a real decoder would emit pixel
    buffers in the same row shape.

    Partitioning note: output cardinality = Σ n_frames/every_n; when
    frames feed a shuffle (e.g. embedding + LSH), repartition AFTER
    sampling so skewed long videos spread out."""
    keep = [f for f in df.schema.fields if f.name != content_col]
    out_schema = T.StructType(
        keep
        + [
            T.StructField("frame_index", T.IntegerType()),
            T.StructField("frame_ref", T.BinaryType()),
        ]
    )
    if every_n < 1:
        raise ValueError("every_n must be >= 1")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            # positional iteration over raw columns — iterrows() would
            # coerce every row to one common dtype (int64 ids become
            # float64, corrupting values above 2^53; review finding)
            keep_names = [f.name for f in keep]
            col_vals = {k: pdf[k].tolist() for k in keep_names}
            for ridx, content in enumerate(pdf[content_col].tolist()):
                parsed = _parse_fake(bytes(content) if content is not None else None)
                if parsed is None:
                    continue
                n = int(parsed.get("n_frames") or 0)
                payload = parsed.get("payload", b"")
                # header/payload mismatch guard (r12 hostile-media
                # sweep): a frame needs at least one payload byte, so
                # frames DECLARED beyond the payload are undecodable —
                # cap instead of trusting the header (an int32-max
                # n_frames over a 3-byte payload used to spin this
                # loop two billion times per blob). A real codec reads
                # frame counts from the stream, not the wrapper.
                n = min(n, len(payload))
                span = max(1, len(payload) // n) if n else 0
                for i in range(0, n, every_n):
                    base = {k: col_vals[k][ridx] for k in keep_names}
                    base["frame_index"] = i
                    base["frame_ref"] = payload[i * span : (i + 1) * span]
                    rows.append(base)
            cols = [f.name for f in out_schema.fields]
            yield (pd.DataFrame(rows, columns=cols) if rows else pd.DataFrame(columns=cols))

    return df.mapInPandas(kernel, out_schema)


def resize_images(df: DataFrame, width: int, height: int, content_col: str = "content") -> DataFrame:
    """Image resize over the container format: header dims rewritten,
    payload truncated by the area ratio (deterministic,
    shape-preserving). Plumbing: mapInPandas, same schema out; rows
    that are not container images (other media, invalid or header-
    incomplete blobs) pass through unchanged — resize is best-effort,
    not a filter."""
    schema = df.schema

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for content in pdf[content_col]:
                blob = bytes(content) if content is not None else None
                parsed = _parse_fake(blob)
                # header-incomplete blobs pass through unchanged too —
                # parsed["width"] etc. raised KeyError and killed the
                # batch before (review finding; "resize is best-effort,
                # not a filter" is the documented contract)
                if (
                    parsed is None
                    or parsed.get("media_type") != "image"
                    or parsed.get("width") is None
                    or parsed.get("height") is None
                ):
                    out.append(content)
                    continue
                old_area = max(1, int(parsed["width"]) * int(parsed["height"]))
                frac = min(1.0, (width * height) / old_area)
                payload = parsed.get("payload", b"")
                out.append(
                    fake_media_bytes(
                        "image",
                        width,
                        height,
                        parsed.get("n_frames"),
                        parsed.get("sample_rate"),
                        payload[: max(1, int(len(payload) * frac))],
                    )
                )
            pdf = pdf.copy()
            pdf[content_col] = out
            yield pdf

    return df.mapInPandas(kernel, schema)
