"""Multimodal-column queries under the DuckDB value oracle.

The decode KERNEL is a stub (no codec libs in the container), but the
Spark-side plumbing — binary columns, mapInPandas batching, typed
metadata struct, corrupt-blob tolerance — is real. These queries
build fake-container blobs column-side from ``documents`` (so the
oracle can re-derive every byte arithmetically), run the REAL
``decode_media_meta`` / ``media_embedding`` path, and let DuckDB
check the decoded values. What the gate certifies: the UDF plumbing
returns exactly the metadata the bytes encode, including the
valid=false path for corrupt blobs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from orderly_spark.operators.multimodal import decode_media_meta
from orderly_spark.registry import query
from orderly_spark.tables import load


def _with_fake_containers(docs: DataFrame) -> DataFrame:
    """content = 'OSMM' + json-header + NUL + text for most docs;
    every 7th doc is a corrupt blob to exercise the valid=false path.
    Header fields derive from doc_id so the oracle can recompute them.

    r12 (hostile-media sweep finding): the corrupt branch used to be
    the RAW text — but a document whose text itself happens to be a
    well-formed OSMM container then decoded valid on the Spark side
    while the oracle still assumed every 7th doc invalid. The branch
    now prefixes one non-magic byte ('X'), so corruptness is
    guaranteed by construction for ANY text, hostile corpora
    included; the oracle mirrors the +1 byte."""
    did = F.col("doc_id")
    hdr = F.concat(
        F.lit('{"height": '), (did % 480).cast("string"),
        F.lit(', "media_type": "image", "n_frames": '), (1 + did % 10).cast("string"),
        F.lit(', "sample_rate": 0, "width": '), (did % 640).cast("string"),
        F.lit("}"),
    )
    container = F.when(
        (did % 7) == 0, F.concat(F.lit("X"), F.col("text"))
    ).otherwise(F.concat(F.lit("OSMM"), hdr, F.lit("\x00"), F.col("text")))
    return docs.select("doc_id", "text", F.encode(container, "utf-8").alias("content"))


# the oracle's mirror of the header string (ASCII, so octet_length of
# the container is 4 + len(header) + 1 + octet_length(text))
_HDR_SQL = (
    "'{\"height\": ' || CAST(doc_id % 480 AS VARCHAR)"
    " || ', \"media_type\": \"image\", \"n_frames\": ' || CAST(1 + doc_id % 10 AS VARCHAR)"
    " || ', \"sample_rate\": 0, \"width\": ' || CAST(doc_id % 640 AS VARCHAR) || '}'"
)


@query(
    "mm_media_meta_decode",
    oracle=f"""
    WITH meta AS (
      SELECT doc_id,
             (doc_id % 7) <> 0 AS valid,
             CASE WHEN doc_id % 7 <> 0 THEN 'image' END AS media_type,
             CASE WHEN doc_id % 7 <> 0
                  THEN 5 + octet_length(encode({_HDR_SQL})) + octet_length(encode(text))
                  ELSE 1 + octet_length(encode(text)) END AS n_bytes,
             CASE WHEN doc_id % 7 <> 0 THEN doc_id % 640 END AS width,
             CASE WHEN doc_id % 7 <> 0 THEN 1 + doc_id % 10 END AS n_frames
      FROM documents
    )
    SELECT valid, media_type, COUNT(*) AS n,
           CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
           CAST(SUM(width) AS BIGINT) AS total_width,
           CAST(SUM(n_frames) AS BIGINT) AS total_frames
    FROM meta GROUP BY valid, media_type
    """,
    category="multimodal",
    survey="multimodal",
)
def mm_media_meta_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media columns → typed metadata via the real mapInPandas
    decode, DuckDB re-deriving every decoded value from the bytes."""
    # fan_out: the mapInPandas decode fuses into the scan stage, which
    # is ONE task on single-row-group local files (see tables.load)
    docs = load(spark, sf_dir, "documents", fan_out=True)
    decoded = decode_media_meta(_with_fake_containers(docs))
    m = F.col("media_meta")
    return (
        decoded.groupBy(
            m["valid"].alias("valid"), m["media_type"].alias("media_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(m["n_bytes"]).cast("long").alias("total_bytes"),
            F.sum(m["width"]).cast("long").alias("total_width"),
            F.sum(m["n_frames"]).cast("long").alias("total_frames"),
        )
    )


@query(
    "mm_binary_byte_ops",
    oracle="""
    SELECT source,
           COUNT(*) AS n,
           CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
           COUNT(DISTINCT md5(hex(encode(text)))) AS n_distinct_blobs,
           MIN(substring(hex(encode(text)), 1, 8)) AS min_prefix_hex
    FROM documents GROUP BY source
    """,
    category="multimodal",
    survey="multimodal",
)
def mm_binary_byte_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure-Catalyst byte ops on binary columns (length / hash /
    byte-range slice) — the fast path that needs no Python at all;
    hex() bridges to VARCHAR identically in both engines."""
    docs = load(spark, sf_dir, "documents")
    blob = F.encode(F.col("text"), "utf-8")
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.length(blob)).cast("long").alias("total_bytes"),
        F.countDistinct(F.md5(F.hex(blob))).alias("n_distinct_blobs"),
        F.min(F.substring(F.hex(blob), 1, 8)).alias("min_prefix_hex"),
    )


@query(
    "mm_frame_sampling",
    # hex() BEFORE the unnest: DuckDB 1.0.0 re-casts a BLOB column
    # carried through an unnest projection via its VARCHAR rendering,
    # which explodes on non-ASCII bytes (found by the r10 adversarial-
    # text oracle sweep); the hex string rides through unchanged
    # LEAST(.., plen) mirrors the kernel's r12 header/payload-mismatch
    # cap: frames declared beyond the payload are undecodable (a frame
    # needs >= 1 byte), so both twins cap the frame count at the
    # payload length — empty-payload docs yield zero frames
    oracle="""
    WITH d AS (
      SELECT doc_id, hex(encode(text)) AS payload_hex,
             octet_length(encode(text)) AS plen,
             LEAST(1 + doc_id % 10, octet_length(encode(text))) AS n
      FROM documents WHERE doc_id % 7 <> 0
    ),
    f AS (
      SELECT doc_id, n, payload_hex,
             greatest(1, plen // n) AS span,
             unnest(range(0, n, 3)) AS frame_index
      FROM d WHERE n >= 1
    )
    SELECT doc_id,
           CAST(frame_index AS INTEGER) AS frame_index,
           substring(payload_hex, frame_index * span * 2 + 1, span * 2) AS frame_hex
    FROM f
    """,
    category="multimodal",
    survey="multimodal",
)
def mm_frame_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-to-many frame sampling (every 3rd frame) through the REAL
    mapInPandas kernel over fake containers — the oracle re-derives
    each frame's byte range arithmetically. Corrupt blobs (every 7th
    doc) must yield zero frames, not failures. What this gates beyond
    mm_media_meta_decode: the one-row→many-rows expansion shape every
    video pipeline needs (schema swap, per-frame byte addressing)."""
    from orderly_spark.operators.multimodal import sample_frames

    docs = load(spark, sf_dir, "documents", fan_out=True)
    rich = _with_fake_containers(docs).select("doc_id", "content")
    frames = sample_frames(rich, every_n=3)
    return frames.select(
        "doc_id", "frame_index", F.hex(F.col("frame_ref")).alias("frame_hex")
    )


@query(
    "mm_resize_images",
    oracle=f"""
    WITH src AS (
      SELECT doc_id,
             doc_id % 640 AS w0, doc_id % 480 AS h0,
             octet_length(encode(text)) AS plen
      FROM documents WHERE doc_id % 7 <> 0
    ),
    calc AS (
      SELECT doc_id,
             LEAST(1.0, (64.0 * 48.0) / GREATEST(1, w0 * h0)) AS frac, plen
      FROM src
    )
    SELECT doc_id,
           64 AS width, 48 AS height,
           -- LEAST(plen, ...) mirrors the kernel's python slice
           -- payload[:max(1, floor(plen*frac))], which cannot yield
           -- more bytes than the payload has: at plen=0 the slice is
           -- empty (0), not the 1 the bare GREATEST would claim
           -- (review finding; identical for plen >= 1 since frac <= 1)
           CAST(LEAST(plen, GREATEST(1, FLOOR(plen * frac))) AS BIGINT) AS payload_bytes
    FROM calc
    """,
    category="multimodal",
    survey="multimodal",
)
def mm_resize_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize through the real mapInPandas kernel (stub: header dims
    rewritten, payload truncated by the area ratio — deterministic, so
    DuckDB re-derives the post-resize byte budget). Corrupt blobs pass
    through unchanged and are excluded here by the valid flag; what
    the gate certifies is the transform's byte-level contract."""
    from orderly_spark.operators.multimodal import resize_images

    docs = load(spark, sf_dir, "documents", fan_out=True)
    rich = _with_fake_containers(docs).select("doc_id", "content")
    resized = resize_images(rich, width=64, height=48)
    meta = decode_media_meta(resized)
    m = F.col("media_meta")
    hdr_len = F.length(
        F.concat(
            F.lit('{"height": 48, "media_type": "image", "n_frames": '),
            m["n_frames"].cast("string"),
            F.lit(', "sample_rate": 0, "width": 64}'),
        )
    )
    return (
        meta.filter(m["valid"])
        .select(
            "doc_id",
            m["width"].alias("width"),
            m["height"].alias("height"),
            (m["n_bytes"] - 5 - hdr_len).cast("bigint").alias("payload_bytes"),
        )
    )


@query(
    "mm_embed_neardup",
    oracle=None,  # md5-seeded Gaussian embedding kernel — rows-only check
    category="multimodal",
    survey="multimodal,embedding-neardup",
)
def mm_embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """media blob → pseudo-embedding (the real pandas-UDF plumbing a
    model would ride) → cosine near-dup pairs. Exact duplicate blobs
    (every 11th doc's text is replaced by one shared constant payload)
    MUST surface as cosine≈1 pairs; the query returns pair counts by
    bucket so the rows-only check still pins structure: n_exact >=
    number of planted dups."""
    from orderly_spark.operators.multimodal import media_embedding
    from orderly_spark.operators.similarity import cosine_topk

    docs = load(spark, sf_dir, "documents", fan_out=True).filter(F.col("doc_id") < 400)
    planted = docs.select(
        "doc_id",
        F.when((F.col("doc_id") % 11) == 0, F.lit("PLANTED-DUPLICATE-PAYLOAD"))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    blobs = planted.select("doc_id", F.encode(F.col("text"), "utf-8").alias("content"))
    emb = blobs.select("doc_id", media_embedding(F.col("content"), dim=16).alias("embedding"))
    qs = emb.filter((F.col("doc_id") % 11) == 0)
    top = cosine_topk(emb, qs, id_col="doc_id", vec_col="embedding", k=2)
    return top.groupBy((F.col("cosine") > 0.999999).alias("is_exact_dup")).agg(
        F.count(F.lit(1)).alias("n_pairs")
    ).orderBy("is_exact_dup")
