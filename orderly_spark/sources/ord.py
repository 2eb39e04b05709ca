"""ORD dataset source (SURVEY S1-S5, §3.1).

The reference walks `data/ord/*/*.pb.gz` with a two-level glob, skips
datasets by a substring of their normalised file name, and fans
protobuf decoding out over processes with joblib
(orderly/extract/main.py:27-51, 612-623; extractor.py:84-95).

One read path, one format: gzipped ORD ``Dataset`` protobufs become
``REACTION_SCHEMA`` rows only through

    scan_ord_files(spark, root)            # binaryFile + glob + name filter
      -> decode_reactions(files)           # mapInPandas: bytes -> rows
      -> write parquet (partitionBy file)  # S5

The file-name filter is :func:`orderly_spark.functions.rxn.
filename_contains` on each file's basename, applied to the listing, so
excluded datasets are neither read nor decoded. Decode parallelism is
one task per file (or per file split), replacing joblib's process
fan-out.

The per-file decoder is the pure-Python wire codec in
:mod:`orderly_spark.sources.ord_wire`; the program does not import
ord-schema.
"""

from __future__ import annotations

import gzip
import re
from collections.abc import Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from orderly_spark.functions.rxn import filename_contains, sql_string
from orderly_spark.schema import REACTION_SCHEMA

# decoder: (filename, file_bytes) -> iterator of row dicts keyed by
# REACTION_SCHEMA field names
Decoder = Callable[[str, bytes], "Iterator[dict]"]


def scan_ord_files(
    spark: SparkSession,
    root: str,
    glob: str = "*.pb.gz",
    name_contains: str | None = None,
    inverse: bool = False,
) -> DataFrame:
    """S1/S3: binaryFile scan of every file under ``root`` matching
    ``glob`` (reference: get_file_names, main.py:27-51). With
    ``name_contains``, keep only files whose normalised NAME contains
    it (case-insensitive, '.' read as '-'; extractor.py:84-95), or,
    with ``inverse``, only files whose name does not. Directory names
    never match. The filter runs on a path-only listing (a binaryFile
    scan that does not select ``content`` reads no file bytes), and
    only the kept files are scanned, so a dropped file's bytes are
    never read. Returns (path, modificationTime, length, content)."""
    reader = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .option("recursiveFileLookup", "true")
    )
    if not name_contains:
        return reader.load(root)
    basename = "substring_index(path, '/', -1)"
    listing = reader.load(root).select("path").filter(
        filename_contains(basename, name_contains, inverse=inverse)
    )
    # load() globs every path it is given; the kept names are literal
    return reader.load([re.sub(r"([\[\]{}*?\\])", r"\\\1", r.path) for r in listing.collect()])


def proto_decoder(filename: str, content: bytes) -> Iterator[dict]:
    """S2: the real ORD protobuf decoder (extractor.py:103-110,
    ``load_message`` + per-reaction field extraction). Gunzips the
    ``.pb.gz`` bytes and walks the proto3 wire format directly via
    :mod:`orderly_spark.sources.ord_wire` — no ord-schema dependency.
    Content that is not gzipped is parsed as raw ``Dataset`` bytes
    (``message_helpers.load_message`` accepts both)."""
    from orderly_spark.sources import ord_wire

    try:
        data = gzip.decompress(content)
    except (OSError, gzip.BadGzipFile):
        data = content
    for rxn in ord_wire.iter_dataset_reactions(data):
        yield ord_wire.reaction_to_row(rxn)


def decode_reactions(files: DataFrame, decoder: Decoder | None = None) -> DataFrame:
    """S2 as a one-to-many mapInPandas: each file's bytes expand to
    reaction rows in REACTION_SCHEMA (the reference's per-file joblib
    worker, main.py:612-623, re-expressed as task parallelism).

    Arrow moves only the output rows; per-file memory is bounded by
    one dataset file (same unit of work as the reference). At 100 TB:
    one task per file — skew from outlier files (the 400k-reaction one,
    main.py:36-38) is handled by scheduling, not memory, since the
    decode streams rows per batch.

    A file that does not decode fails the job, naming the decoder's
    error: corrupt input is never dropped silently (the reference's
    behaviour)."""
    dec = decoder if decoder is not None else proto_decoder
    field_names = [f.name for f in REACTION_SCHEMA.fields]

    def expand(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list[dict] = []
            for path, content in zip(pdf["path"], pdf["content"]):
                fname = str(path).rsplit("/", 1)[-1]
                for row in dec(fname, bytes(content)):
                    full = {k: row.get(k) for k in field_names}
                    full["extracted_from_file"] = fname
                    out.append(full)
            yield pd.DataFrame(out, columns=field_names) if out else pd.DataFrame(
                columns=field_names
            )

    return files.select("path", "content").mapInPandas(expand, REACTION_SCHEMA)


def write_extracted(df: DataFrame, out_dir: str) -> None:
    """S5 (main.py:223): parquet sink partitioned by source file, so a
    re-extract of one dataset overwrites only its own partition.

    partitionOverwriteMode=dynamic is load-bearing: Spark's default
    STATIC overwrite truncates the whole out_dir first, so the
    documented single-dataset re-extract would silently destroy every
    other dataset's partitions."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("extracted_from_file")
        .parquet(out_dir)
    )


# ---------------------------------------------------------------------------
# S7 — molecule-name list side output
# ---------------------------------------------------------------------------


def merge_molecule_names(names: DataFrame, col: str = "name") -> DataFrame:
    """S7/A1/U2 (main.py:54-89 merge_mol_names): global distinct
    sorted name list. distinct() is a map-side-combined exchange on a
    small-cardinality column; the sort is one final stage over the
    already-distinct set."""
    return names.select(col).where(F.col(col).isNotNull()).distinct().orderBy(col)


def name_list_frame(spark: SparkSession, names: Iterable[str], col: str = "name") -> DataFrame:
    """A name list the driver holds, as a one-column string frame: one
    exploded SQL array literal, so no Python worker deserialises rows
    (``createDataFrame`` over a list does)."""
    arr = f"CAST(array({', '.join(map(sql_string, names))}) AS array<string>)"
    return spark.range(1).select(F.explode(F.expr(arr)).alias(col))


def save_name_list(df: DataFrame, path: str, col: str = "name") -> None:
    """S7 sink (orderly/data/util.py:10-21): one-column sorted CSV.
    The rows move to one partition and are sorted there: the same bytes
    as a global sort, without its range-partitioning sample job."""
    df.select(col).repartition(1).sortWithinPartitions(col).write.mode("overwrite").option(
        "header", "true"
    ).csv(path)


def load_name_list(spark: SparkSession, path: str, col: str = "name") -> DataFrame:
    """S7 source: read the name-list CSV back (header, one column)."""
    return spark.read.option("header", "true").csv(path).select(col)
