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


# minimum batch size before an all-files-skipped batch is treated as a
# systemic decoder failure instead of co-located corrupt data
_TOTAL_SKIP_GUARD = 8


def decode_reactions(
    files: DataFrame,
    decoder: Decoder | None = None,
    *,
    on_error: str = "raise",
    total_skip_guard: int | None = _TOTAL_SKIP_GUARD,
) -> DataFrame:
    """S2 as a one-to-many mapInPandas: each file's bytes expand to
    reaction rows in REACTION_SCHEMA (the reference's per-file joblib
    worker, main.py:612-623, re-expressed as task parallelism).

    Arrow moves only the output rows; per-file memory is bounded by
    one dataset file (same unit of work as the reference). At 100 TB:
    one task per file — skew from outlier files (the 400k-reaction one,
    main.py:36-38) is handled by scheduling, not memory, since the
    decode streams rows per batch.

    ``on_error``: ``"raise"`` (default, reference-faithful — a corrupt
    file aborts the job LOUDLY, never silently drops data) or
    ``"skip"`` (quarantine mode for 100 TB fleets where one truncated
    ``.pb.gz`` must not kill a week-long extract: corrupt files yield
    zero rows here; pair with :func:`decode_errors` over the SAME scan
    to audit exactly which files were skipped and why — skip without
    the audit is how data loss hides). Even in skip mode a task whose
    files ALL fail (≥ ``total_skip_guard`` of them) raises: a
    100%-skip is a systemic decoder bug wearing a quarantine, and must
    not masquerade as an empty corpus.

    ``total_skip_guard``: the all-failed task size at
    which skip mode aborts (default ``_TOTAL_SKIP_GUARD``); pass a
    larger value or ``None`` to tolerate bigger all-corrupt tasks.
    CAVEAT: binaryFile packs co-located files into one task, so
    DIRECTORY-CLUSTERED genuine corruption wider than the guard will
    abort the job even though the decoder is healthy — for that
    triage, either raise/disable the guard here (keeping the
    decode_errors audit as the safety net) or run ``on_error='raise'``
    on the suspect directory alone."""
    if on_error not in ("raise", "skip"):
        raise ValueError(f"on_error must be 'raise' or 'skip', got {on_error!r}")
    if total_skip_guard is not None and total_skip_guard < 2:
        raise ValueError("total_skip_guard must be >= 2 or None")
    dec = decoder if decoder is not None else proto_decoder
    field_names = [f.name for f in REACTION_SCHEMA.fields]
    skip = on_error == "skip"

    def expand(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n_files = 0
        n_skipped = 0
        last_err: Exception | None = None
        for pdf in batches:
            out: list[dict] = []
            n_files += len(pdf)
            for path, content in zip(pdf["path"], pdf["content"]):
                fname = str(path).rsplit("/", 1)[-1]
                try:
                    rows = list(dec(fname, bytes(content)))
                except Exception as ex:
                    if skip:
                        n_skipped += 1
                        last_err = ex
                        continue
                    raise
                for row in rows:
                    full = {k: row.get(k) for k in field_names}
                    full["extracted_from_file"] = fname
                    out.append(full)
            yield pd.DataFrame(out, columns=field_names) if out else pd.DataFrame(
                columns=field_names
            )
        # total-skip guard: quarantine mode exists to drop the rare
        # corrupt TAIL, not to swallow a systemic decoder bug — if EVERY
        # file of a many-file TASK failed, the likely culprit is the
        # decoder, and an empty DataFrame would masquerade as an empty
        # corpus. Counted across the whole task (at scale a task packs
        # many files); the total_skip_guard threshold keeps a few
        # co-located corrupt files from false-aborting a quarantined
        # fleet (None disables it, see docstring). A systemic bug on a
        # big corpus always crosses the threshold in some task.
        if (
            skip
            and total_skip_guard is not None
            and n_files >= total_skip_guard
            and n_skipped == n_files
        ):
            raise RuntimeError(
                f"decode_reactions(on_error='skip'): all {n_files} files in "
                f"this task failed to decode — refusing to return an empty "
                f"result for what looks like a systemic decoder bug, not "
                f"data corruption (last error: {last_err!r}). Audit with "
                f"decode_errors(); use on_error='raise' to see the first "
                f"failure."
            )

    return files.select("path", "content").mapInPandas(expand, REACTION_SCHEMA)


def decode_errors(files: DataFrame) -> DataFrame:
    """The quarantine audit for ``decode_reactions(on_error='skip')``:
    one row per file whose decode RAISES — (file, error_class,
    error). Files that decode cleanly produce no row, so at scale the
    OUTPUT is tiny (the corrupt tail) — but the audit's COST is a full
    second decode of every file (validity here is only known by
    decoding; there is no cheaper checker for the wire format), so run
    it as a separate audit pass, not inline with the data pass. Same
    per-file task shape as the decode (mapInPandas over
    (path, content))."""
    cols = ["file", "error_class", "error"]

    def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list[dict] = []
            for path, content in zip(pdf["path"], pdf["content"]):
                fname = str(path).rsplit("/", 1)[-1]
                try:
                    for _ in proto_decoder(fname, bytes(content)):
                        pass
                except Exception as ex:  # noqa: BLE001 — the audit's whole job
                    out.append(
                        {"file": fname, "error_class": type(ex).__name__,
                         "error": str(ex)[:500]}
                    )
            yield pd.DataFrame(out, columns=cols) if out else pd.DataFrame(columns=cols)

    return files.select("path", "content").mapInPandas(
        probe, "file string, error_class string, error string"
    )


def write_extracted(df: DataFrame, out_dir: str) -> None:
    """S5 (main.py:223): parquet sink partitioned by source file, so a
    re-extract of one dataset overwrites only its own partition.

    partitionOverwriteMode=dynamic is load-bearing: Spark's default
    STATIC overwrite truncates the whole out_dir first, so the
    documented single-dataset re-extract would silently destroy every
    other dataset's partitions (review finding — data loss)."""
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
