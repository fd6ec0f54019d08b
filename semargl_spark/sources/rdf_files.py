"""File-based RDF input adapter — the reference's primary ingestion
mode (``BaseStreamProcessor.process(File, baseUri)``,
core/src/main/java/org/semarglproject/source/BaseStreamProcessor.java:61-84):
a directory of RDF documents on disk becomes the same
(conv_id, turn_idx, text[, fmt]) frame the table path feeds to
operators/extract.py, so every downstream stage (extraction, linking,
canonicalization, materialize) is shared.

Document identity: bnode relabeling is doc-scoped (`_:b{conv}_{tix}_{n}`),
so the file name carries the document key — ``c<conv>_t<turn>.<ext>``
by default, falling back to (file name, 0) for arbitrary names. This
keeps file-ingested output byte-identical to table-ingested output for
the same document bodies.

Scale shape: ``spark.read.text(wholetext=True)`` gives one task per
file group — parallelism is bounded by file count, which is the right
unit because a document is the parser's isolation boundary (all bnode
counters / context stacks are per document). Line-oriented corpora
that need sub-file parallelism (giant .nt dumps) should instead be
read with ``wholetext=False`` and extracted with an explicit
``doc_key`` column, which switches the kernels to name-keyed bnode
relabeling (operators/extract.py) so labels unify across the split.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .fetch import _EXT_FORMAT


def read_rdf_files(
    spark: SparkSession,
    path: str,
    fmt: str | None = None,
    name_pattern: str = r"c(\d+)_t(\d+)",
) -> DataFrame:
    """Directory/glob of RDF documents → (conv_id, turn_idx, text, fmt).

    ``fmt`` overrides per-file format detection; otherwise the file
    extension picks the parser (unknown extensions leave fmt null and
    extraction falls back to content sniffing). ``name_pattern``
    recovers the (conv, turn) document key from the file name; files
    that don't match use (base name, 0) — still a unique per-document
    key, just not joinable back to a transcript table.
    """
    raw = spark.read.text(path, wholetext=True)
    fname = F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1)
    base = F.regexp_replace(fname, r"\.[A-Za-z0-9]+$", "")
    conv_m = F.regexp_extract(fname, name_pattern, 1)
    turn_m = F.regexp_extract(fname, name_pattern, 2)
    matched = (conv_m != "") & (turn_m != "")
    ext = F.lower(F.regexp_extract(fname, r"(\.[A-Za-z0-9]+)$", 1))
    fmt_col = (
        F.lit(fmt)
        if fmt is not None
        else F.element_at(
            F.create_map(
                *[F.lit(x) for kv in _EXT_FORMAT.items() for x in kv]
            ),
            ext,
        )
    )
    return raw.select(
        F.when(matched, F.concat(F.lit("c"), conv_m)).otherwise(base).alias(
            "conv_id"
        ),
        F.when(matched, turn_m.cast("int")).otherwise(F.lit(0)).alias(
            "turn_idx"
        ),
        F.col("value").alias("text"),
        fmt_col.alias("fmt"),
    )
