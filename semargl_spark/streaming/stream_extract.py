"""Streaming triple extraction (SURVEY.md §2.11).

The reference is a *streaming parser* (incremental within a document),
not a stream processor — so cross-document streaming semantics are free
for us to define: each micro-batch of transcript turns flows through
the same ``mapInArrow`` extraction used in batch (the stage is
stateless per turn, so it is trivially valid under Structured
Streaming), with exactly-once sink semantics via checkpointing.

At scale this is the incremental-ingest path: new transcript partitions
land in the input table; ``trigger(availableNow=True)`` drains them
idempotently; per-turn purity (text equality invariant) makes replays
safe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.extract import extract_statements
from ..schema import TRANSCRIPTS_SCHEMA


def read_transcript_stream(
    spark: SparkSession, input_path: str, with_fmt: bool = True
) -> DataFrame:
    schema = TRANSCRIPTS_SCHEMA
    if with_fmt:
        from pyspark.sql.types import StringType, StructField, StructType

        schema = StructType(
            list(TRANSCRIPTS_SCHEMA.fields) + [StructField("fmt", StringType(), True)]
        )
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(input_path)
    )


def stream_extract(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
):
    """input parquet dir (streamed) → statements parquet, exactly-once.

    Returns the StreamingQuery; callers drain with
    ``q.awaitTermination()`` under ``trigger(availableNow=True)``."""
    stream = read_transcript_stream(spark, input_path)
    statements = extract_statements(stream)
    return (
        statements.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
