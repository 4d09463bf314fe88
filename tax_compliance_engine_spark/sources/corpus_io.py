"""Corpus I/O: the documents table across the container formats a training
pipeline actually ingests (parquet, JSONL, ORC, CSV).

Design rules:
- ALWAYS an explicit schema: schema inference re-reads the whole input
  (a second full scan at 100 TB) and silently drifts types between drops;
  the declared schema also makes column pruning and predicate pushdown
  effective from the first scan.
- Permissive parse with the corrupt rows SPLIT OFF, not dropped: at scale
  you quarantine and count bad records (same contract as the transactions
  CSV source — sources/transactions.py).
- Writers default to snappy parquet (splittable, columnar); JSONL is for
  interchange with tokenizer/annotation tools, not for analytical scans.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from .local import local_frame

DOCUMENTS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
        StructField("source", StringType(), True),
        StructField("n_chars", LongType(), True),
    ]
)


@dataclass(frozen=True)
class DocumentScan:
    """Valid rows + quarantined corrupt rows from one pass."""

    docs: DataFrame
    rejects: DataFrame


def read_documents(
    spark: SparkSession, path: str, fmt: str = "parquet"
) -> DocumentScan:
    """Read a documents table in any supported container format.

    Parquet/ORC are schema-carrying (no corrupt-record concept — the reader
    validates against the declared schema); JSONL/CSV parse permissively
    with malformed rows quarantined into ``rejects``.

    ``rejects`` has the SAME single-column ``raw_record string`` schema for
    every format (empty for schema-carrying ones), so format-generic
    callers can union/inspect rejects without branching.

    CSV caveat (Spark PERMISSIVE semantics): a short row is null-filled
    WITHOUT setting the corrupt-record column, so truncated records land in
    ``docs`` with trailing NULLs rather than in ``rejects`` — only rows
    that fail to parse at all (e.g. type mismatches, malformed quoting)
    are quarantined.  Filter ``docs`` on required-column nullness if
    truncation must also be rejected."""
    if fmt in ("parquet", "orc"):
        df = spark.read.format(fmt).schema(DOCUMENTS_SCHEMA).load(path)
        empty_rejects = local_frame(spark, [], "raw_record string")
        return DocumentScan(docs=df, rejects=empty_rejects)
    if fmt not in ("jsonl", "csv"):
        raise ValueError(f"unsupported format: {fmt}")

    schema = StructType(
        DOCUMENTS_SCHEMA.fields
        + [StructField("_corrupt", StringType(), True)]
    )
    reader = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
    )
    if fmt == "jsonl":
        raw = reader.json(path)
    else:
        raw = reader.option("header", True).csv(path)
    # cache the single parse pass; valid/reject are two filters over it
    raw = raw.cache()
    good = raw.filter(F.col("_corrupt").isNull()).drop("_corrupt")
    bad = raw.filter(F.col("_corrupt").isNotNull()).select(
        F.col("_corrupt").alias("raw_record")
    )
    return DocumentScan(docs=good, rejects=bad)


def write_documents(
    docs: DataFrame, path: str, fmt: str = "parquet", mode: str = "overwrite"
) -> None:
    """Write the documents table; parquet/orc compress columnar (snappy),
    jsonl/csv are line-interchange formats."""
    writer = docs.write.mode(mode)
    if fmt == "jsonl":
        writer.json(path)
    elif fmt in ("parquet", "orc", "csv"):
        if fmt == "csv":
            writer = writer.option("header", True)
        writer.format(fmt).save(path)
    else:
        raise ValueError(f"unsupported format: {fmt}")
