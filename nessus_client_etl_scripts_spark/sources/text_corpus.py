"""JSONL corpus source/sink — the interchange format of LLM training
pipelines (one JSON document per line).

The reference's lake is JSON documents on S3 (`/root/reference/
export.py:89-108` writes one JSON object per key); this module is the
corpus-scale generalization: line-delimited JSON that Spark reads
SPLITTABLE — each executor task parses its own byte range of plain
.jsonl files, so a 100 TB drop parallelizes at
``spark.sql.files.maxPartitionBytes`` granularity without any
pre-splitting step (gzip members are the non-splittable exception —
compressed corpora should land as many files).

Schema policy: ALWAYS read with an explicit schema. Schema inference
scans the data twice and types drift per drop (an all-null column
infers string); a declared StructType makes the read single-pass and
pins the contract — same rule as the warehouse schemas in
``nessus_schemas.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# The documents-table contract (TESTDATA.md): the JSONL twin of the
# parquet corpus tables this engine's dedup/text operators consume.
DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def write_jsonl(df: DataFrame, path: str) -> None:
    """Land a corpus as uncompressed line-delimited JSON (splittable on
    re-read)."""
    df.write.mode("overwrite").json(path)


def read_jsonl(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """Schema'd JSONL read. ``FAILFAST`` surfaces malformed lines as
    errors (the correctness posture for declared queries)."""
    return spark.read.schema(schema).option("mode", "FAILFAST").json(path)
