"""CDX index ingest.

The reference reads CDX records as JSONL with all-string values and skips
malformed lines (S1: main_merge_and_deduplicate.py:55-64 and 3 more sites).
Spark's PERMISSIVE JSON mode + an explicit schema reproduces that: bad
lines null out instead of raising, numerics are cast on ingest
(int(record["offset"]) / int(record["length"]) at
download_warc_segments.py:53-54).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

CDX_RAW_SCHEMA = T.StructType(
    [
        T.StructField("urlkey", T.StringType()),
        T.StructField("timestamp", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("mime", T.StringType()),
        T.StructField("mime-detected", T.StringType()),
        T.StructField("status", T.StringType()),
        T.StructField("digest", T.StringType()),
        T.StructField("length", T.StringType()),
        T.StructField("offset", T.StringType()),
        T.StructField("filename", T.StringType()),
    ]
)


def read_cdx_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """S1/S3: multi-file JSONL scan, malformed lines dropped, numerics cast.
    ``mime-detected`` is normalized to ``mime_detected`` (Spark column names
    can't carry '-' through every API)."""
    df = (
        spark.read.schema(CDX_RAW_SCHEMA)
        .option("mode", "PERMISSIVE")
        .json(path)
        .withColumnRenamed("mime-detected", "mime_detected")
    )
    return df.withColumn("length_num", F.col("length").try_cast("long")).withColumn(
        "offset_num", F.col("offset").try_cast("long")
    )
