"""Pages-table source (SURVEY.md §2.1 S1/S4): fixed explicit schema,
batch + streaming readers.

Schema is the authoritative input shape (BASELINE.json input_hint):
(url string, warc_ts timestamp, html binary, text string, lang string).
Schema drift is a failure, not a coercion (SURVEY.md §1.2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), False),
        StructField("html", BinaryType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
    ]
)


def read_pages_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-replay streaming source (S4).  One file per trigger replays
    the fixture's arrival order as micro-batches; a production deploy
    swaps in Kafka/Kinesis or an Iceberg streaming scan behind the same
    schema."""
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(path)
    )


def pages_from_pandas(spark: SparkSession, pdf) -> DataFrame:
    cols = [f.name for f in PAGES_SCHEMA.fields]
    return spark.createDataFrame(pdf[cols], schema=PAGES_SCHEMA)
