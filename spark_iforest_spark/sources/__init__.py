"""Source/sink helpers (SURVEY.md §2.2 S1-S5 parity + testdata plumbing).

S1 CSV scan, S2/S3 model parquet sink/scan and S4 JSON metadata (the
iforest model writer and reader), S5 in-memory. Plus the synthetic-table
reader that hides the TIMESTAMP(NANOS) quirk of the driver-generated
parquet.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one synthetic table. The driver's parquet stores
    TIMESTAMP(NANOS), which Spark only reads as bigint nanos under the
    legacy flag; operators detect the representation (operators.relational
    _is_nanos) and stay exact."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def read_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: read_table(spark, sf_dir, t) for t in TABLES}


def read_csv_inferred(spark: SparkSession, path: str) -> DataFrame:
    """S1 parity: the reference example's CSV scan with schema inference
    (IForestExample.scala:27-28)."""
    return spark.read.option("inferSchema", "true").option("header", "false").csv(path)


def read_binary_files(spark: SparkSession, path_glob: str) -> DataFrame:
    """Multimodal ingestion: one row per file with (path, modificationTime,
    length, content binary) — feed to operators.multimodal.extract_features."""
    return spark.read.format("binaryFile").load(path_glob)


def write_partitioned(df: DataFrame, path: str, partition_by: list[str], mode: str = "overwrite") -> None:
    """Hive-style partitioned parquet sink. At 100 TB, partitioning by the
    dominant filter key (date, cell, language, ...) is what turns full scans
    into partition-pruned reads — verify with plans.assert_pushed_filter /
    PartitionFilters in explain()."""
    df.write.mode(mode).partitionBy(*partition_by).parquet(path)


def write_bucketed(
    df: DataFrame, table: str, bucket_by: list[str], num_buckets: int, mode: str = "overwrite"
) -> None:
    """Bucketed managed-table sink: co-locates join keys so repeated joins
    on ``bucket_by`` skip their shuffle entirely (SortMergeJoin with no
    Exchange). Requires a metastore-backed saveAsTable."""
    (
        df.write.mode(mode)
        .bucketBy(num_buckets, *bucket_by)
        .sortBy(*bucket_by)
        .format("parquet")
        .saveAsTable(table)
    )


def read_jsonl(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """JSONL corpus reader — the lingua franca of LLM training data (one
    JSON document per line, typically *.jsonl or *.jsonl.gz; Spark's text
    codecs decompress transparently). Pass an explicit ``schema`` in
    production: schema inference reads the data TWICE and widens types on
    dirty corpora; a declared schema keeps the scan single-pass and lets
    column pruning reach the parser (Jackson parses only requested
    fields)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite", compression: str | None = None) -> None:
    """JSONL sink (optionally gzip/zstd-compressed) — the interchange
    format for handing a curated corpus to a tokenizer pipeline. Prefer
    zstd on real exports: gzip is not splittable, so one giant .gz file
    serializes the downstream read; many moderate files (repartition
    first) keep both sides parallel."""
    w = df.write.mode(mode)
    if compression:
        w = w.option("compression", compression)
    w.json(path)
