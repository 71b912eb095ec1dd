"""Sources & sinks (SURVEY.md §2.1) — Spark-first replacements for the
reference's DataStore / DataSource plumbing.

| ref | here |
|---|---|
| S1-S3 Postgres paged scans (repo/catalog/catalog.go:29-94) | ``jdbc_table`` — partitioned JDBC read (no OFFSET/LIMIT paging; Spark partitions on a numeric column) |
| S4/S5 S3/file object store (repo/s3/store.go, repo/file/store.go) | path-based Parquet; S3A handles transport transparently |
| S8 sketch blob sink/source (bloomfilter/component.go:97-138) | ``save_sketch_table`` / ``load_sketch_table`` — Parquet table of versioned BINARY payloads (portable, unlike gob) |
| S9 search-request file source (testdata/common.go:19-40) | ``read_query_log`` |
| S10 corrections sink (examples/speller/main.go:117-140) | ``write_corrections`` — append-mode Parquet (tx batching becomes atomic file commits) |
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def jdbc_table(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str,
    lower_bound: int,
    upper_bound: int,
    num_partitions: int = 32,
    **options: str,
) -> DataFrame:
    """Partitioned JDBC scan — the scale-correct form of the reference's
    ORDER BY id OFFSET/LIMIT paging loop (catalog.go:79-94): Spark issues
    num_partitions range-predicated queries in parallel instead of N serial
    pages (OFFSET is O(n^2) server work at depth)."""
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("partitionColumn", partition_column)
        .option("lowerBound", str(lower_bound))
        .option("upperBound", str(upper_bound))
        .option("numPartitions", str(num_partitions))
    )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


def jdbc_partition_predicates(
    partition_column: str,
    lower_bound: int,
    upper_bound: int,
    num_partitions: int,
) -> list[str | None]:
    """The WHERE predicates Spark's JDBCRelation.columnPartition generates
    for a partitioned scan — mirrored in Python so the paging arithmetic is
    testable without a database (the sandbox has none; the reference covers
    its OFFSET/LIMIT boundary arithmetic with testcontainers Postgres,
    index/builder.go:110-156 + repo/catalog/catalog_test.go:12-40).

    Faithful to the Spark algorithm: integer stride
    ``upper/n - lower/n`` with Scala/Java **Long division** (truncation
    toward zero, exact integer arithmetic — NOT float floor division,
    which diverges from Spark for negative non-divisible bounds and
    loses precision past 2**53), first partition unbounded
    below and last unbounded above — so the union is COMPLETE over the
    column's whole domain (rows outside [lower, upper) still land in the
    edge partitions, a Spark semantic the OFFSET/LIMIT loop lacks), and
    consecutive ``>= v AND < v+stride`` ranges never overlap.  A ``None``
    entry means "no predicate" (single-partition case).
    """
    if num_partitions <= 1 or upper_bound == lower_bound:
        return [None]
    # Spark clamps the partition count when the range is narrower than the
    # requested parallelism (JDBCRelation.scala): at most one value/partition
    n = min(num_partitions, max(upper_bound - lower_bound, 1))

    def trunc_div(a: int, d: int) -> int:  # Scala Long `/`: truncate toward 0
        q = abs(a) // d
        return q if a >= 0 else -q

    stride = trunc_div(upper_bound, n) - trunc_div(lower_bound, n)
    out: list[str | None] = []
    current = lower_bound
    for i in range(n):
        lo = f"{partition_column} >= {current}" if i != 0 else None
        current += stride
        hi = f"{partition_column} < {current}" if i != n - 1 else None
        if lo and hi:
            out.append(f"{lo} AND {hi}")
        else:
            out.append(hi or lo)
    return out


def hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) of ``path`` through the Hadoop FileSystem API, for
    any supported scheme (file://, hdfs://, s3a://…): durable state checks
    must not assume a local filesystem, and an existence check made here
    (unlike catching a read exception) cannot mistake a transient IO
    failure for a fresh start."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def save_sketch_table(sketches: DataFrame, path: str) -> None:
    """S8 sink: persist (group..., kind?, sketch BINARY, rows, items).

    Parquet keeps the payload bytes verbatim; the payload itself carries the
    versioned header (sketches/serde.py), so readers validate compatibility
    at deserialize time — the gob-free replacement for bloom.dat."""
    sketches.write.mode("overwrite").parquet(path)


def load_sketch_table(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def read_query_log(spark: SparkSession, path: str, query_col: str = "query") -> DataFrame:
    """S9: newline-delimited raw query log → [query], blank lines dropped."""
    return (
        spark.read.text(path)
        .select(F.col("value").alias(query_col))
        .filter(F.trim(F.col(query_col)) != "")
    )


def write_corrections(corrections: DataFrame, path: str) -> None:
    """S10: append corrected queries — each micro-batch lands atomically."""
    corrections.write.mode("append").parquet(path)
