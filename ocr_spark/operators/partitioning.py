"""Salted, size-bucketed repartitioning — the skew defusal the north rule
names (BASELINE.json: "salted, size-bucketed repartitioning on (url hash,
html byte-length)").

Why: one 10 MB page in a batch of 4 KB pages serializes a worker (the
reference's fixed 128-slot deque overflow is the same failure mode,
`/root/reference/src/workpile/hc/deque.c:35-37`). Hash-salting alone
balances row COUNTS; extraction cost scales with BYTES, so rows are
bucketed by log2(byte-length) x salt. An explicit-width exchange hashes
(bucket, url), one key per document, so partitions get even row counts
and each bucket's documents spread across all of them; a width-free
repartition hashes the bucket alone, so a bucket is one restart unit.

At cluster scale the same bucket column doubles as the lineage /
commit-marker partition key (operators.lineage), so restart granularity
and shuffle granularity coincide — exactly the reference's finish-latch
scope = scheduling scope coupling.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_SALT = 8
# log2 size classes: <=4 KiB, ..., >=4 MiB lumped into the top class
MIN_LOG2 = 12
MAX_LOG2 = 22


def size_bucket_col(
    url: Column, payload: Column, n_salt: int = DEFAULT_SALT
) -> Column:
    """bucket = size_class * n_salt + xxhash64(url) % n_salt (non-negative)."""
    nbytes = F.coalesce(F.octet_length(payload), F.lit(0))
    log2 = F.ceil(F.log2(F.greatest(nbytes, F.lit(1))))
    size_class = F.least(
        F.greatest(log2, F.lit(MIN_LOG2)), F.lit(MAX_LOG2)
    ) - F.lit(MIN_LOG2)
    salt = F.pmod(F.xxhash64(url), F.lit(n_salt))
    return (size_class * n_salt + salt).cast("int")


def with_size_buckets(
    df: DataFrame,
    url_col: str = "url",
    payload_col: str = "html",
    n_salt: int = DEFAULT_SALT,
    bucket_col: str = "bucket",
) -> DataFrame:
    return df.withColumn(
        bucket_col, size_bucket_col(F.col(url_col), F.col(payload_col), n_salt)
    )


def size_bucket_repartition(
    df: DataFrame,
    url_col: str = "url",
    payload_col: str = "html",
    n_salt: int | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Add the size-bucket column and shuffle on it.

    With ``num_partitions`` the exchange hashes (bucket, url), which is
    unique per document, so every partition gets an even share of rows.
    Hashing the bucket alone put a few dozen bucket values into too few
    slots: 12 partitions of a 4,000-page corpus left one empty and two
    holding 2,510 of the rows. Without ``num_partitions`` the exchange
    hashes the bucket alone, so each bucket lands whole in one partition
    — the restart unit of ``operators.lineage``.

    n_salt defaults to num_partitions (at least 8): documents cluster
    into a handful of occupied size classes, so distinct bucket values ≈
    (occupied classes) × n_salt, and a bucket-only exchange can use at
    most that many partitions."""
    if n_salt is None:
        n_salt = max(DEFAULT_SALT, num_partitions or 0)
    out = with_size_buckets(df, url_col, payload_col, n_salt)
    if num_partitions:
        return out.repartition(num_partitions, "bucket", url_col)
    return out.repartition("bucket")


def skew_report(df: DataFrame, payload_col: str = "html") -> DataFrame:
    """Byte-volume histogram per size class — the diagnostic for choosing
    n_salt / maxRecordsPerBatch at a new corpus."""
    nbytes = F.coalesce(F.octet_length(payload_col), F.lit(0))
    log2 = F.ceil(F.log2(F.greatest(nbytes, F.lit(1)))).alias("log2_bytes")
    return (
        df.select(log2, nbytes.alias("nbytes"))
        .groupBy("log2_bytes")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nbytes").alias("total_bytes"),
            F.max("nbytes").alias("max_bytes"),
        )
        .orderBy("log2_bytes")
    )
