"""Per-partition lineage + idempotent partition-grain restart.

The Spark re-expression of three reference mechanisms (SURVEY.md §1.3):
  - statistics framework (`/root/reference/src/inc/ocr-statistics.h:27-66`)
    -> per-bucket metrics rows (input count, checksum, wall time);
  - IDEM event "first satisfy wins" (`src/event/hc/hc-event.c:202-208`)
    -> write-once commit markers keyed (run_id, partition_id);
  - finish-latch countdown (`src/event/hc/hc-event.c:223-259`)
    -> run complete ⇔ metrics rows == bucket count.

The commit protocol itself lives in ``operators.commit``; an extraction
run is that protocol with one size bucket per unit and the Arrow
extraction as the per-unit transform.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_spark.extract.pipeline import _extract_batches, EXTRACT_DDL
from ocr_spark.operators.commit import commit_run, read_markers
from ocr_spark.operators.partitioning import size_bucket_repartition

# the marker table (FIXTURES.md §3), partitioned by run_id on disk
METRICS_DDL = (
    "run_id string, partition_id int, input_count long, checksum long, "
    "wall_time_ms long, committed_at timestamp"
)


def read_metrics(spark: SparkSession, out_dir: str) -> DataFrame | None:
    return read_markers(spark, os.path.join(out_dir, "metrics"), METRICS_DDL)


def assert_unique_urls(pages: DataFrame) -> None:
    """Input contract (FIXTURES §4): duplicate urls must fail fast."""
    dup = pages.groupBy("url").count().filter(F.col("count") > 1).first()
    if dup is not None:
        raise ValueError(f"duplicate url in input: {dup['url']!r}")


def _bucket_metrics(written: DataFrame) -> DataFrame:
    return written.groupBy(F.col("bucket").alias("partition_id")).agg(
        F.count(F.lit(1)).alias("input_count"),
        F.expr("bit_xor(xxhash64(url, extracted_text))").alias("checksum"),
        (F.sum("proc_us") / F.lit(1000)).alias("wall_time_ms"),
    )


def run_extraction(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    run_id: str,
    max_buckets: int | None = None,
    n_salt: int | None = None,
) -> dict:
    """Execute (or resume) one extraction run. ``max_buckets`` processes
    only the first K uncommitted buckets — the test hook that simulates a
    kill between partition commits."""
    assert_unique_urls(pages)

    # bucket count = restart granularity AND max parallelism of the run;
    # pass n_salt ~ executor-cores x 4 on a cluster (default 8 keeps small
    # test corpora at a handful of buckets per size class)
    bucketed = size_bucket_repartition(
        pages.select("url", "html", "text"), n_salt=n_salt
    )
    n_buckets, rows = commit_run(
        spark,
        bucketed,
        key="bucket",
        data_dir=os.path.join(out_dir, "extracted"),
        marker_dir=os.path.join(out_dir, "metrics"),
        marker_ddl=METRICS_DDL,
        marker_key="partition_id",
        aggregate=_bucket_metrics,
        run_id=run_id,
        transform=lambda todo: todo.mapInPandas(_extract_batches, schema=EXTRACT_DDL),
        max_units=max_buckets,
    )
    return {"run_id": run_id, "buckets_processed": n_buckets, "rows": rows}


def run_complete(spark: SparkSession, out_dir: str, run_id: str, n_buckets: int) -> bool:
    """Latch semantics: the run is complete when the marker count reaches
    the bucket count."""
    m = read_metrics(spark, out_dir)
    if m is None:
        return False
    return (
        m.filter(F.col("run_id") == run_id).select("partition_id").distinct().count()
        == n_buckets
    )


def size_class_latches(
    spark: SparkSession,
    out_dir: str,
    run_id: str,
    bucketed: DataFrame,
    n_salt: int | None = None,
) -> DataFrame:
    """Nested finish scopes: one latch per size class, rolled up from the
    bucket-grain markers — the reference's finish-EDTs nest, with a
    child scope's completion counting down the parent's latch
    (`/root/reference/src/task/hc/hc-task.c:169-215`); round 1 had only
    the flat run-level latch.

    bucket = size_class * n_salt + salt (operators.partitioning), so the
    class scope is bucket div n_salt. Returns one row per size class
    present in the input: (size_class, n_expected, n_committed,
    complete) — the run-level latch is the conjunction, which
    run_rollup_complete() evaluates in the same single plan.

    Operationally this is the restart planner's unit of progress: a
    resume can report/schedule per size class (big-page classes finish
    last), and a monitoring layer alerts on a class that stalls while
    others drain.
    """
    from ocr_spark.operators.partitioning import DEFAULT_SALT

    n_salt = n_salt or DEFAULT_SALT
    expected = (
        bucketed.select("bucket")
        .distinct()
        .select(
            (F.col("bucket") / n_salt).cast("int").alias("size_class"), "bucket"
        )
        .groupBy("size_class")
        .agg(F.count(F.lit(1)).alias("n_expected"))
    )
    m = read_metrics(spark, out_dir)
    if m is None:
        committed = spark.createDataFrame([], "size_class int, n_committed long")
    else:
        committed = (
            m.filter(F.col("run_id") == run_id)
            .select("partition_id")
            .distinct()
            .select((F.col("partition_id") / n_salt).cast("int").alias("size_class"))
            .groupBy("size_class")
            .agg(F.count(F.lit(1)).alias("n_committed"))
        )
    return (
        expected.join(committed, "size_class", "left")
        .select(
            "size_class",
            "n_expected",
            F.coalesce("n_committed", F.lit(0)).alias("n_committed"),
            (F.coalesce("n_committed", F.lit(0)) == F.col("n_expected")).alias(
                "complete"
            ),
        )
        .orderBy("size_class")
    )


def run_rollup_complete(
    spark: SparkSession,
    out_dir: str,
    run_id: str,
    bucketed: DataFrame,
    n_salt: int | None = None,
) -> bool:
    """Run-level finish = every size-class latch closed (one plan)."""
    latches = size_class_latches(spark, out_dir, run_id, bucketed, n_salt)
    return latches.agg(F.min(F.col("complete").cast("int"))).first()[0] == 1
