"""The write-data-then-marker commit protocol, shared by the extraction
run (x09, ``operators.lineage``: one unit = one size bucket) and the
training-shard writer (p06, ``operators.shards``: one unit = one shard).

Reference analogue (SURVEY.md §1.3): an IDEM event is write-once and is
sealed only after its data (`src/event/hc/hc-event.c:155-172, 202-208`),
and a finish latch counts the seals (`hc-event.c:223-259`). Here a
unit's data is written first and its marker row second; a run is
complete when every unit has a marker. One call runs six steps in order:

  1. committed = the marker keys of ``run_id``;
  2. todo      = assigned keys left_anti committed (the restart);
  3. the first-K cut of todo (the ``max_buckets`` / ``max_shards`` kill
     hooks);
  4. the todo units' data, written with a dynamic partition overwrite
     partitioned by the key (re-running an uncommitted unit replaces its
     partial output, so every kill point is idempotent);
  5. marker rows aggregated from the data read BACK from disk (markers
     attest bytes on disk, not bytes in memory), minus any marker that
     already exists (IDEM: never a second marker for a unit);
  6. the markers appended, partitioned by ``run_id``.

A killed run therefore resumes by recomputing exactly the uncommitted
units (FIXTURES.md §3 restart test). The todo keys stay a DataFrame,
checkpointed once so that the write and the read-back see the same set;
only counts reach the driver.

Marker tables are read with their explicit DDL. A missing directory is
the only first-run signal and an unreadable marker file raises. A
directory holding only the ``_temporary/`` of a killed first append
reads as empty (without the schema Spark cannot infer one and refuses
it). One run is read by filtering on the ``run_id`` partition column,
never through a hand-built ``run_id=`` path: Spark escapes partition
values in paths.
"""

from __future__ import annotations

from typing import Callable

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _columns(ddl: str) -> list[tuple[str, str]]:
    """(name, type) pairs of a flat DDL string such as ``"a int, b long"``."""
    return [tuple(col.split()) for col in ddl.split(",")]


def read_markers(spark: SparkSession, marker_dir: str, ddl: str) -> DataFrame | None:
    """The marker table in ``ddl`` column order; None before its first
    append."""
    try:
        markers = spark.read.schema(ddl).parquet(marker_dir)
    except AnalysisException as exc:
        if exc.getCondition() == "PATH_NOT_FOUND":
            return None
        raise
    return markers.select(*(name for name, _ in _columns(ddl)))


def _run_keys(
    spark: SparkSession, marker_dir: str, ddl: str, marker_key: str, run_id: str
) -> DataFrame | None:
    markers = read_markers(spark, marker_dir, ddl)
    if markers is None:
        return None
    return markers.filter(F.col("run_id") == run_id).select(marker_key)


def commit_run(
    spark: SparkSession,
    assigned: DataFrame,
    key: str,
    data_dir: str,
    marker_dir: str,
    marker_ddl: str,
    marker_key: str,
    aggregate: Callable[[DataFrame], DataFrame],
    run_id: str,
    transform: Callable[[DataFrame], DataFrame] = lambda df: df,
    max_units: int | None = None,
) -> tuple[int, int]:
    """Execute (or resume) one run over the units of ``assigned``, keyed
    by its ``key`` column.

    ``transform`` maps the todo rows to the data written, one row out per
    row in, keeping ``key``. ``aggregate`` maps the data read back to one
    marker row per unit: ``marker_key`` (the unit's key) and the metric
    columns of ``marker_ddl``; ``run_id`` and ``committed_at`` are added
    and every column is cast to the DDL here. Returns the number of units
    this call wrote and the number of rows in them."""
    keys = assigned.groupBy(key).agg(F.count(F.lit(1)).alias("n_rows"))
    committed = _run_keys(spark, marker_dir, marker_ddl, marker_key, run_id)
    if committed is not None:
        keys = keys.join(
            F.broadcast(committed.select(F.col(marker_key).alias(key))), key, "left_anti"
        )
    if max_units is not None:
        keys = keys.orderBy(key).limit(max_units)
    # the counting job also materializes the checkpoint
    keys = keys.localCheckpoint(eager=False)
    n_units, n_rows = keys.agg(F.count(F.lit(1)), F.sum("n_rows")).first()
    if not n_units:
        return 0, 0
    todo = F.broadcast(keys.select(key))

    # data first: the dynamic overwrite touches only the todo partitions
    data = transform(assigned.join(todo, key, "left_semi"))
    (
        data.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(key)
        .parquet(data_dir)
    )

    # markers second, derived from what is on disk
    written = spark.read.schema(data.schema).parquet(data_dir).join(todo, key, "left_semi")
    markers = aggregate(written).select(
        F.lit(run_id).alias("run_id"), "*", F.current_timestamp().alias("committed_at")
    )
    existing = _run_keys(spark, marker_dir, marker_ddl, marker_key, run_id)
    if existing is not None:
        markers = markers.join(existing, marker_key, "left_anti")
    (
        markers.select(*(F.col(name).cast(t) for name, t in _columns(marker_ddl)))
        .write.mode("append")
        .partitionBy("run_id")
        .parquet(marker_dir)
    )
    return n_units, n_rows
