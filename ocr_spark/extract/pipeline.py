"""End-to-end extraction plan assembly.

Plan shape (one wide exchange total, per SURVEY.md §4.3):

  scan pages (column-pruned: url, html, text, lang [, bucket])
    -> salted size-bucket repartition           (the one shuffle)
    -> mapInArrow EXTRACT                       (Arrow-batched Python)
    -> sink / golden-diff

The EXTRACT stage is the EDT of the system (reference task execute:
`/root/reference/src/task/hc/hc-task.c:337-419` — acquire input buffers,
run user function, emit output): one Arrow batch in, one batch of
(url, extracted_text, ...) out. Per-document routing happens inside the
batch loop:

  html NULL + text present -> text branch (blank-line blocks)
  %SPDF magic              -> pdf branch (CC + baseline clustering)
  otherwise                -> html branch (DOM blocks + boilerplate)

Any per-document exception becomes a row-level error (never a task
failure) — FIXTURES §4.
"""

from __future__ import annotations

import functools
import time
from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType

from ocr_spark.extract import boilerplate, dom, normalize, pdfbranch
from ocr_spark.operators.partitioning import size_bucket_repartition

EXTRACT_DDL = (
    "url string, extracted_text binary, n_blocks_kept int, "
    "branch string, error string, bucket int, proc_us long"
)


def extract_one(html, text) -> tuple[bytes, int, str]:
    """One document -> (bytes, n_blocks_kept, branch). Pure, reusable by
    tests and by an independent single-process reference run."""
    if html is None:
        if text:
            blocks = [b for b in text.split("\n\n") if b.strip()]
            return normalize.assemble(blocks), len(blocks), "text"
        return b"", 0, "empty"
    raw = bytes(html)
    if raw.startswith(pdfbranch.MAGIC):
        lines = pdfbranch.decode_spdf(raw)
        return normalize.assemble(lines), len(lines), "pdf"
    blocks = dom.parse_blocks_fast(raw)
    kept = boilerplate.kept_texts(blocks)
    return normalize.assemble(kept), len(kept), "html"


def _extract_batches(
    batches: Iterator[pa.RecordBatch], schema: pa.Schema
) -> Iterator[pa.RecordBatch]:
    for batch in batches:
        n = batch.num_rows
        extracted: list[bytes | None] = [None] * n
        n_kept = [0] * n
        branches = ["empty"] * n
        errors: list[str | None] = [None] * n
        proc_us = [0] * n
        htmls = batch.column("html").to_pylist()
        texts = batch.column("text").to_pylist()
        for j in range(n):
            t0 = time.perf_counter_ns()
            try:
                extracted[j], n_kept[j], branches[j] = extract_one(htmls[j], texts[j])
            except Exception as e:  # noqa: BLE001 — row error, never task failure
                branches[j] = "error"
                errors[j] = f"{type(e).__name__}: {e}"[:500]
            proc_us[j] = (time.perf_counter_ns() - t0) // 1000
        yield pa.RecordBatch.from_pydict(
            {
                "url": batch.column("url"),
                "extracted_text": extracted,
                "n_blocks_kept": n_kept,
                "branch": branches,
                "error": errors,
                "bucket": batch.column("bucket"),
                "proc_us": proc_us,
            },
            schema=schema,
        )


def extract_stage(bucketed: DataFrame) -> DataFrame:
    """The EXTRACT stage: (url, html, text, bucket) rows -> EXTRACT_DDL rows.

    The one Python crossing of every extraction path (batch, restartable
    run, stream): Arrow batches in and out, no pandas round trip."""
    schema = to_arrow_schema(DataType.fromDDL(EXTRACT_DDL))
    return bucketed.mapInArrow(
        functools.partial(_extract_batches, schema=schema), schema=EXTRACT_DDL
    )


def extract_pages(pages: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """pages (url, html, text[, lang]) -> extracted rows.

    Column pruning is explicit: only url/html/text (+bucket) cross into
    Python — warc_ts/lang never pay the Arrow transfer.
    """
    if num_partitions is None:
        # One task per core. Every Python task pays a fixed setup cost
        # before its first document: pyspark calls
        # importlib.invalidate_caches() per task, which re-reads the zip
        # directory of each archive on the worker's sys.path. Measured on
        # a 4-vCPU VM at local[4]: 0.2-0.34 s per task; a no-work
        # mapInArrow pass over 12 partitions took 0.8-1.4 s against
        # 0.2-0.25 s for its JVM-only twin. size_bucket_repartition
        # balances rows, so one wave of tasks has no skewed tail to hide.
        # The width is pinned because a width-free repartition is
        # AQE-coalescible by bytes, which under-splits this CPU-bound
        # stage.
        num_partitions = pages.sparkSession.sparkContext.defaultParallelism
    bucketed = size_bucket_repartition(
        pages.select("url", "html", "text"), num_partitions=num_partitions
    )
    return extract_stage(bucketed)
