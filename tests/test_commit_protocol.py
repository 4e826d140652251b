"""Failures of the shared commit protocol are loud, for both of its
writers: x09's extraction run (300 fixture pages) and p06's shard writer
(the sf0.001 packed frame). An unreadable marker file raises instead of
passing for a first run; a marker directory that holds only the
``_temporary/`` of a killed first append resumes as a first run; a run id
keeps its string type when the marker table is read back."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from ocr_spark.fixtures import pages_df
from ocr_spark.operators.lineage import read_metrics, run_extraction
from ocr_spark.operators.partitioning import with_size_buckets
from ocr_spark.operators.shards import read_manifest, shard_assign, write_shards

N_DOCS = 300
K = 3


def _x09(spark, sf_dir):
    pages = pages_df(spark, N_DOCS).persist()
    n_units = (
        with_size_buckets(pages.select("url", "html", "text"))
        .select("bucket")
        .distinct()
        .count()
    )

    def run(out, run_id, kill=None):
        return run_extraction(spark, pages, out, run_id, max_buckets=kill)[
            "buckets_processed"
        ]

    return pages, run, read_metrics, "metrics", n_units


def _p06(spark, sf_dir):
    from ocr_spark.operators.bpe import bpe_token_arrays_production
    from ocr_spark.operators.chunking import CHUNK_TOKENS, chunk_token_arrays, pack_chunks
    from ocr_spark.sources.io import load_table

    toks = bpe_token_arrays_production(load_table(spark, sf_dir, "documents"))
    chunks = chunk_token_arrays(toks, window=CHUNK_TOKENS, stride=CHUNK_TOKENS)
    packed = pack_chunks(chunks.select("doc_id", "chunk_idx", "n_chunk_tokens")).persist()
    n_units = shard_assign(packed).select("pack_group", "shard_idx").distinct().count()

    def run(out, run_id, kill=None):
        return write_shards(spark, packed, out, run_id, max_shards=kill)["shards_processed"]

    return packed, run, read_manifest, "manifest", n_units


@pytest.fixture(scope="module", params=["x09", "p06"])
def writer(request, spark, sf_dir):
    source, *rest = {"x09": _x09, "p06": _p06}[request.param](spark, sf_dir)
    yield rest
    source.unpersist()


def test_unreadable_marker_raises(writer, tmp_path):
    run, _, markers, _ = writer
    out = str(tmp_path)
    assert run(out, "r1", kill=K) == K
    victim = sorted(glob.glob(os.path.join(out, markers, "**", "*.parquet"), recursive=True))[0]
    crc = os.path.join(os.path.dirname(victim), f".{os.path.basename(victim)}.crc")
    if os.path.exists(crc):
        os.remove(crc)  # garbage bytes, not a checksum mismatch, must be what fails
    with open(victim, "wb") as f:
        f.write(b"garbage bytes, not a parquet file")
    with pytest.raises(Exception, match="FAILED_READ_FILE"):
        run(out, "r1")


def test_temporary_only_marker_dir_is_a_first_run(writer, tmp_path):
    run, _, markers, n_units = writer
    out = str(tmp_path)
    os.makedirs(os.path.join(out, markers, "_temporary", "0"))
    assert run(out, "r1") == n_units
    assert run(out, "r1") == 0


def test_run_id_reads_back_as_string(spark, writer, tmp_path):
    run, read, _, n_units = writer
    out = str(tmp_path)
    assert run(out, "001") == n_units
    m = read(spark, out)
    assert [r.run_id for r in m.select("run_id").distinct().collect()] == ["001"]
    assert m.filter(F.col("run_id") == "001").count() == n_units
