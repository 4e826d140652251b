"""Extraction-pipeline + multimodal catalog entries.

Round 1 registered these rows-only; they are now ORACLE-GATED: the
fixture corpus carries independently-generated golden outputs
(FIXTURES.md — golden text assembled from the generator's source blocks,
never from the pipeline), so each entry's DuckDB oracle is a literal
VALUES table derived from the goldens at registration time. The driver's
differential gate then checks the distributed pipeline's bytes, counts,
digests, frame samples and audio windows against golden truth — a
stronger check than the prior rows-only smoke, and independent in the
way that matters (generator-side truth vs pipeline-side computation).

The fixture corpus is generated deterministically in-memory (seeded) —
results are stable across runs and engines.
"""

from __future__ import annotations

import hashlib
import math
from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_spark.extract.pipeline import extract_pages
from ocr_spark.operators.partitioning import skew_report
from ocr_spark.plans import register

_N_DOCS = 200


def _fixture_pages(spark: SparkSession) -> DataFrame:
    from ocr_spark.fixtures import pages_df

    return pages_df(spark, _N_DOCS)


@lru_cache(maxsize=1)
def _corpus():
    from ocr_spark.fixtures import gen_corpus

    return gen_corpus(_N_DOCS)


def _sq(v: str) -> str:
    return "'" + v.replace("'", "''") + "'"


def _values_sql(rows: list[tuple], cols: str) -> str:
    vals = ",\n      ".join("(" + ", ".join(r) + ")" for r in rows)
    return f"SELECT * FROM (VALUES\n      {vals}\n    ) AS t({cols})"


def _x01_oracle() -> str:
    rows = []
    for r in _corpus().itertuples():
        g: bytes = r.golden_text
        digest = hashlib.md5(g.hex().upper().encode()).hexdigest()
        rows.append(
            (
                _sq(r.url),
                _sq(r.golden_branch),
                str(r.golden_n_blocks),
                str(len(g)),
                _sq(digest),
            )
        )
    return _values_sql(rows, "url, branch, n_blocks_kept, n_bytes, digest")


def _x02_oracle() -> str:
    counts: dict[str, int] = {}
    for r in _corpus().itertuples():
        counts[r.golden_branch] = counts.get(r.golden_branch, 0) + 1
    rows = [
        (_sq(b), str(n), "CAST(1.0 AS DOUBLE)", "CAST(1.0 AS DOUBLE)")
        for b, n in sorted(counts.items())
    ]
    return _values_sql(
        rows, "branch, n_docs, byte_match_rate, block_count_match_rate"
    )


def _x03_oracle() -> str:
    # fixture sizes contain no exact powers of two (checked), so Python's
    # ceil(log2) agrees with the JVM's fp computation
    hist: dict[int, list[int]] = {}
    for r in _corpus().itertuples():
        n = 0 if r.html is None else len(r.html)
        log2 = math.ceil(math.log2(max(n, 1)))
        hist.setdefault(log2, []).append(n)
    rows = [
        (str(k), str(len(v)), str(sum(v)), str(max(v)))
        for k, v in sorted(hist.items())
    ]
    return _values_sql(rows, "log2_bytes, n_docs, total_bytes, max_bytes")


def _payload_rows():
    return [
        (r.url, bytes(r.html)) for r in _corpus().itertuples() if r.html is not None
    ]


def _x04_oracle() -> str:
    from ocr_spark.operators.multimodal import FEATURE_DIM, decode_image  # noqa: F401

    rows = []
    for url, raw in _payload_rows():
        w, h, c, _seed = decode_image(raw, fake=True)
        rows.append(
            (_sq(url), str(len(raw)), str(w), str(h), str(c), "CAST(NULL AS VARCHAR)")
        )
    return _values_sql(rows, "url, n_bytes, width, height, n_channels, error")


def _x05_oracle() -> str:
    rows = []
    for url, raw in _payload_rows():
        n = min(5, 1 + len(raw) // 4096)
        for k in range(n):
            digest = hashlib.sha256(raw[k::n][:1024]).hexdigest()[:16]
            rows.append((_sq(url), str(k), str(k * 1000), _sq(digest)))
    return _values_sql(rows, "url, frame_idx, frame_ts_ms, frame_digest")


def _x06_oracle() -> str:
    import numpy as np

    from ocr_spark.operators.multimodal import AUDIO_SR, AUDIO_WIN, decode_audio

    rows = []
    for url, raw in _payload_rows():
        pcm = decode_audio(raw, fake=True)
        n_win = len(pcm) // AUDIO_WIN
        if n_win == 0:
            rows.append(
                (_sq(url), "-1", "0", "CAST(0.0 AS DOUBLE)", "CAST(0.0 AS DOUBLE)",
                 _sq("ValueError: payload shorter than one window"))
            )
            continue
        w = pcm[: n_win * AUDIO_WIN].reshape(n_win, AUDIO_WIN)
        rms = np.sqrt((w * w).mean(axis=1))
        peak = np.abs(w).max(axis=1)
        for i in range(n_win):
            rows.append(
                (
                    _sq(url),
                    str(i),
                    str(int(i * AUDIO_WIN * 1000 / AUDIO_SR)),
                    f"CAST({round(float(rms[i]), 8)!r} AS DOUBLE)",
                    f"CAST({round(float(peak[i]), 8)!r} AS DOUBLE)",
                    "CAST(NULL AS VARCHAR)",
                )
            )
    return _values_sql(rows, "url, win_idx, start_ms, rms, peak, error")


def _s05_oracle() -> str:
    rows = []
    for r in _corpus().itertuples():
        g: bytes = r.golden_text
        rows.append(
            (_sq(r.url), _sq(r.golden_branch), str(r.golden_n_blocks), str(len(g)))
        )
    return _values_sql(rows, "url, branch, n_blocks_kept, n_bytes")


@register("x01_extract_pipeline", oracle=_x01_oracle())
def x01_extract_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full pipeline over the fixture corpus; deterministic digest rows."""
    out = extract_pages(_fixture_pages(spark))
    return out.select(
        "url",
        "branch",
        "n_blocks_kept",
        F.octet_length("extracted_text").alias("n_bytes"),
        F.md5(F.hex("extracted_text")).alias("digest"),
    ).orderBy("url")


@register("x02_golden_match", oracle=_x02_oracle())
def x02_golden_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-branch golden byte-identity rate (must be 1.0 everywhere)."""
    from ocr_spark.fixtures import golden_df

    out = extract_pages(_fixture_pages(spark))
    g = golden_df(spark, _N_DOCS)
    # golden set is dimension-sized at any corpus scale -> broadcast,
    # never shuffle the extracted side for the verification join
    joined = out.join(F.broadcast(g), "url")
    return (
        joined.groupBy(F.col("golden_branch").alias("branch"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(
                F.avg((F.col("extracted_text") == F.col("golden_text")).cast("double")), 6
            ).alias("byte_match_rate"),
            F.round(
                F.avg((F.col("n_blocks_kept") == F.col("golden_n_blocks")).cast("double")), 6
            ).alias("block_count_match_rate"),
        )
        .orderBy("branch")
    )


@register("x03_skew_report", oracle=_x03_oracle())
def x03_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size-class histogram of the fixture corpus (partitioning diagnostic)."""
    return skew_report(_fixture_pages(spark))


@register("x04_multimodal_features", oracle=_x04_oracle())
def x04_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary feature extraction plumbing (stubbed decode) over the
    fixture payloads; deterministic rows-only check."""
    from ocr_spark.operators.multimodal import image_features

    pages = _fixture_pages(spark).filter(F.col("html").isNotNull())
    feats = image_features(pages.select("url", F.col("html").alias("payload")))
    return feats.select(
        "url", "n_bytes", "width", "height", "n_channels", "error"
    ).orderBy("url")


@register("x05_frame_sample", oracle=_x05_oracle())
def x05_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-to-many frame expansion plumbing (video sampling shape)."""
    from ocr_spark.operators.multimodal import sample_frames

    pages = _fixture_pages(spark).filter(F.col("html").isNotNull())
    return sample_frames(pages.select("url", F.col("html").alias("payload"))).orderBy(
        "url", "frame_idx"
    )


@register("x06_audio_windows", oracle=_x06_oracle())
def x06_audio_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-modality windowing plumbing (stubbed decode) over fixture
    payloads; deterministic rows-only check."""
    from ocr_spark.operators.multimodal import audio_windows

    pages = _fixture_pages(spark).filter(F.col("html").isNotNull())
    return audio_windows(pages.select("url", F.col("html").alias("payload"))).orderBy(
        "url", "win_idx"
    )


def _x08_oracle() -> str:
    from ocr_spark.fixtures import warc_golden

    # every generated record is WARC-Type: response (the embedded fake
    # type lives inside a payload and must never be parsed)
    rows = [
        (str(seg), str(idx), _sq(url), _sq("response"), str(clen), _sq(md5))
        for seg, idx, url, clen, md5 in warc_golden(_N_DOCS)
    ]
    return _values_sql(
        rows, "seg_id, rec_idx, url, warc_type, content_length, payload_md5"
    )


@register("x08_warc_parse", oracle=_x08_oracle())
def x08_warc_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC container -> records: Content-Length-driven walk over opaque
    binary segments (ocr_spark/sources/warc.py). The fixture plants an
    adversarial record whose payload embeds the WARC magic; the golden
    VALUES truth is derived from the raw record bytes on the generator
    side, independent of the parser under test."""
    from ocr_spark.fixtures import warc_df
    from ocr_spark.sources.warc import parse_warc

    return parse_warc(warc_df(spark, _N_DOCS)).orderBy("seg_id", "rec_idx")


# --- x09: lineage / idempotent-restart machinery under the driver gate --------


def _x09_oracle() -> str:
    """Generator-side truth for the committed-run report: per-size-class
    document counts (size class = clamped ceil-log2 of html bytes, the
    partitioning module's exact formula with its n_salt=8 default ->
    class = partition_id // 8), plus the resume-no-op flag.  Derived
    purely from the fixture corpus — independent of Spark."""
    from ocr_spark.operators.partitioning import DEFAULT_SALT, MAX_LOG2, MIN_LOG2  # noqa: F401

    hist: dict[int, int] = {}
    for r in _corpus().itertuples():
        n = 0 if r.html is None else len(r.html)
        log2 = math.ceil(math.log2(max(n, 1)))
        cls = min(max(log2, MIN_LOG2), MAX_LOG2) - MIN_LOG2
        hist[cls] = hist.get(cls, 0) + 1
    rows = [(str(k), str(v), "true") for k, v in sorted(hist.items())]
    return _values_sql(rows, "size_class, n_docs, resume_noop")


@register("x09_lineage_metrics", oracle=_x09_oracle())
def x09_lineage_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive the north rule's checkpoint/restart machinery end to end
    under the driver gate: a kill-simulated partial run (first 3
    uncommitted buckets), a resuming run that completes the rest, and a
    third run that must be a NO-OP (0 buckets — every marker already
    committed).  The emitted report rolls committed per-partition
    metrics up to size classes and is gated against the generator-side
    class histogram: every fixture document accounted for exactly once
    across the two writing runs, none recomputed by the third.

    Reference analogue: the finish-latch / resume contract
    (`/root/reference/src/event/hc/hc-event.c:223-259`) — a satisfied
    latch never refires."""
    import shutil
    import tempfile

    from ocr_spark.operators.lineage import read_metrics, run_extraction
    from ocr_spark.operators.partitioning import DEFAULT_SALT

    pages = _fixture_pages(spark).select("url", "html", "text")
    # a fresh directory per call, removed once the report is materialized
    out = tempfile.mkdtemp(prefix="ocr_spark_x09_")
    try:
        run_extraction(spark, pages, out, run_id="gate", max_buckets=3)
        run_extraction(spark, pages, out, run_id="gate")
        third = run_extraction(spark, pages, out, run_id="gate")
        noop = third["buckets_processed"] == 0
        m = read_metrics(spark, out)
        return (
            m.filter(F.col("run_id") == "gate")
            .groupBy(
                (F.col("partition_id") / DEFAULT_SALT).cast("int").alias("size_class")
            )
            .agg(F.sum("input_count").cast("int").alias("n_docs"))
            .select(
                "size_class", "n_docs", F.lit(bool(noop)).alias("resume_noop")
            )
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)
