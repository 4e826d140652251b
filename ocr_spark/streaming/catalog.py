"""Driver-gated catalog entries for the Structured Streaming family.

Round 1 left the five streaming operators (ingest.py) visible only to
pytest; the driver's correctness gate never exercised them. Each entry
here RUNS the real streaming query to completion against the sf_dir
parquet (``processAllAvailable`` on the file-source stream — the same
plan that tails a directory/Kafka topic on a cluster) and returns the
memory-sink table, so the driver compares the *streaming* result against
a batch ANSI-SQL oracle. This matches the reference's bar that every
feature runs under the harness, not only under unit tests
(`/root/reference/tests/ocrTests:193-195`).

s05 (continuous extraction) has no SQL oracle — its gate is the golden
byte-diff digest, registered rows-only like x01.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_spark.plans import register
from ocr_spark.streaming import ingest


def _finish(query) -> None:
    try:
        query.processAllAvailable()
    finally:
        query.stop()


@register(
    "s01_stream_tumbling",
    oracle="""
    SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type, count(*) AS n, round(sum(value), 2) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def s01_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming tumbling-window counts, compared to the q19 batch SQL."""
    _finish(ingest.tumbling_counts(spark, sf_dir, name="s01_out"))
    return spark.table("s01_out")


@register(
    "s02_stream_sessions",
    oracle="""
    SELECT user_id, count(*) AS n_sessions,
           CAST(sum(n_events) AS BIGINT) AS n_events
    FROM (
      SELECT user_id, session_id, count(*) AS n_events
      FROM (
        -- session_window merges an event iff it lands STRICTLY inside
        -- [session_start, last_event + gap): a gap of exactly 1800 s
        -- starts a new session, hence >= (q09's own batch convention
        -- is >, but this oracle must match Spark's session_window)
        SELECT user_id, event_id,
               sum(CASE WHEN gap_s IS NULL OR gap_s >= 1800 THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM (
          SELECT user_id, ts, event_id,
                 date_diff('second',
                           lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                           ts) AS gap_s
          FROM events
        )
      ) GROUP BY user_id, session_id
    ) GROUP BY user_id
    """,
)
def s02_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming session windows (30-min gap), digested per user so the
    lag+cumsum batch sessionization is the exact oracle: session_window
    merges events closer than the gap, which is the same partition of
    each user's timeline the cumulative gap counter produces."""
    _finish(ingest.session_windows(spark, sf_dir, name="s02_out"))
    return (
        spark.table("s02_out")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
        )
    )


@register(
    "s03_stream_dedup",
    oracle="""
    SELECT event_type, count(*) AS n
    FROM (SELECT DISTINCT ON (event_id) event_id, event_type FROM events
          ORDER BY event_id)
    GROUP BY event_type
    """,
)
def s03_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-on-arrival (IDEM semantics): counts per type over distinct
    event_ids. event_id is unique in the testdata, so first-wins equals
    any-wins and the batch DISTINCT ON oracle is exact."""
    _finish(ingest.dedup_on_arrival(spark, sf_dir, name="s03_out"))
    return spark.table("s03_out")


def _stage_single_events_file(spark: SparkSession, sf_dir: str) -> str:
    """Rewrite the sf_dir events table as ONE event-time-sorted parquet
    file in a temp dir and return that dir.

    The file source assigns whole files to micro-batches, so a
    single-file source makes the stateful accumulation micro-batch
    INVARIANT: no session conf (maxFilesPerTrigger, retry behavior,
    file listing order) can split a user's events across triggers.
    Round 3's driver-red s04 row (hash mismatch, unreproduced locally)
    motivated removing arrival order from the semantics entirely —
    the s05 staging pattern. Always overwritten: no staleness."""
    import glob
    import hashlib
    import os
    import shutil
    import tempfile

    # app-id in the key: two concurrent gate sessions on the same sf_dir
    # must not rmtree each other's staged file mid-stream (ADVICE r04)
    key = hashlib.md5(
        f"{sf_dir}|{spark.sparkContext.applicationId}".encode()
    ).hexdigest()[:10]
    staging = os.path.join(tempfile.gettempdir(), f"ocr_spark_s04_{key}")
    tmp = staging + "_tmp"
    (
        spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        .where("ts IS NOT NULL")
        .repartition(1)
        .sortWithinPartitions("ts", "event_id")
        .write.mode("overwrite")
        .parquet(tmp)
    )
    (src,) = glob.glob(os.path.join(tmp, "part-*.parquet"))
    if os.path.isdir(staging):
        shutil.rmtree(staging)
    os.makedirs(staging)
    shutil.move(src, os.path.join(staging, "events_staged.parquet"))
    shutil.rmtree(tmp)
    return staging


@register(
    "s04_stream_milestones",
    oracle=f"""
    WITH c0 AS (
      SELECT user_id, ts, event_id,
             sum(CAST(round(value * 100) AS BIGINT))
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
    ), c AS (
      SELECT user_id, cum,
             lag(cum) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_cum
      FROM c0
    ), crossings AS (
      SELECT user_id, cum,
             CAST(trunc(cum / {ingest.MILESTONE_CENTS}.0) AS INT) AS m_after,
             coalesce(CAST(trunc(prev_cum / {ingest.MILESTONE_CENTS}.0) AS INT), 0) AS m_before
      FROM c
    )
    -- casts are load-bearing: a DuckDB windowed sum(BIGINT) is HUGEINT,
    -- which Arrow renders decimal128 and pandas float64 ("100931.0"),
    -- hash-mismatching Spark's BIGINT even when the sets are identical
    SELECT user_id,
           CAST(unnest(generate_series(m_before + 1, m_after)) AS INT) AS milestone,
           CAST(cum AS BIGINT) AS cum_cents
    FROM crossings WHERE m_after > m_before
    """,
)
def s04_stream_milestones(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom stateful operator (applyInPandasWithState latch
    analogue), gated against a pure-SQL milestone-crossing oracle —
    integer-cents accumulation makes the running totals exact on both
    engines. The source is staged to ONE sorted file so the result is
    micro-batch invariant (round-3 driver red row); null-ts rows are
    excluded on both sides (no event time => no place in the ordered
    accumulation)."""
    staging = _stage_single_events_file(spark, sf_dir)
    q = ingest.value_milestones(
        spark, staging, name="s04_out", max_files_per_trigger=1
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table("s04_out")


def _s05_oracle() -> str:
    from ocr_spark.extract.catalog import _s05_oracle as fx

    return fx()


@register("s05_stream_extract", oracle=_s05_oracle())
def s05_stream_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous extraction: the fixture corpus is staged to a temp
    parquet dir and drained through the streaming pipeline; the oracle is
    the generator-side golden truth (same VALUES table family as x01)."""
    import os
    import tempfile

    from ocr_spark.extract.catalog import _N_DOCS
    from ocr_spark.fixtures import pages_df

    # staging dir is keyed by the fixture doc count (an _N_DOCS change
    # can never serve stale pages whose oracle no longer matches) AND by
    # the application id (two concurrent sessions must not race the
    # initial overwrite write — ADVICE r04's staging-dir finding)
    staging = os.path.join(
        tempfile.gettempdir(),
        f"ocr_spark_s05_pages_{_N_DOCS}_"
        f"{spark.sparkContext.applicationId.replace(':', '_')}",
    )
    marker = os.path.join(staging, "_SUCCESS")
    if not os.path.exists(marker):
        pages_df(spark, _N_DOCS).write.mode("overwrite").parquet(staging)
    _finish(ingest.streaming_extract(spark, staging, name="s05_out"))
    return spark.table("s05_out").orderBy("url")


@register(
    "s06_stream_static_join",
    oracle="""
    SELECT e.event_type, c.c_mktsegment, count(*) AS n
    FROM events e LEFT JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY e.event_type, c.c_mktsegment
    """,
)
def s06_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static broadcast enrich, gated against the batch join."""
    _finish(ingest.stream_static_enrich(spark, sf_dir, name="s06_out"))
    return spark.table("s06_out")


@register(
    "s07_stream_sliding",
    oracle="""
    WITH contrib AS (
      SELECT event_type,
             unnest([time_bucket(INTERVAL '30 minutes', ts),
                     time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes'])
               AS window_start_ts
      FROM events
    )
    SELECT strftime(window_start_ts, '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type, count(*) AS n
    FROM contrib GROUP BY 1, 2
    """,
)
def s07_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1h every 30min): each event contributes to the two
    windows starting at its 30-minute bucket and the one before — the
    batch twin enumerates exactly those starts."""
    _finish(ingest.sliding_counts(spark, sf_dir, name="s07_out"))
    return spark.table("s07_out")


@register(
    "s08_stream_stream_join",
    oracle="""
    SELECT a.event_id AS click_id, b.event_id AS purchase_id,
           a.user_id,
           strftime(a.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
           strftime(b.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts
    FROM events a JOIN events b
      ON b.user_id = a.user_id
     AND a.event_type = 'click' AND b.event_type = 'purchase'
     AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
    """,
)
def s08_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream event-time range join run to completion, gated
    against the batch self-join."""
    _finish(ingest.click_purchase_join(spark, sf_dir, name="s08_out"))
    return spark.table("s08_out")
