"""Named queries for the streaming / stateful / multimodal extensions
(SURVEY.md §2.9, build plan §7.2.7) over the events and documents
tables, each with a DuckDB oracle.

``streaming_hourly_rollup`` executes a REAL Structured Streaming query
(readStream → watermark → tumbling window → ``drain``, availableNow)
and still oracle-checks: with the backlog drained in one trigger the
result equals the batch rollup, which IS the SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from myfitnesspaw_spark.operators.multimodal import (
    attach_binary_payload,
    attach_png_payload,
    decode_png_images,
    sample_frames,
)
from myfitnesspaw_spark.sources import load_table, scatter
from myfitnesspaw_spark.streaming import (
    read_events_stream,
    session_window_agg,
    sessionize,
    sessionize_stream,
    stream_upsert_latest,
    streaming_hourly_rollup,
)
from myfitnesspaw_spark.streaming.merge import drain

_CENTS = "CAST(round(value * 100) AS BIGINT)"


def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return sessionize(events, gap_minutes=30)


SESSIONIZE_ORACLE = f"""
WITH e AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
),
flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                   OVER (PARTITION BY user_id ORDER BY ts) > 1800000000
              THEN 1 ELSE 0 END AS is_new
  FROM e
),
sess AS (
  SELECT user_id, ts, value,
         CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) + 1 AS BIGINT) AS session_no
  FROM flagged
)
SELECT user_id, session_no, COUNT(*) AS n_events,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS start_ts,
       strftime(MAX(ts), '%Y-%m-%d %H:%M:%S.%f') AS end_ts,
       CAST(SUM({_CENTS}) AS BIGINT) AS value_cents
FROM sess GROUP BY user_id, session_no
"""


def streaming_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return streaming_hourly_rollup(spark, sf_dir)


STREAMING_ROLLUP_ORACLE = f"""
WITH e AS (
  SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events
)
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM({_CENTS}) AS BIGINT) AS value_cents,
       CAST(SUM({_CENTS}) AS BIGINT) / 100.0 AS value_sum
FROM e GROUP BY 1, 2
"""


def streaming_upsert_latest_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch MERGE (K2 streaming form): keep-latest event per
    user, merged micro-batch by micro-batch; final state must equal
    the batch argmax — which is exactly the oracle."""
    from pyspark.sql import functions as F

    stream = read_events_stream(spark, sf_dir).select(
        "user_id", "ts", "event_type", "value"
    )
    state = stream_upsert_latest(stream, ["user_id"], "ts")
    return state.select(
        "user_id",
        "event_type",
        "value",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_str"),
    )


STREAMING_UPSERT_ORACLE = """
SELECT user_id,
       max_by(event_type, ts) AS event_type,
       max_by(value, ts) AS value,
       strftime(CAST(max(ts) AS TIMESTAMP), '%Y-%m-%d %H:%M:%S.%f') AS ts_str
FROM events
GROUP BY user_id
"""


def session_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return session_window_agg(events, gap_minutes=30)


# session_window merges strictly (< gap); a boundary-exact event opens
# a new session — hence >= in the oracle's flag, vs > in SESSIONIZE's.
SESSION_WINDOW_ORACLE = f"""
WITH e AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
),
flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                   OVER (PARTITION BY user_id ORDER BY ts) >= 1800000000
              THEN 1 ELSE 0 END AS is_new
  FROM e
),
sess AS (
  SELECT user_id, ts, value,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS session_no
  FROM flagged
)
SELECT user_id, COUNT(*) AS n_events,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS start_ts,
       strftime(MAX(ts), '%Y-%m-%d %H:%M:%S.%f') AS end_ts,
       CAST(SUM({_CENTS}) AS BIGINT) AS value_cents
FROM sess GROUP BY user_id, session_no
"""


def sessionize_stateful_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandasWithState sessionization over the events stream —
    closed sessions only (see sessionize_stream docstring).

    The output IS key-determined once the backlog drains: every session
    except each user's final (still-open) one, with the same strict-gap
    split as the batch sessionizer — so the oracle is the batch session
    SQL minus the last session per user (QUALIFY on max session_no).
    """
    stream = read_events_stream(spark, sf_dir)
    return sessionize_stream(stream, gap_minutes=30)


# Closed sessions = all batch sessions except each user's last (the one
# still open in state when availableNow drains).  Same strict-gap (>)
# split as SESSIONIZE_ORACLE; no session_no in the output (the stateful
# operator doesn't number sessions).
SESSIONIZE_CLOSED_ORACLE = f"""
WITH e AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
),
flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                   OVER (PARTITION BY user_id ORDER BY ts) > 1800000000
              THEN 1 ELSE 0 END AS is_new
  FROM e
),
sess AS (
  SELECT user_id, ts, value,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS session_no
  FROM flagged
),
grouped AS (
  SELECT user_id, session_no, COUNT(*) AS n_events,
         strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS start_ts,
         strftime(MAX(ts), '%Y-%m-%d %H:%M:%S.%f') AS end_ts,
         CAST(SUM({_CENTS}) AS BIGINT) AS value_cents
  FROM sess GROUP BY user_id, session_no
)
SELECT user_id, n_events, start_ts, end_ts, value_cents
FROM grouped
QUALIFY session_no < MAX(session_no) OVER (PARTITION BY user_id)
"""


def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    # REAL codec round trip, all executor-side: synthesize a grayscale
    # PNG per document (deflate + cycling scanline filters), then
    # chunk-parse / CRC-check / inflate / un-filter it back and emit
    # decoded dimensions + exact pixel sum.  Pixels and dimensions are
    # arithmetic in (doc_id, text byte length), which is what lets the
    # oracle below recompute the decode output without a PNG library.
    docs = scatter(load_table(spark, sf_dir, "documents"))
    return decode_png_images(attach_png_payload(docs))


# Expected decode output, recomputed arithmetically: w = n%37+8,
# h = n%23+8 over the text byte length n, pixel(i) = (doc_id*31+i*7)
# mod 256 summed over i < w*h (lateral generate_series — this DuckDB
# build has no WITH ORDINALITY).
MULTIMODAL_DECODE_ORACLE = """
WITH dims AS (
  SELECT doc_id,
         octet_length(encode(text)) % 37 + 8 AS w,
         octet_length(encode(text)) % 23 + 8 AS h
  FROM documents
)
SELECT d.doc_id,
       CAST(d.w AS INT) AS width,
       CAST(d.h AS INT) AS height,
       CAST(SUM((d.doc_id * 31 + i.i * 7) % 256) AS BIGINT) AS pixel_sum
FROM dims d,
     LATERAL (SELECT unnest(generate_series(0, d.w * d.h - 1)) AS i) i
GROUP BY d.doc_id, d.w, d.h
"""


def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = scatter(load_table(spark, sf_dir, "documents"))
    return sample_frames(attach_binary_payload(docs))


MULTIMODAL_FRAMES_ORACLE = """
SELECT doc_id, CAST(i AS INT) AS frame_no,
       md5(text || '|' || CAST(i AS VARCHAR)) AS frame_checksum
FROM documents,
     LATERAL (SELECT unnest(generate_series(0, octet_length(encode(text)) % 4)) AS i)
"""


def streaming_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myfitnesspaw_spark.streaming import streaming_sliding_rollup

    return streaming_sliding_rollup(spark, sf_dir)


# Every event falls in exactly the two 2h/1h windows starting at
# trunc(ts) and trunc(ts)−1h — the oracle materializes that fan-out.
STREAMING_SLIDING_ORACLE = f"""
WITH e AS (
  SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events
),
fanout AS (
  SELECT date_trunc('hour', ts) - k * INTERVAL 1 HOUR AS win_start,
         event_type, value
  FROM e, LATERAL (SELECT unnest([0, 1]) AS k)
)
SELECT strftime(win_start, '%Y-%m-%d %H:%M:%S') AS win_start,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM({_CENTS}) AS BIGINT) AS value_cents
FROM fanout GROUP BY 1, 2
"""


def streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myfitnesspaw_spark.streaming import streaming_dedup_counts

    return streaming_dedup_counts(spark, sf_dir)


STREAMING_DEDUP_ORACLE = """
WITH d AS (
  SELECT DISTINCT user_id,
         date_trunc('minute', CAST(ts AS TIMESTAMP)) AS minute,
         event_type
  FROM events
)
SELECT event_type, COUNT(*) AS n_user_minutes FROM d GROUP BY 1
"""


def stream_stream_click_error_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myfitnesspaw_spark.streaming.joins import stream_stream_click_error

    return stream_stream_click_error(spark, sf_dir)


STREAM_STREAM_JOIN_ORACLE = """
SELECT c.event_id AS click_id, c.user_id, e.event_id AS error_id,
       epoch_us(CAST(e.ts AS TIMESTAMP)) - epoch_us(CAST(c.ts AS TIMESTAMP))
         AS gap_us
FROM events c
JOIN events e
  ON c.user_id = e.user_id
 AND e.ts > c.ts
 AND e.ts <= c.ts + INTERVAL 5 MINUTE
WHERE c.event_type = 'click' AND e.event_type = 'error'
"""


# --- streaming_cms_heavy_hitters ------------------------------------------
# Mergeable-sketch maintenance as a STREAM: each micro-batch computes
# its partial vocabulary counts and ``drain`` merges them
# ADDITIVELY into the running counts (base ⊕ delta, the incremental-view-
# maintenance shape) — then the shared CMS tail reports heavy hitters
# from the merged vocabulary.  Every CMS counter is an integer SUM, so
# ANY partition of the corpus into micro-batches produces the
# bit-identical sketch and estimate: unlike watermarked aggregates,
# additive state needs no drain-watermark caveat at all, which is why
# this query shares the batch oracle verbatim.  State is vocabulary-
# bounded (distinct tokens), executor-side behind a localCheckpoint.

def streaming_cms_heavy_hitters(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from myfitnesspaw_spark.functions.text import tokens
    from myfitnesspaw_spark.plans.sampling_queries import cms_report_from_counts

    # Layout-robust source (bare file vs directory of part files) —
    # the shared helper; this site previously carried its own inline
    # copy of the branch.
    from myfitnesspaw_spark.streaming.rollup import stream_table_source

    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    raw = stream_table_source(
        spark,
        sf_dir,
        "documents",
        schema,
        {"maxFilesPerTrigger": str(max_files_per_trigger)}
        if max_files_per_trigger
        else None,
    )

    def _add(counts: DataFrame, batch: DataFrame) -> DataFrame:
        delta = (
            batch.select(F.explode(tokens(F.col("text"))).alias("token"))
            .where(F.col("token") != "")
            .groupBy("token")
            .agg(F.count(F.lit(1)).alias("n_true"))
        )
        return (
            counts.unionByName(delta)
            .groupBy("token")
            .agg(F.sum("n_true").alias("n_true"))
        )

    counts = drain(
        raw,
        "streaming_cms_sink",
        merge=_add,
        schema=T.StructType(
            [T.StructField("token", T.StringType()), T.StructField("n_true", T.LongType())]
        ),
    )
    return cms_report_from_counts(counts)


def stream_static_enrich_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myfitnesspaw_spark.streaming.rollup import streaming_static_enrich

    return streaming_static_enrich(spark, sf_dir)


STREAM_STATIC_ENRICH_ORACLE = f"""
SELECT c.c_mktsegment, e.event_type,
       COUNT(*) AS n_events,
       CAST(SUM({_CENTS.replace("value", "e.value")}) AS BIGINT) AS value_cents
FROM events e JOIN customer c ON c.c_custkey = e.user_id + 1
GROUP BY 1, 2
"""


def streaming_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myfitnesspaw_spark.streaming.rollup import (
        streaming_dedup_within_watermark_counts,
    )

    return streaming_dedup_within_watermark_counts(spark, sf_dir)


def stream_stream_click_error_outer_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myfitnesspaw_spark.streaming.joins import stream_stream_click_error_outer

    return stream_stream_click_error_outer(spark, sf_dir)


# Unmatched clicks emit ONLY once the join's GLOBAL watermark has
# passed click_ts + 5 min.  The global watermark is the MIN over both
# watermarked inputs of (max event time seen − delay) — each side's
# tracker sits after its event_type filter, so the horizon is the
# least of the click and error maxima, not the raw stream max.
STREAM_STREAM_OUTER_ORACLE = """
WITH wm AS (
  SELECT least(
           max(CAST(ts AS TIMESTAMP)) FILTER (event_type = 'click'),
           max(CAST(ts AS TIMESTAMP)) FILTER (event_type = 'error')
         ) - INTERVAL 30 MINUTE AS w
  FROM events
),
j AS (
  SELECT c.event_id AS click_id, c.user_id, e.event_id AS error_id,
         epoch_us(CAST(e.ts AS TIMESTAMP)) - epoch_us(CAST(c.ts AS TIMESTAMP))
           AS gap_us,
         CAST(c.ts AS TIMESTAMP) AS click_ts
  FROM events c
  LEFT JOIN events e
    ON c.user_id = e.user_id
   AND e.event_type = 'error'
   AND e.ts > c.ts
   AND e.ts <= c.ts + INTERVAL 5 MINUTE
  WHERE c.event_type = 'click'
)
SELECT click_id, user_id, error_id, gap_us
FROM j, wm
WHERE error_id IS NOT NULL OR click_ts + INTERVAL 5 MINUTE < wm.w
"""


def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from myfitnesspaw_spark.operators.multimodal import resize_images

    docs = scatter(load_table(spark, sf_dir, "documents"))
    return resize_images(attach_png_payload(docs))


# Sampled pixel (r, c) of the 2x nearest-neighbor downsample is source
# pixel index 2r*w + 2c; pixel content is arithmetic in (doc_id, i).
MULTIMODAL_RESIZE_ORACLE = """
WITH dims AS (
  SELECT doc_id,
         octet_length(encode(text)) % 37 + 8 AS w,
         octet_length(encode(text)) % 23 + 8 AS h
  FROM documents
)
SELECT d.doc_id,
       CAST((d.w + 1) // 2 AS INT) AS out_width,
       CAST((d.h + 1) // 2 AS INT) AS out_height,
       CAST(SUM((d.doc_id * 31 + (2 * r.r * d.w + 2 * c.c) * 7) % 256) AS BIGINT)
         AS resized_sum
FROM dims d,
     LATERAL (SELECT unnest(generate_series(0, (d.h + 1) // 2 - 1)) AS r) r,
     LATERAL (SELECT unnest(generate_series(0, (d.w + 1) // 2 - 1)) AS c) c
GROUP BY d.doc_id, d.w, d.h
"""


def tws_user_type_rollup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``transformWithStateInPandas`` (state API v2) MapState rollup:
    per-(user, event_type) count / exact-cents sum / first / last
    event time, drained to the batch-equivalent totals.  See
    streaming/tws.py for the state shape."""
    from myfitnesspaw_spark.streaming.tws import tws_user_type_rollup

    stream = read_events_stream(spark, sf_dir)
    return tws_user_type_rollup(stream)


TWS_USER_TYPE_ROLLUP_ORACLE = f"""
SELECT user_id, event_type, COUNT(*) AS n_events,
       CAST(SUM({_CENTS}) AS BIGINT) AS value_cents,
       MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS first_us,
       MAX(epoch_us(CAST(ts AS TIMESTAMP))) AS last_us
FROM events GROUP BY 1, 2
"""


def streaming_lsh_ingest_probe_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online LSH probe of the persisted corpus band store — incoming
    docs stream in, sign/band themselves row-locally, and stream-static
    join the index; output is each doc's band-collision degree (the
    exact-verification work queue).  See streaming/rollup.py."""
    from myfitnesspaw_spark.streaming.rollup import streaming_lsh_ingest_probe

    return streaming_lsh_ingest_probe(spark, sf_dir)


def _streaming_lsh_ingest_oracle() -> str:
    from myfitnesspaw_spark.plans.text_queries import _minhash_sig_band_ctes

    return f"""
WITH {_minhash_sig_band_ctes()},
hits AS (
  SELECT a.doc_id, COUNT(*) AS n_band_hits
  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
  WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
  GROUP BY 1
)
SELECT doc_id, CAST(n_band_hits AS BIGINT) AS n_band_hits FROM hits
"""


STREAMING_LSH_INGEST_ORACLE = _streaming_lsh_ingest_oracle()
