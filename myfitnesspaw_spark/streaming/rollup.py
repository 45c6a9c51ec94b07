"""Structured Streaming ingestion variant (SURVEY.md §2.9 extension).

The reference is scheduled batch with an incremental window — "late"
data is handled by re-scraping the last 6 days and upserting
(`/root/reference/myfitnesspaw/tasks.py:260-262`, `sql.py:151-154`).
The streaming-native equivalent: ``readStream`` over the events table,
event-time watermark standing in for the lookback window, tumbling
windows for the per-period rollup.

At scale this is the real shape: a file/Kafka stream, watermark
bounding state, partial aggregation before the shuffle on
(window, event_type).  On the test harness the stream is driven with
``trigger(availableNow=True)`` so it drains the backlog and stops —
the query function stays a plain ``(spark, sf_dir) -> DataFrame``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from myfitnesspaw_spark.functions.numeric import money_cents
from myfitnesspaw_spark.streaming.merge import drain


def stream_table_source(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    schema,
    options: dict | None = None,
):
    """File-stream reader for ``{sf_dir}/{name}.parquet`` that works on
    BOTH physical layouts a parquet table ships in:

    * a directory of part files (every real deployment, and the scale
      probe's rebuilt corpora) — streamed directly; a file source
      pointed at a directory lists the files inside it;
    * a single bare file (the driver's testdata layout) — a file source
      cannot take a file as its path (``basePath`` must be a
      directory), so list the PARENT with a ``pathGlobFilter`` that
      selects just this table's file.

    The two failure modes are silent in the wrong pairing: glob-on-
    parent against a directory layout matches NOTHING (the part files
    inside are not named ``{name}.parquet``) and the stream drains
    zero micro-batches — which is exactly how the scale probe's
    streaming numbers were invalidated before this helper existed (the
    K×-scaled tables are directories).  Layout rules:

    * a non-local URI (``s3://``, ``hdfs://``, ..., any scheme case —
      RFC 3986 schemes are case-insensitive) takes the directory
      branch EXPLICITLY — object-store tables are always directories
      of part files, and ``os.path.isdir`` on such a URI is
      meaninglessly False.  Only the AUTHORITY form (``scheme://``) is
      remote: Hadoop's single-slash default-FS form (``hdfs:/path``)
      is classified local by policy and refused if absent, with the
      refusal naming the ``scheme://`` spelling;
    * a local path that exists is branched by ``isdir``;
    * a local path that does not exist raises immediately — falling
      into the glob branch would recreate the silent zero-ingest
      failure this helper exists to eliminate.
    """
    import os
    from urllib.parse import unquote, urlparse

    path = f"{sf_dir}/{name}.parquet"
    reader = spark.readStream.schema(schema)
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    # Scheme detection must accept Hadoop-style single-slash URIs
    # (``file:/tmp/x``) as well as RFC ``file:///`` and authority
    # forms (``file://host/path``) — urlparse handles all three and
    # hands back the path component, where the naive
    # ``path[len("file://"):]`` slice mangled the authority form and
    # missed the single-slash form entirely (ADVICE r16 #1).
    #
    # A bare urlparse scheme is NOT enough to call a path remote: a
    # relative local sf_dir whose first segment contains a colon
    # (``data:sf1``) parses with scheme="data", and the old check sent
    # it down the remote branch, skipping the existence/layout guards
    # entirely (ADVICE r17 #1).  A non-file scheme is treated as
    # remote only when the path is an authority-form URI
    # (``scheme://...``); anything else is a local path.  ``file:`` is
    # special-cased because Hadoop's single-slash form is legal
    # without ``//`` — but only with an absolute path component.
    # Literal ``?``/``#`` in a ``file:`` URI must be RFC-encoded
    # (%3F/%23); an unencoded one parses as a query/fragment and is
    # rejected loudly below instead of silently truncating the path.
    # RFC 3986 schemes are case-insensitive (urlparse lowercases
    # .scheme, and Hadoop accepts ``HDFS://`` spellings), so the
    # raw-string prefix checks below compare a lowercased slice — a
    # plain startswith misrouted ``HDFS://nn/path`` to the local
    # branch (ADVICE r18 #1).
    parsed = urlparse(path)
    is_file_uri = parsed.scheme == "file" and (
        path[:7].lower() == "file://" or parsed.path.startswith("/")
    )
    single_slash_scheme = None
    colon_segment = False
    if parsed.scheme and not is_file_uri:
        if path[: len(parsed.scheme) + 3].lower() == f"{parsed.scheme}://":
            return reader.parquet(path)
        # ``scheme:/abs/path`` — Hadoop's single-slash default-FS form.
        # POLICY: only authority-form (``scheme://``) URIs are remote;
        # remember the scheme so the refusal below can tell the caller
        # how to spell a remote read (ADVICE r18 #3).
        if parsed.path.startswith("/"):
            single_slash_scheme = parsed.scheme
        colon_segment = True
        parsed = None  # colon in a local segment, not a URI scheme
    local = path
    if parsed is not None and is_file_uri:
        if parsed.query or parsed.fragment:
            raise FileNotFoundError(
                f"stream_table_source: {path} parses with a query/fragment "
                "component; file: URIs have neither, so this is almost "
                "certainly an unencoded '?' or '#' in the directory name — "
                "RFC-encode it (%3F/%23) instead"
            )
        if parsed.netloc not in ("", "localhost"):
            raise FileNotFoundError(
                f"stream_table_source: {path} has a non-local file:// authority "
                f"({parsed.netloc!r}); cannot check the path on this host"
            )
        local = unquote(parsed.path)
    if os.path.isdir(local):
        if colon_segment:
            # Hadoop's Path would re-parse the leading ``name:`` as a
            # scheme (and a relative first segment cannot hold ':' at
            # all, HADOOP-3257) — hand the reader an absolutized form,
            # never the raw colon-segment string (ADVICE r18 #2).
            return reader.parquet(os.path.abspath(local))
        return reader.parquet(path)
    if not os.path.exists(local):
        hint = (
            f"; note: '{single_slash_scheme}:/...' (single-slash) is treated "
            "as a LOCAL path by policy — spell a remote read in authority "
            f"form, '{single_slash_scheme}://...'"
            if single_slash_scheme
            else ""
        )
        raise FileNotFoundError(
            f"stream_table_source: {path} is neither a file nor a directory; "
            "refusing the pathGlobFilter branch (it would silently ingest "
            "zero rows)" + hint
        )
    glob_base = os.path.abspath(sf_dir) if colon_segment else sf_dir
    return reader.option("pathGlobFilter", f"{name}.parquet").parquet(glob_base)

def state_shuffle_partitions(spark: SparkSession) -> int:
    """Shuffle-partition count for STATEFUL streaming queries.

    The state-store partition count is frozen at a streaming query's
    first run, and every partition carries fixed per-store cost (store
    init, commit files, maintenance) EVERY micro-batch — a
    stream-stream join holds 4 stores per partition.  Sizing it to
    ``defaultParallelism`` (the right call for batch shuffles) made the
    fixed cost dominate: the stream-stream join at sf0.1 ran 7.3 s with
    32 state partitions vs 2.5 s with 8 (measured, 3× repeatable).
    State partitions should track STATE VOLUME, not core count —
    default to a quarter of the cores (min 4), overridable via the
    ``spark.myfitnesspaw.stateShufflePartitions`` conf for deployments
    whose watermark-bounded state actually needs more spread.  The
    override must be a positive integer (ASCII digits only); anything
    else raises ``ValueError`` naming the key.
    """
    override = spark.conf.get("spark.myfitnesspaw.stateShufflePartitions", None)
    if override is None:
        return max(4, spark.sparkContext.defaultParallelism // 4)
    if not (override.isascii() and override.isdigit() and int(override) > 0):
        raise ValueError(
            "spark.myfitnesspaw.stateShufflePartitions must be a positive integer, "
            f"got {override!r}"
        )
    return int(override)


def stream_session(spark: SparkSession) -> SparkSession:
    """``spark.newSession()`` (same SparkContext, its own SQL conf) set
    up for streams: shuffle partitions = :func:`state_shuffle_partitions`
    (read from ``spark``, so a runtime knob override holds), zone UTC
    and nanosAsLong on.  A stateful query freezes its state-partition
    count from the session its DataFrame was built in, so building a
    stream here sizes its state without changing any conf another
    caller of ``spark`` reads.  ``streaming/merge.py:drain`` runs the
    stream and its merges in that same session.
    """
    child = spark.newSession()
    child.conf.set(
        "spark.sql.shuffle.partitions", str(state_shuffle_partitions(spark))
    )
    child.conf.set("spark.sql.session.timeZone", "UTC")
    child.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return child


def _events_raw_schema(ts_type: T.DataType) -> T.StructType:
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``readStream`` over the events parquet with ``ts`` normalized to
    zoned TIMESTAMP, built in a UTC :func:`stream_session` child.

    Streaming event time must be TimestampType — ``withWatermark`` on a
    TIMESTAMP_NTZ column raises EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE —
    so unlike the batch loader (sources/tables.py, which normalizes to
    NTZ for DuckDB parity) the stream keeps ``ts`` zoned.  Every frame
    derived from the stream, and every stateful query started from it,
    takes the child's UTC zone and state-partition count, so each
    rendering (``date_format``, ``date_trunc``, ``epoch_us``) of the
    zoned value is wall-clock-identical to the batch loader's NTZ value
    and the same DuckDB oracles hold; the caller's conf is untouched.

    File streams need an explicit schema, and the testdata's physical
    layout has shipped both as TIMESTAMP(NANOS) (scannable only as
    epoch-nanos BIGINT) and as TIMESTAMP(MICROS, no zone) — so sniff
    the footer through a one-off batch read and declare accordingly.
    """
    spark = stream_session(spark)
    raw_ts = dict(spark.read.parquet(f"{sf_dir}/events.parquet").dtypes)["ts"]
    ts_type: T.DataType = {
        "bigint": T.LongType(),
        "timestamp": T.TimestampType(),
    }.get(raw_ts, T.TimestampNTZType())
    # Layout-robust source: a bare events.parquet file streams via a
    # parent-dir glob, a directory of part files streams directly.
    raw = stream_table_source(
        spark, sf_dir, "events", _events_raw_schema(ts_type)
    )
    if raw_ts == "bigint":
        # Epoch-nanos BIGINT → zoned TIMESTAMP; an instant, no zone read.
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    elif raw_ts != "timestamp":
        # TIMESTAMP_NTZ footer (the live testdata path): the NTZ→LTZ
        # cast reads the session zone — the child's UTC makes it
        # wall-clock identity.
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def _drain_update_merge(
    agg: DataFrame,
    key_cols: list[str],
    sink_name: str,
    multi_batch_exact: bool = True,
) -> DataFrame:
    """Drain a watermarked streaming aggregate in UPDATE mode through a
    ``foreachBatch`` keyed merge, returning the final merged state.

    This is the scale-safe replacement for ``complete``-mode memory
    sinks (round-2 verdict #5): complete mode re-emits EVERY window each
    trigger and materializes the whole result on the driver — unbounded
    at 100 TB.  Update mode emits only windows touched by the trigger,
    the watermark evicts finalized windows from the state store, and the
    merge (keep the latest emission per key — streaming aggregates emit
    cumulative values) holds only the result rows, executor-side, behind
    a per-batch localCheckpoint.  On a Delta/Iceberg deployment the
    merge body becomes ``MERGE INTO`` keyed on ``key_cols``.

    Multi-batch drains (ADVICE r3 → closed r5): across micro-batches
    the watermark advances between triggers and rows arriving more than
    the watermark behind it are dropped — valid streaming semantics,
    but a divergence from a batch oracle.  Callers draining a BOUNDED
    backlog therefore declare a backlog-spanning drain watermark (see
    the rollup functions' ``drain_watermark``): the keep-latest merge
    needs no window finalization for correctness, so a wide watermark
    makes any ``maxFilesPerTrigger`` split oracle-exact and the caller
    passes ``multi_batch_exact=True``.  A caller that keeps a tight
    (continuous-operation) watermark passes ``multi_batch_exact=False``
    and gets the RuntimeWarning on a >1-batch drain instead.
    """
    return drain(
        agg,
        sink_name,
        "update",
        merge=lambda state, batch: state.join(
            batch.select(key_cols), key_cols, "left_anti"
        ).unionByName(batch),
        multi_batch_exact=multi_batch_exact,
    )


def streaming_hourly_rollup(
    spark: SparkSession,
    sf_dir: str,
    watermark: str = "1 hour",
    sink_name: str = "streaming_hourly_rollup_sink",
    drain_watermark: str | None = "3650 days",
) -> DataFrame:
    """Tumbling 1-hour rollup per event_type, executed as a real
    Structured Streaming query (update mode → foreachBatch keyed merge,
    availableNow trigger), returned as the finished batch DataFrame.

    Update mode (not complete): the watermark bounds the state store to
    in-flight windows and nothing re-emits finalized windows — the shape
    that stays O(open windows) instead of O(history) at 100 TB.  Money
    sums go through exact integer cents (functions/numeric.py) for
    oracle parity.

    ``drain_watermark``: this entry point drains a BOUNDED backlog and
    returns, so by default it declares a backlog-spanning watermark —
    no row can ever be late, and a multi-micro-batch drain (e.g. under
    ``maxFilesPerTrigger``) stays exactly batch-oracle-equal; state is
    bounded by the backlog's window count, which is what a replay
    holds anyway.  A continuous deployment passes ``None`` to fall
    back to ``watermark`` as the state-eviction policy and accepts
    late-drop semantics.
    """
    events = read_events_stream(spark, sf_dir)
    agg = (
        events.withWatermark("ts", drain_watermark or watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(money_cents(F.col("value"))).alias("value_cents"),
        )
    )
    state = _drain_update_merge(
        agg,
        ["win", "event_type"],
        sink_name,
        multi_batch_exact=drain_watermark is not None,
    )
    return state.select(
        F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
        "event_type",
        "n_events",
        "value_cents",
        (F.col("value_cents") / 100.0).alias("value_sum"),
    )


def streaming_sliding_rollup(
    spark: SparkSession,
    sf_dir: str,
    watermark: str = "1 hour",
    sink_name: str = "streaming_sliding_rollup_sink",
    drain_watermark: str | None = "3650 days",
) -> DataFrame:
    """Sliding-window rollup (2-hour windows every hour) per event_type
    — each event lands in exactly two overlapping windows.

    Same execution shape as the tumbling rollup (real streaming query,
    update mode → foreachBatch keyed merge, availableNow); the slide
    multiplies state rows by window/slide = 2×, which the watermark
    still bounds — the scale knob a 100 TB stream cares about.  Same
    ``drain_watermark`` contract as :func:`streaming_hourly_rollup`:
    backlog-spanning by default so a multi-batch drain is oracle-exact.
    """
    events = read_events_stream(spark, sf_dir)
    agg = (
        events.withWatermark("ts", drain_watermark or watermark)
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(money_cents(F.col("value"))).alias("value_cents"),
        )
    )
    state = _drain_update_merge(
        agg,
        ["win", "event_type"],
        sink_name,
        multi_batch_exact=drain_watermark is not None,
    )
    return state.select(
        F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
        "event_type",
        "n_events",
        "value_cents",
    )


def streaming_dedup_counts(
    spark: SparkSession,
    sf_dir: str,
    sink_name: str = "streaming_dedup_counts_sink",
    watermark: str = "1 hour",
    drain_watermark: str | None = "3650 days",
) -> DataFrame:
    """Watermarked streaming DEDUPLICATION chained into an aggregate —
    two stateful operators in one query (Spark 3.4+): dropDuplicates
    keeps the first (user, minute, type) arrival, the rollup counts
    survivors per type.

    Which physical row survives depends on arrival order, so only
    KEY-determined outputs (here: key counts) are exposed — the
    deterministic contract any streaming-dedup consumer at scale
    should hold itself to.  The watermark bounds dedup state to one
    hour of keys.

    This one deliberately KEEPS the complete-mode drain (each trigger's
    emission replaces the result) the two windowed rollups dropped: its
    aggregate key is ``event_type`` — a
    handful of rows at any data scale, so complete-mode re-emission is
    O(types), not O(history) — and chaining two stateful operators
    (dropDuplicates → agg) restricts which output modes Spark accepts.

    Same ``drain_watermark`` contract as :func:`streaming_hourly_rollup`:
    the default backlog-spanning watermark means a multi-micro-batch
    drain cannot evict dedup state ahead of late-arriving keys, so the
    drained counts equal the batch dedup exactly; continuous
    deployments pass ``None`` to bound dedup state by ``watermark``.
    """
    events = read_events_stream(spark, sf_dir)
    dedup = (
        events.withColumn("minute", F.date_trunc("minute", F.col("ts")))
        .withWatermark("minute", drain_watermark or watermark)
        .dropDuplicates(["user_id", "minute", "event_type"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_user_minutes"))
    )
    return drain(dedup, sink_name, "complete", merge=lambda _, batch: batch)


def streaming_static_enrich(
    spark: SparkSession,
    sf_dir: str,
    sink_name: str = "streaming_static_enrich_sink",
    drain_watermark: str = "3650 days",
) -> DataFrame:
    """Stream-static enrichment: the events STREAM inner-joined to the
    static customer dimension (the stateless join every streaming
    enrichment pipeline runs), then rolled up per market segment in
    update mode.

    Scale shape: a stream-static join keeps NO join state — when the
    dimension is small Catalyst's stats-based planning broadcasts it
    into every micro-batch (no hard hint: customer grows with scale
    factor, and a forced broadcast of a 100 TB-era dimension is an
    executor OOM — a big dim correctly falls back to a per-batch
    shuffle join), so the only stateful operator is the downstream
    segment aggregate (bounded by segment cardinality).  The dimension is re-resolved per trigger,
    which is exactly the slowly-changing-dimension refresh semantics a
    continuous deployment wants.  Money sums ride exact integer cents.
    """
    from myfitnesspaw_spark.sources import load_table

    events = read_events_stream(spark, sf_dir)
    customers = load_table(spark, sf_dir, "customer").select(
        (F.col("c_custkey") - 1).alias("user_id"), "c_mktsegment"
    )
    joined = events.join(customers, "user_id")
    agg = (
        joined.withWatermark("ts", drain_watermark)
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(money_cents(F.col("value"))).alias("value_cents"),
        )
    )
    return _drain_update_merge(
        agg,
        ["c_mktsegment", "event_type"],
        sink_name,
        multi_batch_exact=True,
    )


def streaming_dedup_within_watermark_counts(
    spark: SparkSession,
    sf_dir: str,
    sink_name: str = "streaming_dedup_ww_sink",
    drain_watermark: str = "3650 days",
) -> DataFrame:
    """Streaming dedup via ``dropDuplicatesWithinWatermark`` (Spark
    3.5+) chained into a per-type rollup — the EVENT-TIME-BOUNDED
    sibling of :func:`streaming_dedup_counts`.

    ``dropDuplicates`` holds every key seen forever unless the keys
    include the event-time column; ``dropDuplicatesWithinWatermark``
    instead expires a key once the watermark passes its first-seen
    event time + delay — the state contract a continuous 100 TB
    deployment actually wants for "same logical event re-delivered
    within N hours" dedup, because state is bounded by the watermark
    window regardless of key cardinality.

    With the backlog-spanning drain watermark the expiry never fires
    during a bounded drain, so the result equals batch DISTINCT and
    the batch oracle holds; a continuous deployment passes a tight
    delay and accepts re-emission of keys recurring beyond it.
    """
    events = read_events_stream(spark, sf_dir)
    dedup = (
        events.withColumn("minute", F.date_trunc("minute", F.col("ts")))
        .withWatermark("ts", drain_watermark)
        .dropDuplicatesWithinWatermark(["user_id", "minute", "event_type"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_user_minutes"))
    )
    return _drain_update_merge(
        dedup,
        ["event_type"],
        sink_name,
        multi_batch_exact=True,
    )


def streaming_lsh_ingest_probe(
    spark: SparkSession,
    sf_dir: str,
    sink_name: str = "streaming_lsh_ingest_sink",
) -> DataFrame:
    """STREAMING ingest against persisted LSH state — the online half
    of minhash_signature_refresh's protocol: the corpus band store is
    built once by a prior (batch) run; new documents then arrive as a
    STREAM, MinHash-sign themselves row-locally inside the micro-batch
    (shingle → 16-seed rotation minima → banded keys are all pure
    projections, so the stream side carries no state), and probe the
    store through a stream-static join.  Output is the verification
    WORK QUEUE: per incoming doc, how many (band, key) collisions it
    has against the stored corpus index — the collision degree an
    ingest pipeline uses to route docs to exact verification (and to
    spot degenerate hot bands in-flight).

    Scale shape: the stream-static join keeps NO join state (the store
    is re-resolved per trigger — index refreshes are picked up
    mid-stream); the only stateful operator is the per-doc count,
    update-mode, merged through the same keyed foreachBatch drain as
    every rollup here.  No event-time column exists on documents, so
    there is no watermark: count state is bounded by the batch slice's
    doc count, and nothing is ever dropped, which makes multi-batch
    drains exact by construction.
    """
    from myfitnesspaw_spark.operators.dedup import (
        minhash_band_table,
        minhash_signatures,
    )
    from myfitnesspaw_spark.plans.text_queries import MH_BAND_ROWS, MH_HASHES
    from myfitnesspaw_spark.sinks.warehouse import (
        read_index_store,
        store_path,
        write_index_store,
    )
    from myfitnesspaw_spark.sources import load_table

    # -- simulated prior run: persist the base corpus's band table.
    # checkpoint=False (sanctioned single-consumer case): sig_base is
    # consumed exactly once, by the store write below (r20).
    base = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 10 != 0)
    _, sig_base = minhash_signatures(
        base, "doc_id", "text", MH_HASHES, checkpoint=False
    )
    path = store_path("lsh_ingest_bands", sf_dir)
    write_index_store(
        minhash_band_table(sig_base, "doc_id", MH_HASHES, MH_BAND_ROWS), path
    )
    store = read_index_store(
        spark, path, "doc_id bigint, band int, key string"
    ).withColumnRenamed("doc_id", "base_id")

    # -- the ingest stream: sign + band row-locally, probe the store.
    # Schema comes from the batch table (ADVICE r11): a documents
    # rename/type change must fail this plan loudly at analysis, not
    # read nulls and emit zero signatures.
    doc_schema = base.schema
    raw = stream_table_source(
        stream_session(spark), sf_dir, "documents", doc_schema
    )
    incoming = raw.where(F.col("doc_id") % 10 == 0)
    # The SAME signing chain the store builder ran (one implementation,
    # so producer and prober cannot drift); checkpoint=False is the
    # streaming-compatible path — localCheckpoint is the only piece a
    # streaming plan cannot take.
    _, sig = minhash_signatures(
        incoming, "doc_id", "text", MH_HASHES, checkpoint=False
    )
    bands = minhash_band_table(sig, "doc_id", MH_HASHES, MH_BAND_ROWS)

    hits = bands.join(store, ["band", "key"])
    agg = hits.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_band_hits"))
    return _drain_update_merge(
        agg,
        ["doc_id"],
        sink_name,
        multi_batch_exact=True,
    )
