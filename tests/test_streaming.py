"""Streaming-specific tests: the stateful-stream sessionizer must
agree with the batch sessionizer on every CLOSED session (its open
sessions stay in state at availableNow shutdown — see
sessionize_stream docstring)."""

from __future__ import annotations

import pytest

from myfitnesspaw_spark.plans.stream_queries import sessionize_stateful_stream
from myfitnesspaw_spark.sources import load_table
from myfitnesspaw_spark.streaming import sessionize
from myfitnesspaw_spark.streaming.rollup import state_shuffle_partitions


def test_stateful_stream_matches_batch_closed_sessions(spark, sf_dir):
    batch = sessionize(load_table(spark, sf_dir, "events"), gap_minutes=30)
    batch_rows = {
        (r["user_id"], r["start_ts"], r["end_ts"], r["n_events"], r["value_cents"])
        for r in batch.collect()
    }
    # The stream holds back each user's LAST session (still open).
    last_per_user = {}
    for r in batch.collect():
        cur = last_per_user.get(r["user_id"])
        if cur is None or r["start_ts"] > cur[1]:
            last_per_user[r["user_id"]] = (
                r["user_id"], r["start_ts"], r["end_ts"], r["n_events"], r["value_cents"]
            )
    expected = batch_rows - set(last_per_user.values())

    streamed = sessionize_stateful_stream(spark, sf_dir)
    got = {
        (r["user_id"], r["start_ts"], r["end_ts"], r["n_events"], r["value_cents"])
        for r in streamed.collect()
    }
    assert got == expected


def _global_temp_views(spark):
    """Views in ``global_temp``, which every session on the SparkContext
    shares.  Listed from a fresh session: ``listTables("global_temp")``
    also lists the asking session's own local temp views."""
    return spark.newSession().catalog.listTables("global_temp")


@pytest.mark.parametrize("shape", ["update", "upsert", "append"])
def test_drain_update_merge_empty_stream(spark, tmp_path, shape):
    # A zero-row stream never fires a micro-batch; every merge shape
    # must return an empty frame with the stream's columns instead of
    # raising TABLE_OR_VIEW_NOT_FOUND (ADVICE r3), and leave nothing in
    # the shared global_temp database.
    import os

    import pyspark.sql.functions as F
    from myfitnesspaw_spark.streaming import merge
    from myfitnesspaw_spark.streaming.rollup import _drain_update_merge

    schema = "ts timestamp, event_type string, value double"
    src = str(tmp_path / "empty_events")
    if shape == "update":
        spark.createDataFrame([], schema).write.parquet(src)
    else:
        os.makedirs(src)  # a source directory with no files at all
    stream = spark.readStream.schema(schema).parquet(src)
    if shape == "update":
        agg = (
            stream.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"))
        )
        out = _drain_update_merge(agg, ["win", "event_type"], "empty_drain_sink")
        columns = ["win", "event_type", "n_events"]
    elif shape == "upsert":
        out = merge.stream_upsert_latest(stream, ["event_type"], "ts")
        columns = stream.columns
    else:
        out = merge.drain(stream, "empty_append_sink")
        columns = stream.columns
    assert out.count() == 0
    assert out.columns == columns
    assert _global_temp_views(spark) == []


def _multibatch_fixture(spark, tmp_path, name):
    # 4 one-row files spanning 4 hours; maxFilesPerTrigger=1 forces a
    # 4-micro-batch drain with arbitrary file (hence event-time) order.
    import pyspark.sql.functions as F

    src = str(tmp_path / name)
    rows = [
        ("2024-01-01 00:05:00", "click", 1.0),
        ("2024-01-01 01:05:00", "click", 2.0),
        ("2024-01-01 02:05:00", "error", 3.0),
        ("2024-01-01 03:05:00", "click", 4.0),
    ]
    base = spark.createDataFrame(
        rows, "ts_s string, event_type string, value double"
    ).select(F.to_timestamp("ts_s").alias("ts"), "event_type", "value")
    base.repartition(4).write.parquet(src)
    stream = (
        spark.readStream.schema("ts timestamp, event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    return base, stream


def test_drain_update_merge_multibatch_is_oracle_exact(spark, tmp_path):
    # With a backlog-spanning drain watermark (the rollup entry points'
    # default), a forced multi-micro-batch drain must equal the batch
    # aggregate exactly — no rows dropped behind an advancing watermark
    # (ADVICE r3/r4 → the single-batch drain assumption removed in r5).
    import warnings

    import pyspark.sql.functions as F

    from myfitnesspaw_spark.streaming.rollup import _drain_update_merge

    base, stream = _multibatch_fixture(spark, tmp_path, "mb_exact_events")
    agg = (
        stream.withWatermark("ts", "3650 days")
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("v"))
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        out = _drain_update_merge(
            agg, ["win", "event_type"], "mb_exact_sink",
            multi_batch_exact=True,
        )
        got = sorted(
            (r["win"]["start"].isoformat(), r["event_type"], r["n_events"], r["v"])
            for r in out.collect()
        )
    expected = sorted(
        (r["win"]["start"].isoformat(), r["event_type"], r["n_events"], r["v"])
        for r in base.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("v"))
        .collect()
    )
    assert got == expected
    assert not any(issubclass(w.category, RuntimeWarning) for w in caught)


def test_drain_update_merge_warns_on_multibatch_tight_watermark(spark, tmp_path):
    # A caller keeping a tight continuous-operation watermark opts out
    # of exactness (multi_batch_exact=False) and must get the
    # divergence RuntimeWarning on a >1-batch drain (ADVICE r3).
    import warnings

    import pyspark.sql.functions as F

    from myfitnesspaw_spark.streaming.rollup import _drain_update_merge

    _base, stream = _multibatch_fixture(spark, tmp_path, "mb_warn_events")
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        out = _drain_update_merge(
            agg, ["win", "event_type"], "multibatch_sink",
            multi_batch_exact=False,
        )
        out.count()
    assert any(
        issubclass(w.category, RuntimeWarning) and "micro-batches" in str(w.message)
        for w in caught
    )


def test_checkpointed_stream_resumes_exactly_once(spark, tmp_path):
    # The incremental-ingest contract at scale: a checkpointed stream
    # stopped and restarted over a GROWN source must process each file
    # exactly once — the resumed query picks up only the new file, and
    # the merged state equals a batch recompute over everything.
    import pyspark.sql.functions as F

    src = str(tmp_path / "growing_events")
    ckpt = str(tmp_path / "ckpt")

    def write_batch(rows, mode):
        spark.createDataFrame(
            rows, "ts_s string, event_type string, value double"
        ).select(
            F.to_timestamp("ts_s").alias("ts"), "event_type", "value"
        ).coalesce(1).write.mode(mode).parquet(src)

    batch1 = [("2024-01-01 00:10:00", "click", 1.0),
              ("2024-01-01 00:20:00", "click", 2.0),
              ("2024-01-01 00:40:00", "error", 3.0)]
    batch2 = [("2024-01-01 01:10:00", "click", 4.0),
              ("2024-01-01 00:15:00", "view", 5.0)]

    results = {}

    def run_round(tag):
        stream = spark.readStream.schema(
            "ts timestamp, event_type string, value double"
        ).parquet(src)
        agg = stream.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("value") * 100).cast("long")).alias("cents"),
        )

        def merge(batch, _bid):
            for r in batch.collect():
                results[r["event_type"]] = (r["n"], r["cents"])

        q = (
            agg.writeStream.foreachBatch(merge)
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return q

    write_batch(batch1, "overwrite")
    q1 = run_round("first")
    assert results == {"click": (2, 300), "error": (1, 300)}
    n_input_1 = sum(int(p["numInputRows"]) for p in q1.recentProgress)

    write_batch(batch2, "append")
    q2 = run_round("resume")
    # Resume reads ONLY the new file (2 rows), not the original 3 —
    # the checkpoint's file log is what makes re-runs incremental.
    n_input_2 = sum(int(p["numInputRows"]) for p in q2.recentProgress)
    assert n_input_1 == 3 and n_input_2 == 2
    # Streaming aggregate state survived the restart: counts include
    # BOTH files exactly once, matching a batch recompute.
    batch_truth = {
        r["event_type"]: (r["n"], r["cents"])
        for r in spark.read.parquet(src)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("value") * 100).cast("long")).alias("cents"),
        )
        .collect()
    }
    assert results == batch_truth == {
        "click": (3, 700), "error": (1, 300), "view": (1, 500)
    }


def test_streaming_cms_multibatch_equals_batch(spark, tmp_path, sf_dir):
    # Additive sketch state merges exactly under ANY batching: a forced
    # 3-micro-batch build over a split corpus must produce the same
    # heavy-hitter report as the single-pass batch build over the same
    # rows (integer-sum counters commute — no watermark caveats).
    import os

    import pyspark.sql.functions as F

    from myfitnesspaw_spark.plans.sampling_queries import cms_heavy_hitters
    from myfitnesspaw_spark.plans.stream_queries import streaming_cms_heavy_hitters

    split_dir = str(tmp_path / "cms_split")
    os.makedirs(split_dir)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # 3 files → 3 micro-batches under maxFilesPerTrigger=1.
    docs.withColumn("__b", F.pmod(F.col("doc_id"), F.lit(3))).repartition(
        3, "__b"
    ).drop("__b").write.parquet(f"{split_dir}/documents.parquet")

    streamed = streaming_cms_heavy_hitters(
        spark, split_dir, max_files_per_trigger=1
    )
    batch = cms_heavy_hitters(spark, sf_dir)
    assert sorted(map(tuple, streamed.collect())) == sorted(
        map(tuple, batch.collect())
    )


def _userkeyed_multibatch_fixture(spark, tmp_path, name):
    # 4 one-row files; duplicates of the same (user, minute, type) key
    # land in DIFFERENT micro-batches under maxFilesPerTrigger=1, so
    # dedup state must survive across batches to count correctly.
    import pyspark.sql.functions as F

    src = str(tmp_path / name)
    rows = [
        ("2024-01-01 00:05:10", 1, "click", 1.0),
        ("2024-01-01 00:05:40", 1, "click", 2.0),   # dup key, later batch
        ("2024-01-01 01:05:00", 2, "error", 3.0),
        ("2024-01-01 00:05:50", 1, "click", 4.0),   # dup key again
    ]
    base = spark.createDataFrame(
        rows, "ts_s string, user_id long, event_type string, value double"
    ).select(F.to_timestamp("ts_s").alias("ts"), "user_id", "event_type", "value")
    base.repartition(4).write.parquet(src)
    stream = (
        spark.readStream.schema(
            "ts timestamp, user_id long, event_type string, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    return base, stream


def test_dedup_within_watermark_multibatch_equals_batch_distinct(spark, tmp_path):
    # dropDuplicatesWithinWatermark state must hold keys across a
    # forced multi-batch drain under the backlog-spanning watermark:
    # duplicates arriving in LATER micro-batches still dedup, so the
    # final counts equal batch DISTINCT.
    import pyspark.sql.functions as F

    from myfitnesspaw_spark.streaming.rollup import _drain_update_merge

    base, stream = _userkeyed_multibatch_fixture(spark, tmp_path, "ww_dedup_events")
    dedup = (
        stream.withColumn("minute", F.date_trunc("minute", F.col("ts")))
        .withWatermark("ts", "3650 days")
        .dropDuplicatesWithinWatermark(["user_id", "minute", "event_type"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    out = _drain_update_merge(
        dedup, ["event_type"], "ww_dedup_sink",
        multi_batch_exact=True,
    )
    got = sorted((r["event_type"], r["n"]) for r in out.collect())
    expected = sorted(
        (r["event_type"], r["n"])
        for r in base.select(
            "user_id", F.date_trunc("minute", "ts").alias("minute"), "event_type"
        )
        .distinct()
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert got == expected


def test_stream_static_join_multibatch_equals_batch(spark, tmp_path):
    # Stream-static broadcast enrichment under a forced multi-batch
    # drain: the static dim resolves in every micro-batch and the
    # update-mode segment rollup equals the batch join + aggregate.
    import pyspark.sql.functions as F

    from myfitnesspaw_spark.streaming.rollup import _drain_update_merge

    base, stream = _userkeyed_multibatch_fixture(spark, tmp_path, "ss_enrich_events")
    dim = spark.createDataFrame(
        [(1, "BUILDING"), (2, "MACHINERY")], "user_id long, segment string"
    )
    agg = (
        stream.join(F.broadcast(dim), "user_id")
        .withWatermark("ts", "3650 days")
        .groupBy("segment", "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("v"))
    )
    out = _drain_update_merge(
        agg, ["segment", "event_type"], "ss_enrich_sink",
        multi_batch_exact=True,
    )
    got = sorted((r["segment"], r["event_type"], r["n"], r["v"]) for r in out.collect())
    expected = sorted(
        (r["segment"], r["event_type"], r["n"], r["v"])
        for r in base.join(dim, "user_id")
        .groupBy("segment", "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("v"))
        .collect()
    )
    assert got == expected


class _FakeMapState:
    """Dict-backed stand-in for the v2 MapState column family."""

    def __init__(self):
        self._d = {}

    def containsKey(self, key):
        return key in self._d

    def getValue(self, key):
        return self._d[key]

    def updateValue(self, key, vals):
        self._d[key] = tuple(vals)


class _FakeHandle:
    def getMapState(self, name, key_schema, value_schema):
        self.state = _FakeMapState()
        return self.state


class _FakeV1State:
    def __init__(self):
        self._v = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v


def test_tws_v2_processor_contract_identical_to_v1():
    """Drive the NEVER-in-container v2 processor (_UserTypeRollup)
    directly against the v1 fallback fn over two consecutive batches:
    identical emitted rows, including the prior-state merge path — so
    a protobuf-present cluster runs code whose semantics this suite
    has actually exercised (VERDICT r6 #6)."""
    import pandas as pd

    from myfitnesspaw_spark.streaming import tws

    batches = [
        [pd.DataFrame({"event_type": ["a", "b", "a"], "cents": [100, 5, 3], "us": [10, 20, 5]})],
        [pd.DataFrame({"event_type": ["b", "c"], "cents": [7, 1], "us": [1, 99]})],
    ]

    proc = tws._UserTypeRollup()
    proc.init(_FakeHandle())
    v1_state = _FakeV1State()
    for batch in batches:
        v2_out = pd.concat(
            list(proc.handleInputRows((7,), iter(batch), None)), ignore_index=True
        )
        v1_out = pd.concat(
            list(tws._v1_rollup_fn((7,), iter(batch), v1_state)), ignore_index=True
        )
        key = lambda df: sorted(map(tuple, df[tws._OUT_COLS].itertuples(index=False)))
        assert key(v2_out) == key(v1_out)


def test_tws_v2_plan_construction_with_mocked_gate(spark, sf_dir, monkeypatch):
    """Force HAS_TWS_RUNTIME on with transformWithStateInPandas mocked
    to record its contract and delegate to the v1 operator: the v2
    branch must construct the exact (processor, schema, Update, None)
    call and the drained totals must match the certified v1 output."""
    from pyspark.sql.group import GroupedData
    from pyspark.sql.streaming.state import GroupStateTimeout

    from myfitnesspaw_spark.plans.stream_queries import tws_user_type_rollup_q
    from myfitnesspaw_spark.streaming import tws

    recorded = {}

    def fake_tws(self, statefulProcessor, outputStructType, outputMode, timeMode):
        recorded.update(
            processor=statefulProcessor,
            schema=outputStructType,
            mode=outputMode,
            time=timeMode,
        )
        return self.applyInPandasWithState(
            tws._v1_rollup_fn,
            outputStructType=tws._OUT_SCHEMA,
            stateStructType="types array<string>, aggs array<array<bigint>>",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

    baseline = sorted(
        map(tuple, tws_user_type_rollup_q(spark, sf_dir).collect())
    )
    monkeypatch.setattr(tws, "HAS_TWS_RUNTIME", True)
    monkeypatch.setattr(GroupedData, "transformWithStateInPandas", fake_tws)
    got = sorted(map(tuple, tws_user_type_rollup_q(spark, sf_dir).collect()))

    assert isinstance(recorded["processor"], tws._UserTypeRollup)
    assert recorded["schema"] == tws._OUT_SCHEMA
    assert recorded["mode"] == "Update"
    assert recorded["time"] == "None"
    assert got == baseline


def test_inner_batch_plan_lint_hook(spark, sf_dir, tmp_path):
    """The lint_hook seam (VERDICT r12 #8): every drain hands each
    merged micro-batch plan to the installed hook; the default is a
    no-op, and a raising hook fails the streaming drain (so the
    oracle sweep's inner-plan lint cannot be silently bypassed).  An
    append-mode drain such as the stream-stream join reaches the hook
    too."""
    import pyspark.sql.functions as F
    import pytest as _pytest

    from myfitnesspaw_spark.streaming import lint_hook
    from myfitnesspaw_spark.streaming.joins import stream_stream_click_error
    from myfitnesspaw_spark.streaming.rollup import _drain_update_merge

    assert lint_hook.BATCH_PLAN_LINT is None  # production default: no-op

    def _make_agg(name):
        src = str(tmp_path / name)
        spark.createDataFrame(
            [("2024-01-01 00:05:00", "click", 1.0)],
            "ts_s string, event_type string, value double",
        ).select(F.to_timestamp("ts_s").alias("ts"), "event_type", "value").write.parquet(src)
        stream = spark.readStream.schema(
            "ts timestamp, event_type string, value double"
        ).parquet(src)
        return (
            stream.withWatermark("ts", "3650 days")
            .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"))
        )

    calls = []
    lint_hook.BATCH_PLAN_LINT = lambda n, df: calls.append((n, len(df.columns)))
    try:
        out = _drain_update_merge(
            _make_agg("hook_ok"), ["win", "event_type"], "hook_ok_sink",
        )
        assert out.count() == 1
        assert calls and all(n == "hook_ok_sink" for n, _ in calls)

        calls.clear()
        stream_stream_click_error(spark, sf_dir).count()
        assert calls and all(n == "stream_stream_click_error_sink" for n, _ in calls)

        def _boom(name, df):
            raise AssertionError(f"lint rejected {name}")

        lint_hook.BATCH_PLAN_LINT = _boom
        with _pytest.raises(Exception, match="lint rejected"):
            _drain_update_merge(
                _make_agg("hook_boom"), ["win", "event_type"], "hook_boom_sink",
            )
    finally:
        lint_hook.BATCH_PLAN_LINT = None


def test_stream_table_source_reads_both_physical_layouts(spark, sf_dir, tmp_path):
    """stream_table_source must see every row whether the table ships
    as a bare file (the driver's testdata layout) or as a directory of
    part files (every real deployment, and the scale probe's rebuilt
    corpora).  The wrong pairing fails SILENTLY — a parent-dir glob
    against a directory layout matches nothing and the stream drains
    zero micro-batches (exactly how the scale probe's streaming
    numbers went invalid) — so both layouts are pinned here by
    row-count, not just by 'no exception'."""
    from myfitnesspaw_spark.streaming.rollup import read_events_stream

    batch = load_table(spark, sf_dir, "events")
    n = batch.count()
    assert n > 0

    def drained_rows(d: str) -> int:
        counts: list[int] = []
        q = (
            read_events_stream(spark, d)
            .writeStream.foreachBatch(lambda b, _i: counts.append(b.count()))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sum(counts)

    # Bare-file layout: the real sf_dir.
    assert drained_rows(sf_dir) == n

    # Directory layout: the same rows written as multi-split parquet.
    scaled = tmp_path / "dir_layout"
    scaled.mkdir()
    batch.repartition(4).write.parquet(str(scaled / "events.parquet"))
    assert drained_rows(str(scaled)) == n


class _RecordingStreamReader:
    """Stands in for spark.readStream: records which branch
    stream_table_source took (final path + options) without resolving
    any filesystem, so non-local schemes are testable in a container
    with no S3/HDFS connector."""

    def __init__(self):
        self.options: dict = {}
        self.path: str | None = None

    def schema(self, _schema):
        return self

    def option(self, k, v):
        self.options[k] = v
        return self

    def parquet(self, p):
        self.path = p
        return self


class _FakeSparkForSource:
    def __init__(self):
        self.readStream = _RecordingStreamReader()


def test_stream_table_source_scheme_and_missing_path_branches(tmp_path):
    """Branch policy pinned (VERDICT r15 #3 / ADVICE r15 #3):

    * non-local URI scheme (s3://...) -> directory branch EXPLICITLY,
      never the parent-dir glob (``os.path.isdir`` on such a URI is
      meaninglessly False);
    * file:// URI at a real local directory -> directory branch;
    * local path that does not exist at all -> raise, because the glob
      branch would silently ingest zero rows."""
    import pytest as _pytest

    from myfitnesspaw_spark.streaming.rollup import stream_table_source

    # s3:// scheme: directory branch, full table path, no glob option.
    fake = _FakeSparkForSource()
    stream_table_source(fake, "s3://bucket/corpus", "events", "ignored")
    assert fake.readStream.path == "s3://bucket/corpus/events.parquet"
    assert "pathGlobFilter" not in fake.readStream.options

    # file:// URI over a real directory: directory branch too.
    (tmp_path / "events.parquet").mkdir()
    fake = _FakeSparkForSource()
    stream_table_source(fake, f"file://{tmp_path}", "events", "ignored")
    assert fake.readStream.path == f"file://{tmp_path}/events.parquet"
    assert "pathGlobFilter" not in fake.readStream.options

    # Missing local path: refuse rather than glob-to-nothing.
    fake = _FakeSparkForSource()
    with _pytest.raises(FileNotFoundError, match="zero rows"):
        stream_table_source(fake, str(tmp_path / "absent"), "events", "ignored")

    # Bare local file still takes the glob branch (driver testdata layout).
    bare = tmp_path / "bare"
    bare.mkdir()
    (bare / "nation.parquet").write_bytes(b"PAR1")
    fake = _FakeSparkForSource()
    stream_table_source(fake, str(bare), "nation", "ignored")
    assert fake.readStream.path == str(bare)
    assert fake.readStream.options["pathGlobFilter"] == "nation.parquet"


def test_stream_table_source_file_uri_forms(tmp_path):
    """ADVICE r16 #1: the file: scheme must be recognized in all three
    legal spellings and the LOCAL PATH COMPONENT (not a naive slice of
    the URI string) must drive the exists/isdir checks:

    * Hadoop-style single-slash ``file:/abs/path`` (no ``://``, so a
      scheme regex keyed on ``://`` missed it and ran the local checks
      on the literal ``file:/...`` string — spuriously raising for a
      valid directory table);
    * RFC empty-authority ``file:///abs/path``;
    * authority form ``file://host/abs/path`` — the old
      ``path[len('file://'):]`` slice turned this into the relative
      path ``host/abs/path``; a non-local authority is now an explicit
      refusal, not a wrong-path check."""
    import pytest as _pytest

    from myfitnesspaw_spark.streaming.rollup import stream_table_source

    (tmp_path / "events.parquet").mkdir()

    # Hadoop single-slash form: must resolve to the directory branch.
    fake = _FakeSparkForSource()
    stream_table_source(fake, f"file:{tmp_path}", "events", "ignored")
    assert fake.readStream.path == f"file:{tmp_path}/events.parquet"
    assert "pathGlobFilter" not in fake.readStream.options

    # RFC triple-slash form (empty authority).
    fake = _FakeSparkForSource()
    stream_table_source(fake, f"file://{tmp_path}", "events", "ignored")
    assert fake.readStream.path == f"file://{tmp_path}/events.parquet"

    # localhost authority is local by definition.
    fake = _FakeSparkForSource()
    stream_table_source(fake, f"file://localhost{tmp_path}", "events", "ignored")
    assert fake.readStream.path == f"file://localhost{tmp_path}/events.parquet"

    # Non-local authority: refuse explicitly instead of checking
    # a mangled relative path on the wrong host.
    fake = _FakeSparkForSource()
    with _pytest.raises(FileNotFoundError, match="authority"):
        stream_table_source(
            fake, f"file://otherhost{tmp_path}", "events", "ignored"
        )


def test_stream_table_source_colon_segment_is_local(tmp_path):
    """ADVICE r17 #1: a RELATIVE local path whose first segment
    contains a colon (``data:sf1``) parses with urlparse scheme
    "data"; the bare-scheme check sent it down the remote branch,
    skipping the existence/layout guards.  A non-file scheme is remote
    only in authority form (``scheme://``); a colon segment is local
    and gets the full local branch policy (isdir / glob / refuse)."""
    import os

    import pytest as _pytest

    from myfitnesspaw_spark.streaming.rollup import stream_table_source

    colon_dir = tmp_path / "data:sf1"
    (colon_dir / "events.parquet").mkdir(parents=True)

    # Relative colon path over a real directory: directory branch,
    # not a blind "data:" remote read.
    cwd = os.getcwd()
    os.chdir(tmp_path)
    try:
        fake = _FakeSparkForSource()
        stream_table_source(fake, "data:sf1", "events", "ignored")
        # ADVICE r18 #2: the reader must get an ABSOLUTIZED path, not
        # the raw colon-segment string — Hadoop's Path would re-parse
        # the leading "data:" as a scheme (HADOOP-3257).
        assert fake.readStream.path == str(colon_dir / "events.parquet")
        assert "pathGlobFilter" not in fake.readStream.options

        # Missing colon path: refuse (old code silently "read" it remotely).
        fake = _FakeSparkForSource()
        with _pytest.raises(FileNotFoundError, match="zero rows"):
            stream_table_source(fake, "data:absent", "events", "ignored")
    finally:
        os.chdir(cwd)

    # Absolute path with a colon in a later segment never had a scheme;
    # still the directory branch.
    fake = _FakeSparkForSource()
    stream_table_source(fake, str(colon_dir), "events", "ignored")
    assert fake.readStream.path == f"{colon_dir}/events.parquet"

    # A real authority-form remote URI still takes the remote branch.
    fake = _FakeSparkForSource()
    stream_table_source(fake, "hdfs://nn:8020/corpus", "events", "ignored")
    assert fake.readStream.path == "hdfs://nn:8020/corpus/events.parquet"


def test_stream_table_source_file_uri_query_fragment_rejected(tmp_path):
    """ADVICE r17 #1 (second half): an unencoded ``?`` or ``#`` in a
    ``file:`` URI parses as a query/fragment and the old code silently
    TRUNCATED the path there before the local check.  file: URIs have
    no query/fragment semantics, so a non-empty one is rejected loudly
    with the RFC-encoding hint; the %-encoded spelling resolves to the
    literal directory name and works."""
    import pytest as _pytest

    from myfitnesspaw_spark.streaming.rollup import stream_table_source

    qdir = tmp_path / "sf?v=1"
    (qdir / "events.parquet").mkdir(parents=True)

    # Unencoded '?': loud refusal, not silent truncation to .../sf.
    fake = _FakeSparkForSource()
    with _pytest.raises(FileNotFoundError, match="RFC-encode"):
        stream_table_source(fake, f"file://{tmp_path}/sf?v=1", "events", "ignored")

    # Unencoded '#': same.
    fake = _FakeSparkForSource()
    with _pytest.raises(FileNotFoundError, match="RFC-encode"):
        stream_table_source(fake, f"file://{tmp_path}/sf#frag", "events", "ignored")

    # RFC-encoded spelling: resolves to the literal name, directory branch.
    fake = _FakeSparkForSource()
    stream_table_source(
        fake, f"file://{tmp_path}/sf%3Fv=1", "events", "ignored"
    )
    assert fake.readStream.path == f"file://{tmp_path}/sf%3Fv=1/events.parquet"
    assert "pathGlobFilter" not in fake.readStream.options


def test_stream_table_source_scheme_case_and_single_slash_policy(tmp_path):
    """ADVICE r18 #1-#3 on the URI classification:

    * RFC 3986 schemes are case-insensitive and Hadoop accepts them —
      ``HDFS://nn/path`` must take the remote branch (urlparse
      lowercases .scheme, so the old startswith check missed it and
      misrouted the URI to the local branch);
    * an uppercase ``FILE://`` URI is still the file scheme and must
      resolve its local path component;
    * Hadoop's single-slash default-FS form (``hdfs:/path``) stays
      LOCAL by documented policy, but the refusal must name the
      ``scheme://`` spelling so the caller learns the remote form;
    * a colon-segment local path on the GLOB branch (bare file) must
      hand the reader an absolutized base dir, not the raw string
      Hadoop would re-parse as a scheme."""
    import os

    import pytest as _pytest

    from myfitnesspaw_spark.streaming.rollup import stream_table_source

    # Uppercase remote scheme: remote branch, raw URI passed through
    # (Hadoop resolves scheme case itself).
    fake = _FakeSparkForSource()
    stream_table_source(fake, "HDFS://nn:8020/corpus", "events", "ignored")
    assert fake.readStream.path == "HDFS://nn:8020/corpus/events.parquet"
    assert "pathGlobFilter" not in fake.readStream.options

    # Uppercase file scheme over a real directory: directory branch.
    (tmp_path / "events.parquet").mkdir()
    fake = _FakeSparkForSource()
    stream_table_source(fake, f"FILE://{tmp_path}", "events", "ignored")
    assert fake.readStream.path == f"FILE://{tmp_path}/events.parquet"

    # Single-slash non-file URI: local by policy; the refusal tells
    # the caller the authority-form spelling.
    fake = _FakeSparkForSource()
    with _pytest.raises(FileNotFoundError, match=r"hdfs://"):
        stream_table_source(fake, "hdfs:/corpus", "events", "ignored")

    # Colon-segment local path whose table is a BARE FILE: glob branch
    # with an absolutized base, never the raw colon-segment string.
    colon_dir = tmp_path / "bare:sf1"
    colon_dir.mkdir()
    (colon_dir / "nation.parquet").write_bytes(b"PAR1")
    cwd = os.getcwd()
    os.chdir(tmp_path)
    try:
        fake = _FakeSparkForSource()
        stream_table_source(fake, "bare:sf1", "nation", "ignored")
        assert fake.readStream.path == str(colon_dir)
        assert fake.readStream.options["pathGlobFilter"] == "nation.parquet"
    finally:
        os.chdir(cwd)


def test_state_shuffle_partitions_parses_the_override_strictly(spark):
    key = "spark.myfitnesspaw.stateShufflePartitions"
    assert spark.conf.get(key, None) is None
    assert state_shuffle_partitions(spark) == max(4, spark.sparkContext.defaultParallelism // 4)
    try:
        spark.conf.set(key, "8")
        assert state_shuffle_partitions(spark) == 8
        for bad in ("0", "-1", "8x", "", " 8", "8.0"):
            spark.conf.set(key, bad)
            with pytest.raises(ValueError, match=key):
                state_shuffle_partitions(spark)
    finally:
        spark.conf.unset(key)


_CALLER_CONF = {
    "spark.sql.shuffle.partitions": "7",
    "spark.sql.session.timeZone": "America/New_York",
    "spark.myfitnesspaw.stateShufflePartitions": "3",
}


@pytest.fixture
def caller_conf(spark):
    """The shared session set the way another caller might have it:
    shuffle partitions and zone unlike the stream's, and the
    state-partition knob at 3.  Restored afterwards."""
    prior = {k: spark.conf.get(k, None) for k in _CALLER_CONF}
    try:
        for k, v in _CALLER_CONF.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in prior.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_streaming_rollup_never_changes_the_callers_conf(spark, sf_dir, duck, caller_conf):
    """A stream runs in its own child session: a second thread polling
    the caller's conf during a rollup sees only the caller's values,
    the rollup still renders UTC wall clocks (oracle match), and the
    caller's session is still the active one afterwards."""
    import threading

    from pyspark.sql import SparkSession

    from tests.conftest import assert_matches_oracle
    from myfitnesspaw_spark.plans.stream_queries import STREAMING_ROLLUP_ORACLE
    from myfitnesspaw_spark.streaming import streaming_hourly_rollup

    seen: set[tuple[str, str]] = set()
    done = threading.Event()

    def poll():
        while not done.is_set():
            seen.add(
                (
                    spark.conf.get("spark.sql.shuffle.partitions"),
                    spark.conf.get("spark.sql.session.timeZone"),
                )
            )

    poller = threading.Thread(target=poll)
    poller.start()
    try:
        out = streaming_hourly_rollup(spark, sf_dir)
        assert_matches_oracle(out, duck, STREAMING_ROLLUP_ORACLE)
    finally:
        done.set()
        poller.join(timeout=30)
    assert not poller.is_alive()
    assert seen == {("7", "America/New_York")}
    assert SparkSession.getActiveSession() is spark
    assert SparkSession.active().conf.get("spark.sql.session.timeZone") == "America/New_York"


@pytest.mark.parametrize(
    "name", ["streaming_cms_heavy_hitters", "streaming_hourly_rollup"]
)
def test_concurrent_runs_of_one_stream_keep_apart(spark, sf_dir, duck, name):
    """Two threads running the same streaming query on one session
    each drain into their own result: every run matches its oracle,
    and nothing is left in the shared ``global_temp`` database."""
    import sys
    import threading

    from myfitnesspaw_spark.plans import registry
    from tests.conftest import assert_matches_oracle

    query, oracle = registry.queries()[name], registry.oracle_sql()[name]
    trials = 3
    gate = threading.Barrier(2)
    results, errors = [], []

    def client():
        for _ in range(trials):
            try:
                gate.wait(timeout=120)
                results.append(query(spark, sf_dir))
            except Exception as exc:  # noqa: BLE001 - reported below
                errors.append(exc)

    threads = [threading.Thread(target=client) for _ in range(2)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=600)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert len(results) == 2 * trials
    for df in results:
        assert_matches_oracle(df, duck, oracle)
    assert _global_temp_views(spark) == []


def test_events_stream_state_partitions_follow_the_knob(spark, sf_dir, tmp_path, caller_conf):
    """A stateful query the caller starts from read_events_stream
    freezes the knob's state-partition count (3), not the caller's
    shuffle partitions (7)."""
    import os

    from myfitnesspaw_spark.streaming.rollup import read_events_stream

    ckpt = tmp_path / "ckpt"
    q = (
        read_events_stream(spark, sf_dir)
        .groupBy("event_type")
        .count()
        .writeStream.format("noop")
        .option("checkpointLocation", str(ckpt))
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    parts = [d for d in os.listdir(ckpt / "state" / "0") if d.isdigit()]
    assert sorted(parts) == ["0", "1", "2"]


def test_mfp_api_batch_read_leaves_the_stream_free_to_register(spark, duck):
    """The batch mfp_api read registers its source on a child session:
    registered on the caller (the active session), it would make the
    stream's child registration fail with DATA_SOURCE_ALREADY_EXISTS."""
    from tests.conftest import assert_matches_oracle
    from myfitnesspaw_spark.plans import etl_flow as ef

    batch = ef.mfp_api_datasource(spark, "unused")
    assert_matches_oracle(batch, duck, ef.MFP_API_DS_ORACLE)
    stream = ef.mfp_api_stream_rollup(spark, "unused")
    assert_matches_oracle(stream, duck, ef.MFP_API_STREAM_ORACLE)
