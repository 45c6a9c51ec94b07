"""Warehouse sink tests: idempotent DDL, partitioned writes with
pruning, and the bucketed-join no-shuffle guarantee."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from myfitnesspaw_spark.sinks import init_warehouse, write_bucketed, write_silver
from myfitnesspaw_spark.sources import load_table


@pytest.fixture(scope="module")
def wh(spark, tmp_path_factory):
    loc = str(tmp_path_factory.mktemp("wh"))
    spark.sql("DROP DATABASE IF EXISTS mfp_test CASCADE")
    init_warehouse(spark, "mfp_test", loc)
    yield "mfp_test"
    spark.sql("DROP DATABASE IF EXISTS mfp_test CASCADE")


def test_init_idempotent(spark, wh, tmp_path):
    init_warehouse(spark, wh, str(tmp_path))  # second run must not fail
    tables = {r.tableName for r in spark.sql(f"SHOW TABLES IN {wh}").collect()}
    assert {"meals", "raw_day_data", "measurements"} <= tables


def test_partitioned_write_prunes(spark, wh, sf_dir):
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey"), F.col("o_custkey"),
        F.year(F.col("o_orderdate")).alias("yr"),
    )
    write_silver(orders, f"{wh}.orders_part", partition_cols=["yr"], mode="overwrite")
    read = spark.table(f"{wh}.orders_part").where(F.col("yr") == 1995)
    expected = orders.where(F.col("yr") == 1995).count()
    assert read.count() == expected
    # The year predicate must prune partitions at planning time, not
    # filter rows at runtime.
    plan = read._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(yr" in plan


def test_bucketed_join_has_no_shuffle(spark, wh, sf_dir):
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity"
    ).withColumnRenamed("l_orderkey", "o_orderkey")
    write_bucketed(orders, f"{wh}.orders_b", ["o_orderkey"], num_buckets=4)
    write_bucketed(li, f"{wh}.lineitem_b", ["o_orderkey"], num_buckets=4)

    joined = spark.table(f"{wh}.orders_b").join(
        spark.table(f"{wh}.lineitem_b").hint("merge"), "o_orderkey"
    )
    assert joined.count() == li.count()
    plan = joined._jdf.queryExecution().executedPlan().toString()
    # Co-located buckets: the sort-merge join must run WITHOUT any
    # exchange — that is the entire point of bucketing a fact-fact
    # join at scale.
    assert "SortMergeJoin" in plan
    assert "Exchange hashpartitioning" not in plan


def test_jsonlog_custom_sink_roundtrip(spark, tmp_path):
    # Custom Python DataSource WRITER: partition-parallel write, driver
    # two-phase commit, _SUCCESS manifest, clean read-back.
    import json
    import os

    import pyspark.sql.functions as F

    from myfitnesspaw_spark.sinks.jsonlog_datasource import register

    register(spark)
    out = str(tmp_path / "jsonlog_out")
    df = spark.range(100).select(
        F.col("id"),
        (F.col("id") % 7).alias("grp"),
        F.date_add(F.lit("2024-01-01").cast("date"), F.col("id").cast("int")).alias("d"),
    ).repartition(4)
    df.write.format("jsonlog").mode("overwrite").save(out)

    files = sorted(os.listdir(out))
    assert "_SUCCESS" in files
    assert not any(f.endswith(".tmp") for f in files)  # temps all published
    manifest = json.load(open(os.path.join(out, "_SUCCESS")))
    assert manifest == {"n_rows": 100, "n_files": 4}

    back = spark.read.schema("id long, grp long, d date").json(
        os.path.join(out, "part-*.jsonl")
    )
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))

    # Overwrite mode replaces prior output completely.
    df.limit(10).repartition(1).write.format("jsonlog").mode("overwrite").save(out)
    manifest2 = json.load(open(os.path.join(out, "_SUCCESS")))
    assert manifest2 == {"n_rows": 10, "n_files": 1}


def test_jsonlog_append_does_not_clobber(spark, tmp_path):
    # Two append jobs must coexist: job-unique tokens in the published
    # names mean the second job can never overwrite the first job's
    # part files (ADVICE r4 medium: indexed names + delete-on-conflict
    # silently lost the first append's data).
    import json
    import os

    from myfitnesspaw_spark.sinks.jsonlog_datasource import register

    register(spark)
    out = str(tmp_path / "jsonlog_append")
    spark.range(0, 30).repartition(2).write.format("jsonlog").mode("append").save(out)
    spark.range(30, 50).repartition(2).write.format("jsonlog").mode("append").save(out)

    parts = [f for f in os.listdir(out) if f.startswith("part-") and f.endswith(".jsonl")]
    assert len(parts) == 4, parts  # 2 jobs x 2 partitions, none clobbered
    manifest = json.load(open(os.path.join(out, "_SUCCESS")))
    assert manifest == {"n_rows": 50, "n_files": 4}
    back = spark.read.schema("id long").json(os.path.join(out, "part-*.jsonl"))
    assert sorted(r.id for r in back.collect()) == list(range(50))


def test_jsonlog_stream_sink_per_batch_commit(spark, tmp_path):
    # Streaming writer: per-micro-batch two-phase commit, batch id in
    # every published name (idempotent checkpoint replay), no temps.
    import json
    import os

    import pyspark.sql.functions as F

    from myfitnesspaw_spark.sinks.jsonlog_datasource import register

    register(spark)
    src = str(tmp_path / "stream_src")
    out = str(tmp_path / "stream_out")
    ckpt = str(tmp_path / "stream_ckpt")
    spark.range(20).select(
        F.col("id"), (F.col("id") * 10).alias("v")
    ).coalesce(2).write.parquet(src)

    q = (
        spark.readStream.schema("id long, v long")
        .parquet(src)
        .writeStream.format("jsonlog")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    files = sorted(os.listdir(out))
    assert not any(f.endswith(".tmp") for f in files)
    manifests = [f for f in files if f.endswith(".manifest")]
    assert manifests, files
    total = sum(
        json.load(open(os.path.join(out, m)))["n_rows"] for m in manifests
    )
    assert total == 20
    back = spark.read.schema("id long, v long").json(os.path.join(out, "batch-*.jsonl"))
    assert back.count() == 20
    assert {r["id"] * 10 == r["v"] for r in back.collect()} == {True}


def test_jsonlog_stream_replay_is_exactly_once(spark, tmp_path):
    # Abort/replay contract: a batch whose commit marker is missing
    # from the checkpoint (crash between sink commit and checkpoint
    # commit) is re-executed on restart; the sink must converge to
    # exactly one copy of that batch — including sweeping stale part
    # files from a prior attempt that produced MORE partitions.
    import json
    import os

    import pyspark.sql.functions as F

    from myfitnesspaw_spark.sinks.jsonlog_datasource import register

    register(spark)
    src = str(tmp_path / "replay_src")
    out = str(tmp_path / "replay_out")
    ckpt = str(tmp_path / "replay_ckpt")
    df = spark.range(20).select(F.col("id"), (F.col("id") * 10).alias("v"))
    df.where("id < 10").coalesce(1).write.parquet(src)
    df.where("id >= 10").coalesce(1).write.mode("append").parquet(src)

    def run_stream():
        q = (
            spark.readStream.schema("id long, v long")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.format("jsonlog")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_stream()
    commits = sorted(
        f for f in os.listdir(os.path.join(ckpt, "commits")) if not f.startswith(".")
    )
    assert len(commits) >= 2, commits  # maxFilesPerTrigger=1 → >=2 batches
    last = commits[-1]

    # Simulate the crash window: sink committed batch N (files are on
    # disk) but the checkpoint commit marker was never written, and an
    # earlier attempt left an extra orphan part for that batch.
    os.remove(os.path.join(ckpt, "commits", last))
    crc = os.path.join(ckpt, "commits", f".{last}.crc")
    if os.path.exists(crc):  # local-FS checksum shadow of the marker
        os.remove(crc)
    orphan = os.path.join(out, f"batch-{int(last)}-part-00099.jsonl")
    with open(orphan, "w") as fh:
        fh.write(json.dumps({"id": 999, "v": 9990}) + "\n")

    run_stream()  # replays exactly batch N

    assert not os.path.exists(orphan)  # stale attempt swept
    back = spark.read.schema("id long, v long").json(os.path.join(out, "batch-*.jsonl"))
    assert sorted(r.id for r in back.collect()) == list(range(20))  # no dupes
    manifests = [f for f in os.listdir(out) if f.endswith(".manifest")]
    assert len(manifests) == len(commits)  # one manifest per batch, ever


def test_training_shards_roundtrip_and_verify(spark, sf_dir, tmp_path):
    """write_training_shards: deterministic membership, manifest
    totals, and the read-back verifier all agree; a tampered shard is
    caught."""
    import json
    import os

    import pyspark.sql.functions as F

    from myfitnesspaw_spark.sinks.shards import (
        MANIFEST_NAME,
        verify_training_shards,
        write_training_shards,
    )
    from myfitnesspaw_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    path = str(tmp_path / "shards")
    manifest = write_training_shards(
        docs, path, key_cols=["doc_id"], token_col="n_chars",
        target_rows_per_shard=20,
    )
    n = docs.count()
    assert manifest["n_rows"] == n
    assert manifest["n_shards"] == (n + 19) // 20
    assert sum(s["rows"] for s in manifest["shards"].values()) == n
    assert sum(s["tokens"] for s in manifest["shards"].values()) == (
        docs.agg(F.sum("n_chars")).collect()[0][0]
    )
    # Deterministic membership: a second write produces the identical
    # manifest (same shard ids, counts, digests).
    path2 = str(tmp_path / "shards2")
    manifest2 = write_training_shards(
        docs, path2, key_cols=["doc_id"], token_col="n_chars",
        target_rows_per_shard=20,
    )
    assert manifest2["shards"] == manifest["shards"]
    # Verifier passes on intact data...
    assert verify_training_shards(spark, path)["ok"]
    # ...and catches a tampered manifest entry.
    bad = dict(manifest)
    first = next(iter(bad["shards"]))
    bad["shards"][first] = {**bad["shards"][first], "rows": 10**9}
    with open(os.path.join(path, MANIFEST_NAME), "w") as fh:
        json.dump(bad, fh)
    res = verify_training_shards(spark, path)
    assert not res["ok"] and res["mismatches"]


def test_pack_then_shard_composition(spark, sf_dir, tmp_path):
    """The data-loader handoff end to end: sequence_packing's training
    contexts land as deterministic shards whose manifest token totals
    equal the packer's output."""
    import pyspark.sql.functions as F

    from myfitnesspaw_spark.plans.curation_queries import sequence_packing
    from myfitnesspaw_spark.sinks.shards import (
        verify_training_shards,
        write_training_shards,
    )

    packs = sequence_packing(spark, sf_dir)
    path = str(tmp_path / "pack_shards")
    manifest = write_training_shards(
        packs, path, key_cols=["source", "pack_id"], token_col="pack_tokens",
        target_rows_per_shard=50,
    )
    total_tokens = packs.agg(F.sum("pack_tokens")).collect()[0][0]
    assert sum(s["tokens"] for s in manifest["shards"].values()) == total_tokens
    assert manifest["n_rows"] == packs.count()
    assert verify_training_shards(spark, path)["ok"]


def test_training_shards_manifest_describes_written_rows(spark, sf_dir, tmp_path):
    """ADVICE r5: a NONDETERMINISTIC input plan (here a no-seed sample,
    whose membership changes on every execution) must still produce a
    manifest that verifies against the written files — the stats must
    come from the parquet on disk, not from re-running the lineage."""
    from myfitnesspaw_spark.sinks.shards import (
        verify_training_shards,
        write_training_shards,
    )
    from myfitnesspaw_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    # No seed: each job execution draws a different row subset.
    flaky = docs.sample(0.5)
    path = str(tmp_path / "shards_nondet")
    manifest = write_training_shards(
        flaky, path, key_cols=["doc_id"], token_col="n_chars",
        target_rows_per_shard=20,
    )
    # The integrity gate must hold: every count/digest in the manifest
    # matches the rows actually written.
    assert verify_training_shards(spark, path)["ok"]
    back = spark.read.parquet(path)
    assert manifest["n_rows"] == back.count()
    assert sum(s["rows"] for s in manifest["shards"].values()) == manifest["n_rows"]


def test_jsonlog_concurrent_append_counts_both_jobs(tmp_path):
    """ADVICE/VERDICT r5: two commits racing on the same directory must
    both land in the totals.  The old code read-modify-wrote one shared
    _SUCCESS (last writer erased the other job's counts); per-job
    manifests have no shared mutable state, so the derived _SUCCESS
    counts both jobs no matter the interleaving."""
    import json
    import os
    import threading

    from myfitnesspaw_spark.sinks.jsonlog_datasource import (
        JsonLogCommit,
        JsonLogWriter,
    )

    out = str(tmp_path / "race")
    os.makedirs(out)

    def run_job(n_rows: int, results: list) -> None:
        w = JsonLogWriter({"path": out}, overwrite=False)
        tmp = os.path.join(out, f".part-race-{w.job_token}.jsonl.tmp")
        with open(tmp, "w") as fh:
            for i in range(n_rows):
                fh.write(json.dumps({"id": i}) + "\n")
        barrier.wait()  # maximize commit overlap
        w.commit([JsonLogCommit(tmp, n_rows)])
        results.append(n_rows)

    barrier = threading.Barrier(2)
    results: list = []
    threads = [
        threading.Thread(target=run_job, args=(30, results)),
        threading.Thread(target=run_job, args=(20, results)),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    manifest = json.load(open(os.path.join(out, "_SUCCESS")))
    assert manifest == {"n_rows": 50, "n_files": 2}
    jobs = [f for f in os.listdir(out) if f.startswith("_job-")]
    assert len(jobs) == 2
    assert not [f for f in os.listdir(out) if f.endswith(".tmp")]


def test_jsonlog_stale_success_lock_is_broken(tmp_path):
    """A writer killed mid-stamp leaves ._success.lock behind; a later
    commit must break a lock older than the wait deadline instead of
    spinning the full 10 s and stamping unserialized (ADVICE r6)."""
    import json
    import os
    import time

    from myfitnesspaw_spark.sinks.jsonlog_datasource import _stamp_success

    d = str(tmp_path / "stale_lock_dir")
    os.makedirs(d)
    with open(os.path.join(d, "_job-dead.manifest"), "w") as fh:
        json.dump({"n_rows": 5, "n_files": 1}, fh)
    lock = os.path.join(d, "._success.lock")
    open(lock, "w").close()
    old = time.time() - 60
    os.utime(lock, (old, old))

    t0 = time.time()
    _stamp_success(d)
    elapsed = time.time() - t0

    assert elapsed < 5.0  # broke the stale lock, did not spin the deadline
    assert not os.path.exists(lock)
    with open(os.path.join(d, "_SUCCESS")) as fh:
        assert json.load(fh) == {"n_rows": 5, "n_files": 1}


def test_backup_flow_fifo_rotation(tmp_path):
    """S5/K6/R6: upload datestamped copies through the BackupStore
    protocol, list, FIFO-rotate to the newest 5 — the reference's
    backup flow (flows.py:167-189) against the filesystem store."""
    import datetime

    from myfitnesspaw_spark.sinks.backup import (
        LocalDirBackupStore,
        run_backup_flow,
        select_fifo_backups_to_delete,
    )

    src = tmp_path / "warehouse.db"
    store = LocalDirBackupStore(str(tmp_path / "backups"))

    # Seven daily runs: after each, at most 5 backups remain.
    for day in range(1, 8):
        src.write_bytes(f"day-{day}".encode())
        res = run_backup_flow(
            store, str(src), keep=5, now=datetime.date(2026, 8, day)
        )
        assert res["uploaded"] == f"mfp_db_backup_2026-08-{day:02d}"
    names = store.list_files()
    assert names == [f"mfp_db_backup_2026-08-{d:02d}" for d in range(3, 8)]
    # Newest backup carries the newest content; oldest kept is day 3.
    assert (tmp_path / "backups" / "mfp_db_backup_2026-08-07").read_bytes() == b"day-7"

    # Same-day re-run overwrites (WriteMode.overwrite semantics).
    src.write_bytes(b"day-7-amended")
    run_backup_flow(store, str(src), keep=5, now=datetime.date(2026, 8, 7))
    assert len(store.list_files()) == 5
    assert (tmp_path / "backups" / "mfp_db_backup_2026-08-07").read_bytes() == b"day-7-amended"

    # Reference-exact selection arithmetic: under-cap lists delete none.
    assert select_fifo_backups_to_delete(5, names[:4]) == []
    assert select_fifo_backups_to_delete(2, names) == names[:3]


def test_backup_rotation_ignores_stray_files(tmp_path):
    """A stray non-backup file in the backup dir must neither crash
    the FIFO selection nor ever be selected for deletion."""
    import datetime

    from myfitnesspaw_spark.sinks.backup import (
        LocalDirBackupStore,
        run_backup_flow,
        select_fifo_backups_to_delete,
    )

    store = LocalDirBackupStore(str(tmp_path / "backups"))
    (tmp_path / "backups" / "README.txt").write_bytes(b"not a backup")
    (tmp_path / "backups" / "mfp_db_backup_notadate").write_bytes(b"junk")
    src = tmp_path / "db"
    for day in range(1, 8):
        src.write_bytes(b"x")
        run_backup_flow(store, str(src), keep=5, now=datetime.date(2026, 8, day))
    names = store.list_files()
    assert "README.txt" in names and "mfp_db_backup_notadate" in names
    assert sum(1 for n in names if n.startswith("mfp_db_backup_2026")) == 5
    assert select_fifo_backups_to_delete(5, ["README.txt"]) == []


def test_backup_rotation_returns_listed_names_only():
    """Suffixed backup-like names must not crash or corrupt rotation:
    selection returns LISTED names only (code-review r7 finding — the
    reconstructed-name form returned a non-existent file, and a
    suffixed twin could get a plain-named backup deleted twice)."""
    from myfitnesspaw_spark.sinks.backup import select_fifo_backups_to_delete

    files = [
        "mfp_db_backup_2026-08-01_manual",  # suffixed: ignored
        "mfp_db_backup_2026-08-02",
        "mfp_db_backup_2026-08-03",
        "mfp_db_backup_2026-08-04",
    ]
    # Only the 3 strictly-named backups count; cap 2 deletes the oldest.
    out = select_fifo_backups_to_delete(2, files)
    assert out == ["mfp_db_backup_2026-08-02"]
    # Every returned name was in the input list verbatim.
    assert all(n in files for n in out)


def test_fifo_rotation_plan_matches_sink_selection(spark):
    """The distributed R6 selection (plans/maintenance_queries.py::
    fifo_rotation_deletions) must pick EXACTLY the names the sink's
    Python selection (sinks/backup.py) picks on the same listing —
    one semantics, two execution shapes.  The manifest mixes valid
    datestamps, strays, a malformed month, and a well-shaped but
    impossible date (2024-02-30) that both sides must ignore."""
    import random

    from myfitnesspaw_spark.plans.maintenance_queries import fifo_rotation_deletions
    from myfitnesspaw_spark.sinks.backup import (
        BACKUP_PREFIX,
        select_fifo_backups_to_delete,
    )

    rng = random.Random(88)
    names = [
        f"{BACKUP_PREFIX}_2024-{m:02d}-{d:02d}"
        for m, d in {(rng.randint(1, 12), rng.randint(1, 28)) for _ in range(40)}
    ] + [
        "notes.txt",
        f"{BACKUP_PREFIX}_latest",
        f"{BACKUP_PREFIX}_2024-02-30",  # impossible date: strptime AND try_to_date reject
        f"{BACKUP_PREFIX}_2024-13-01",  # malformed month
        f"{BACKUP_PREFIX}_2024-03-05.bak",  # suffixed variant
    ]
    rng.shuffle(names)

    for keep in (0, 3, 5, len(names) + 5):
        expected = sorted(select_fifo_backups_to_delete(keep, names))
        manifest = spark.createDataFrame(
            [(1, n) for n in names], "store_id long, filename string"
        )
        got = sorted(
            r["filename"]
            for r in fifo_rotation_deletions(
                manifest, keep, rf"^{BACKUP_PREFIX}_(\d{{4}}-\d{{2}}-\d{{2}})$"
            ).collect()
        )
        assert got == expected, (keep, got, expected)


def test_store_path_gc_handles_pid_reuse(tmp_path, caplog):
    """ADVICE r11: dir ownership is (pid, start-ticks), not pid alone.
    A dead pid's dir is swept in both layouts; a LIVE pid whose
    recorded start ticks mismatch (container PID reuse) is swept too;
    the true owner's dir survives.  Every removal is logged with the
    arm that decided it (VERDICT r13 #7)."""
    import logging
    import os
    import subprocess
    import time

    from myfitnesspaw_spark.sinks.warehouse import _proc_start_ticks, store_path

    root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "spark-warehouse",
        "_index_store",
    )
    os.makedirs(root, exist_ok=True)

    from myfitnesspaw_spark.sinks.warehouse import _STORE_TTL_SECONDS

    dead = subprocess.Popen(["true"])
    dead.wait()
    live = subprocess.Popen(["sleep", "30"])
    dirs = {}
    try:
        live_ticks = _proc_start_ticks(live.pid)
        assert live_ticks > 0  # /proc available on the test platform
        my_pid = os.getpid()
        dirs = {
            "dead_old": os.path.join(root, f"gcprobe_sf0.001_{dead.pid}"),
            "dead_new": os.path.join(root, f"gcprobe_sf0.001_{dead.pid}_12345"),
            "reused": os.path.join(
                root, f"gcprobe_sf0.001_{live.pid}_{live_ticks + 7}"
            ),
            "owner": os.path.join(
                root, f"gcprobe_sf0.001_{live.pid}_{live_ticks}"
            ),
            # ADVICE r12: a dir embedding OUR pid but foreign ticks is a
            # dead predecessor whose pid was recycled into us — sweep it
            # (both layouts).
            "self_reused": os.path.join(root, f"gcprobe_sf0.001_{my_pid}_1"),
            "self_bare": os.path.join(root, f"gcprobe_sf0.001_{my_pid}"),
            # Age backstop: bare-pid dir of a LIVE pid is unknowable by
            # liveness; swept only once older than the TTL.
            "bare_live_old": os.path.join(root, f"gcprobe2_sf0.001_{live.pid}"),
            "bare_live_fresh": os.path.join(root, f"gcprobe3_sf0.001_{live.pid}"),
            # ...but a POSITIVELY live owner (pid alive, ticks match)
            # keeps its store however old — the TTL only decides
            # unknowable dirs.
            "owner_old": os.path.join(
                root, f"gcprobe4_sf0.001_{live.pid}_{live_ticks}"
            ),
        }
        for d in dirs.values():
            os.makedirs(d, exist_ok=True)
        old = time.time() - _STORE_TTL_SECONDS - 60
        os.utime(dirs["bare_live_old"], (old, old))
        os.utime(dirs["owner_old"], (old, old))

        with caplog.at_level(
            logging.INFO, logger="myfitnesspaw_spark.sinks.warehouse"
        ):
            mine = store_path("gcprobe", "/x/sf0.001")  # triggers the GC sweep
        assert mine.endswith(f"_{my_pid}_{_proc_start_ticks(my_pid)}")

        # Telemetry: each removal names the entry and the deciding arm,
        # so a TTL-backstop deletion is diagnosable from logs.
        removed = {
            m.split()[3]: m.split()[4].strip("()")
            for m in caplog.messages
            if m.startswith("store GC removed")
        }
        assert removed[os.path.basename(dirs["dead_old"])] == "dead-owner"
        assert removed[os.path.basename(dirs["reused"])] == "dead-owner"
        assert (
            removed[os.path.basename(dirs["bare_live_old"])] == "ttl-backstop"
        )
        assert os.path.basename(dirs["owner"]) not in removed
        assert os.path.basename(dirs["bare_live_fresh"]) not in removed

        assert not os.path.exists(dirs["dead_old"])
        assert not os.path.exists(dirs["dead_new"])
        assert not os.path.exists(dirs["reused"])  # live pid, wrong ticks
        assert not os.path.exists(dirs["self_reused"])  # our pid, wrong ticks
        assert not os.path.exists(dirs["self_bare"])  # our pid, bare layout
        assert not os.path.exists(dirs["bare_live_old"])  # over-TTL backstop
        assert os.path.exists(dirs["bare_live_fresh"])  # live + fresh: kept
        assert os.path.exists(dirs["owner"])  # live pid, right ticks
        assert os.path.exists(dirs["owner_old"])  # live owner: TTL-exempt
    finally:
        live.kill()
        live.wait()
        import shutil

        # Remove EVERY probe dir (ADVICE r12: a mid-test failure must
        # not leave litter in the repo's real _index_store).
        for d in dirs.values():
            shutil.rmtree(d, True)


def test_index_store_coalesces_files(spark, tmp_path):
    """write_index_store coalesces output files: the rebalance hint
    inserts an AQE-sized exchange, so the file count no longer tracks
    the upstream partitioning (which in local mode tracks the core
    count)."""
    import glob
    import os

    from myfitnesspaw_spark.sinks.warehouse import write_index_store

    df = spark.range(0, 10_000, 1, 16).withColumn("v", F.col("id") * 2)

    rb = str(tmp_path / "rb")
    write_index_store(df, rb)
    n_rb = len(glob.glob(os.path.join(rb, "part-*")))
    assert n_rb < 16  # file count no longer tracks upstream width

    back = spark.read.schema("id long, v long").parquet(rb)
    assert back.count() == 10_000


def test_bucketed_index_store_layout_for_the_reader(spark, tmp_path):
    """write_bucketed_index_store returns a scan whose bucket
    partitioning feeds doc-keyed consumers with NO exchange (r21,
    VERDICT r20 #3 / guide §6 layout-for-the-reader), and holds every
    row written."""
    import glob
    import os

    from myfitnesspaw_spark.sinks.warehouse import write_bucketed_index_store

    df = spark.range(0, 10_000, 1, 16).withColumn(
        "doc_id", F.col("id") % 500
    ).select("doc_id", F.col("id").alias("v"))

    path = str(tmp_path / "bucketed")
    back = write_bucketed_index_store(df, path, "doc_id", buckets=4)
    # one file per bucket: the pre-write repartition prevents the
    # (upstream partitions x buckets) small-file fan-out
    assert len(glob.glob(os.path.join(path, "part-*"))) == 4
    assert back.count() == 10_000

    # a doc_id aggregation over the bucketed scan needs no Exchange
    agg_plan = (
        back.groupBy("doc_id").count()._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in agg_plan


def test_bucketed_index_store_paths_never_share_a_table(spark, tmp_path):
    """Paths whose basenames sanitize alike (sf0.1, sf0_1) get distinct
    catalog tables: each store reads back its own rows, from the frame
    returned by the write and from a fresh catalog lookup."""
    from myfitnesspaw_spark.sinks.warehouse import write_bucketed_index_store

    def store(lo, hi, name):
        df = spark.range(lo, hi).select((F.col("id") % 7).alias("doc_id"), F.col("id").alias("v"))
        return write_bucketed_index_store(df, str(tmp_path / name), "doc_id", buckets=2)

    a = store(0, 100, "sf0.1")
    b = store(1000, 1050, "sf0_1")
    assert sorted(r.v for r in a.collect()) == list(range(100))
    assert sorted(r.v for r in b.collect()) == list(range(1000, 1050))
    names = [t.name for t in spark.catalog.listTables() if t.name.startswith("sf0_1_")]
    try:
        assert sorted(spark.table(n).count() for n in names) == [50, 100]
    finally:
        for n in names:
            spark.sql(f"DROP TABLE IF EXISTS {n}")


def test_materialize_instance_sized_reliable_knob(spark, tmp_path):
    """materialize_instance_sized defaults to localCheckpoint and
    routes to a RELIABLE checkpoint dir when the posture knob is set
    (r21, VERDICT r20 #5): same rows either way; the reliable branch
    writes recovery files under the configured dir instead of pinning
    executor-local blocks.  A second, different configured dir warns,
    and the session cleans checkpoint files up."""
    import os
    import warnings

    from myfitnesspaw_spark.checkpoints import materialize_instance_sized

    df = spark.range(0, 1000).withColumn("v", F.col("id") * 3)

    local = materialize_instance_sized(df)
    assert local.count() == 1000
    assert "ExistingRDD" in local._jdf.queryExecution().executedPlan().toString()

    ckdir = str(tmp_path / "reliable_ck")
    spark.conf.set("spark.myfitnesspaw.checkpoint.dir", ckdir)
    try:
        reliable = materialize_instance_sized(df)
        assert reliable.count() == 1000
        assert sorted(r.v for r in reliable.collect()) == sorted(
            r.v for r in local.collect()
        )
        # recovery files actually landed under the configured dir
        found = [f for _, _, fs in os.walk(ckdir) for f in fs]
        assert found, "reliable checkpoint wrote no files"

        # the same dir again is silent ...
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            assert materialize_instance_sized(df).count() == 1000
        assert not [w for w in caught if "checkpoint dir" in str(w.message)]
        # ... a different one warns and keeps the context's dir
        other = str(tmp_path / "other_ck")
        spark.conf.set("spark.myfitnesspaw.checkpoint.dir", other)
        with pytest.warns(UserWarning, match="other_ck"):
            assert materialize_instance_sized(df).count() == 1000
        assert not os.path.exists(other)
    finally:
        spark.conf.unset("spark.myfitnesspaw.checkpoint.dir")
    # get_spark turns on cleanup of reliable-checkpoint files
    assert spark.conf.get("spark.cleaner.referenceTracking.cleanCheckpoints") == "true"
