"""The three workloads.  Each one calls only the package's public
functions, wraps every layer call in a span, and knows how to check
its own outputs against ``oracles``.

A workload's life: ``generate`` + ``prepare`` (timed together as
set-up), ``warmup``, ``expect`` (untimed oracle work), then ``op``
repeatedly, then ``verify``.
"""

from __future__ import annotations

import os
from datetime import date, timedelta

from pyspark.sql import functions as F

import gen
import oracles
from tracing import Tracer

from myfitnesspaw_spark.operators import date_spine, diff_new_or_changed, replace_by_keys
from myfitnesspaw_spark.operators.dedup import (
    connected_components,
    minhash_band_candidates,
    minhash_lsh_pairs,
    minhash_signatures,
)
from myfitnesspaw_spark.operators.normalize import deserialize_struct, flatten_with_parent
from myfitnesspaw_spark.plans.nutrition import nutrition_report
from myfitnesspaw_spark.plans.progress import progress_report
from myfitnesspaw_spark.plans.text_queries import JACCARD_THRESHOLD, MH_BAND_ROWS, MH_HASHES
from myfitnesspaw_spark.report.chart import render_progress_bar_png
from myfitnesspaw_spark.report.progress import ProgressReport, render_html_jinja
from myfitnesspaw_spark.sinks.warehouse import write_silver
from myfitnesspaw_spark.sources import load_table, scatter, sf_is_small
from myfitnesspaw_spark.sources.mfp_source import DAY_SCHEMA, fetch_days, serialize_days


def dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, ignoring hidden/marker files."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


class Workload:
    name = ""
    #: Client threads in the closed loop (each waits for its reply).
    clients = 1

    def __init__(self, seed: int, tracer: Tracer):
        self.seed = seed
        self.tr = tracer

    def generate(self, root: str) -> None:
        raise NotImplementedError

    def prepare(self, spark) -> None:
        pass

    def warmup(self, spark) -> None:
        self.op(spark, -1)

    def expect(self) -> None:
        """Compute what ``verify`` needs before the measured window."""

    def op(self, spark, i: int):
        raise NotImplementedError

    def verify(self, spark, results: list) -> tuple[int, int]:
        """(attempted, failed) after the measured window; ``results`` are
        the ``run.OpResult`` of every measured operation."""
        raise NotImplementedError

    def user_metrics(self, spark) -> dict:
        """Extra end-to-end figures this workload prints (untimed)."""
        return {}


# --- etl_incremental ------------------------------------------------------------

_PAYLOAD = "struct<meals:{},exercises:{},water:bigint>".format(
    DAY_SCHEMA["meals"].dataType.simpleString(), DAY_SCHEMA["exercises"].dataType.simpleString()
)
_KEYS = ["user_id", "date"]


class EtlIncremental(Workload):
    """Backfill, then daily increments: re-scrape a 7-day window, CDC
    diff against stored bronze, normalize, and rewrite only the touched
    date partitions of each silver table."""

    name = "etl_incremental"
    db = "mfp_bench"

    def generate(self, root: str) -> None:
        self.users_path = os.path.join(root, "inputs", "users.parquet")
        gen.etl_users(self.seed, self.users_path)
        self.increments = 0

    def _silver(self, days) -> dict:
        """bronze rows -> the four tables (pure projections; lazy)."""
        parsed = deserialize_struct(days, "rawdaydata", _PAYLOAD, _KEYS)
        meals = flatten_with_parent(parsed, _KEYS, "meals", "meal")
        return {
            "raw_day_data": days,
            "meals": meals.select(*_KEYS, "meal.name", "meal.calories"),
            "meal_entries": flatten_with_parent(
                meals.select(*_KEYS, F.col("meal.name").alias("meal_name"), "meal.entries"),
                [*_KEYS, "meal_name"],
                "entries",
                "e",
            ).select(*_KEYS, "meal_name", "e.short_name", "e.quantity"),
            "exercises": flatten_with_parent(parsed, _KEYS, "exercises", "x").select(
                *_KEYS, F.col("x.name").alias("kind"), "x.name", "x.minutes"
            ),
        }

    def _fetch(self, spark, lo: date, hi: date, increment: int):
        users = spark.read.parquet(self.users_path)
        requests = users.crossJoin(date_spine(spark, lo.isoformat(), hi.isoformat()))
        client = gen.EditingClient(self.seed, increment, first_new_day=hi)
        return fetch_days(
            requests, fetch_partitions=spark.sparkContext.defaultParallelism, client=client
        )

    def prepare(self, spark) -> None:
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {self.db}")
        lo, hi = gen.ETL_BACKFILL_FROM, gen.etl_backfill_to()
        bronze = serialize_days(self._fetch(spark, lo, hi, 0)).localCheckpoint()
        for table, df in self._silver(bronze).items():
            write_silver(df, f"{self.db}.{table}", ("date",), "append")

    def op(self, spark, i: int):
        tr = self.tr
        k = self.increments + 1
        new_day = gen.etl_backfill_to() + timedelta(days=k)
        lo = new_day - timedelta(days=gen.ETL_WINDOW_DAYS - 1)
        with tr.span(spark, "sources.fetch") as s:
            fetched = tr.materialize(self._fetch(spark, lo, new_day, k), s, "rows")
        with tr.span(spark, "incremental.diff") as s:
            stored = spark.table(f"{self.db}.raw_day_data").where(
                F.col("date").between(F.lit(lo), F.lit(new_day))
            )
            if s is not None:
                s.counts["stored_rows"] = stored.count()
            diff = diff_new_or_changed(
                serialize_days(fetched), stored, ["user_id", "date", "rawdaydata"]
            ).localCheckpoint()
            touched = sorted(r[0] for r in diff.select("date").distinct().collect())
            if s is not None:
                s.counts["diff_rows"] = diff.count()
        self.increments = k  # the warehouse now changes; the oracle follows
        for table, incoming in self._silver(diff).items():
            name = f"{self.db}.{table}"
            with tr.span(spark, "normalize") as s:
                incoming = tr.materialize(incoming, s, "rows")
            with tr.span(spark, "incremental.replace") as s:
                existing = spark.table(name).where(F.col("date").isin(touched))
                merged = replace_by_keys(existing, incoming, _KEYS).localCheckpoint()
                if s is not None:
                    s.counts["rows"] = merged.count()
                    s.counts["untouched_rows"] = s.counts["rows"] - incoming.count()
            with tr.span(spark, "sinks.write") as s:
                parts = ", ".join(f"PARTITION (date='{d}')" for d in touched)
                spark.sql(f"ALTER TABLE {name} DROP IF EXISTS {parts}")
                write_silver(merged, name, ("date",), "append")
                if s is not None:
                    loc = self._location(spark, name)
                    files = size = 0
                    for d in touched:
                        f, b = dir_stats(os.path.join(loc, f"date={d}"))
                        files, size = files + f, size + b
                    s.counts.update(files=files, bytes=size)
        tr.release()

    def _location(self, spark, table: str) -> str:
        loc = spark.sql(f"DESCRIBE TABLE EXTENDED {table}").where("col_name = 'Location'")
        return loc.collect()[0][1].removeprefix("file:")

    def _table_rows(self, spark, table: str) -> list:
        df = spark.table(f"{self.db}.{table}")
        if table == "raw_day_data":
            df = df.withColumn("water", F.get_json_object("rawdaydata", "$.water").cast("long"))
        return df.select(*oracles.ETL_CHECK_COLUMNS[table]).collect()

    def verify(self, spark, results: list) -> tuple[int, int]:
        expected = oracles.etl_expected(self.users_path, self.seed, self.increments)
        failed = sum(1 for r in results if r.error)
        for table, exp in expected.items():
            if oracles.digest(self._table_rows(spark, table)) != exp:
                print(f"check failed: {self.name} {table} does not match the oracle", flush=True)
                failed += 1
        return len(results) + len(expected), failed

    def user_metrics(self, spark) -> dict:
        """Warehouse bytes on disk per byte of accepted bronze JSON."""
        json_bytes = (
            spark.table(f"{self.db}.raw_day_data")
            .select(F.sum(F.length("rawdaydata")))
            .collect()[0][0]
        )
        on_disk = dir_stats(os.path.dirname(self._location(spark, f"{self.db}.raw_day_data")))[1]
        return {"etl_bytes_per_user_byte": (on_disk / json_bytes, "ratio")}


# --- report_mix -------------------------------------------------------------------

END_GOAL = 1_000_000


class ReportMix(Workload):
    """Closed loop, two client threads: 80% per-user progress reports
    (Zipf-skewed users) rendered to HTML + PNG, 20% nutrition reports
    over a date range and market segment."""

    name = "report_mix"
    clients = 2
    stream_len = 20_000

    def generate(self, root: str) -> None:
        self.star = os.path.join(root, "inputs", "star")
        custkeys = gen.star_tables(self.seed, self.star)
        self.requests = gen.report_requests(self.seed, custkeys, self.stream_len)

    def expect(self) -> None:
        self.oracle = oracles.ReportOracle(self.star)

    def warmup(self, spark) -> None:
        first_point = next(r for r in self.requests if r[0] == "point")
        first_range = next(r for r in self.requests if r[0] == "range")
        self._request(spark, first_point)
        self._request(spark, first_range)

    def op(self, spark, i: int):
        return self._request(spark, self.requests[i % len(self.requests)])

    def _request(self, spark, req: tuple):
        tr = self.tr
        if req[0] == "range":
            with tr.span(spark, "plans.nutrition") as s:
                df = nutrition_report(spark, self.star, req[1], req[2], req[3])
                rows = df.collect()
                if s is not None:
                    s.counts["rows"] = len(rows)
            return df.columns, rows
        with tr.span(spark, "plans.progress") as s:
            df = progress_report(spark, self.star).where(F.col("custkey") == req[1])
            rows = df.collect()
            if s is not None:
                s.counts["rows"] = len(rows)
        cols = df.columns
        with tr.span(spark, "report.render"):
            tuples = [tuple(r) for r in rows]
            last = max((r[cols.index("date")] for r in tuples), default=date(1998, 1, 1))
            rep = ProgressReport(
                username=f"customer{req[1]}",
                end_goal=END_GOAL,
                rows=tuples,
                columns=cols,
                deficit_idx=cols.index("deficit_actual"),
                date_idx=cols.index("date"),
                total_idx=cols.index("total"),
                today=last + timedelta(days=1),
            )
            render_html_jinja(rep)
            ctx = rep.context()
            render_progress_bar_png(ctx["segments"], ctx["palette"])
        return cols, rows

    def verify(self, spark, results: list) -> tuple[int, int]:
        failed = 0
        for r in results:
            if r.error:
                failed += 1
                continue
            req = self.requests[r.index % len(self.requests)]
            exp_cols, exp_rows = self.oracle.expected(req)
            if not oracles.same_result(r.value[0], r.value[1], exp_cols, exp_rows):
                print(f"check failed: {self.name} request {req} does not match the oracle", flush=True)
                failed += 1
        return len(results), failed


# --- corpus_dedup -------------------------------------------------------------------


class CorpusDedup(Workload):
    """MinHash LSH pairs -> connected components -> survivors, written
    to parquet, over a replicated and perturbed corpus."""

    name = "corpus_dedup"

    def generate(self, root: str) -> None:
        self.corpus_dir = os.path.join(root, "inputs", "corpus")
        self.out = os.path.join(root, "out")
        gen.corpus(self.seed, os.path.join(self.corpus_dir, "documents.parquet"))
        # the hot-band salting choice of the registered minhash_dedup_e2e plan
        self.salt = 1 if sf_is_small(self.corpus_dir) else 4

    def op(self, spark, i: int):
        tr = self.tr
        docs = scatter(load_table(spark, self.corpus_dir, "documents"))
        with tr.span(spark, "dedup.signature"):
            pairs = minhash_lsh_pairs(
                docs,
                "doc_id",
                "text",
                num_hashes=MH_HASHES,
                band_rows=MH_BAND_ROWS,
                threshold=JACCARD_THRESHOLD,
                salt_groups=self.salt,
            ).select("id_a", "id_b")
        with tr.span(spark, "dedup.verify") as s:
            pairs = tr.materialize(pairs, s, "verified_pairs")
        stats: dict = {}
        with tr.span(spark, "dedup.cc") as s:
            cc = connected_components(pairs, stats=stats)
            if s is not None:
                s.counts["rounds"] = stats["rounds"]
        out = os.path.join(self.out, f"run{i}")
        with tr.span(spark, "sinks.write") as s:
            losers = cc.where(F.col("node") != F.col("cluster")).select(F.col("node").alias("doc_id"))
            members = cc.groupBy("cluster").agg(F.count(F.lit(1)).alias("n_members"))
            (
                docs.join(losers, "doc_id", "left_anti")
                .join(members.withColumnRenamed("cluster", "doc_id"), "doc_id", "left")
                .select(
                    "doc_id",
                    "lang",
                    "source",
                    "n_chars",
                    F.coalesce("n_members", F.lit(1).cast("long")).alias("n_members"),
                )
                .write.mode("overwrite")
                .parquet(out)
            )
            if s is not None:
                files, size = dir_stats(out)
                s.counts.update(files=files, bytes=size)
        tr.release()
        return out

    def candidate_probe(self, spark) -> int:
        """Traced runs only, outside the timed operation: the LSH
        candidate count, which ``minhash_lsh_pairs`` does not expose."""
        docs = scatter(load_table(spark, self.corpus_dir, "documents"))
        _, sig = minhash_signatures(docs, "doc_id", "text", MH_HASHES)
        return minhash_band_candidates(sig, "doc_id", MH_HASHES, MH_BAND_ROWS, self.salt).count()

    def expect(self) -> None:
        self.expected = oracles.dedup_expected(os.path.join(self.corpus_dir, "documents.parquet"))

    def verify(self, spark, results: list) -> tuple[int, int]:
        exp_cols, exp_rows = self.expected
        failed = 0
        for r in results:
            if r.error:
                failed += 1
                continue
            cols, rows = oracles.read_parquet_dir(r.value)
            if not oracles.same_result(cols, rows, exp_cols, exp_rows):
                print(f"check failed: {self.name} run {r.index} does not match the oracle", flush=True)
                failed += 1
        return len(results), failed


WORKLOADS = {w.name: w for w in (EtlIncremental, ReportMix, CorpusDedup)}

