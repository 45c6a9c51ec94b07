"""Report serving from per-data-version snapshots: invalidation on an
input rewrite, one build under concurrent cold requests, and row-for-row
equivalence with the registered Catalyst plans."""

from __future__ import annotations

import shutil
import sys
import threading

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from myfitnesspaw_spark.plans import nutrition, progress, serving
from myfitnesspaw_spark.plans.nutrition import NUTRITION_ORACLE, nutrition_plan, nutrition_report
from myfitnesspaw_spark.plans.progress import PROGRESS_ORACLE, progress_report
from tests.conftest import assert_matches_oracle

STAR = ("orders", "lineitem", "customer", "events")


def _star_copy(src: str, dst) -> str:
    dst.mkdir()
    for t in STAR:
        shutil.copyfile(f"{src}/{t}.parquet", dst / f"{t}.parquet")
    return str(dst)


def _duck(sf: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in STAR:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    return con


def _entries(sf: str) -> list:
    return [k for k in serving._memo if sf in k]


def test_rewritten_inputs_invalidate_the_snapshot(spark, sf_dir, tmp_path):
    sf = _star_copy(sf_dir, tmp_path / "star")
    before_p = progress_report(spark, sf).collect()
    before_n = nutrition_report(spark, sf).collect()
    assert len(_entries(sf)) == 2

    # Rewrite two inputs in place: every order moves one day later and
    # costs more; every customer's goal and segment change.
    orders = pq.read_table(f"{sf}/orders.parquet")
    day = pa.scalar(86_400_000_000, pa.duration("us"))
    orders = orders.set_column(
        orders.schema.get_field_index("o_orderdate"),
        "o_orderdate",
        pc.add(orders["o_orderdate"], day),
    ).set_column(
        orders.schema.get_field_index("o_totalprice"),
        "o_totalprice",
        pc.multiply(orders["o_totalprice"], 1.5),
    )
    pq.write_table(orders, f"{sf}/orders.parquet")
    customer = pq.read_table(f"{sf}/customer.parquet")
    segments = pc.if_else(
        pc.equal(customer["c_mktsegment"], "BUILDING"), "MACHINERY", "BUILDING"
    )
    customer = customer.set_column(
        customer.schema.get_field_index("c_acctbal"),
        "c_acctbal",
        pc.add(customer["c_acctbal"], 100.0),
    ).set_column(customer.schema.get_field_index("c_mktsegment"), "c_mktsegment", segments)
    pq.write_table(customer, f"{sf}/customer.parquet")

    duck = _duck(sf)
    try:
        after_p = progress_report(spark, sf)
        after_n = nutrition_report(spark, sf)
        assert_matches_oracle(after_p, duck, PROGRESS_ORACLE)
        assert_matches_oracle(after_n, duck, NUTRITION_ORACLE)
    finally:
        duck.close()
    assert after_p.collect() != before_p
    assert after_n.collect() != before_n
    assert len(_entries(sf)) == 2  # replaced, not added


def test_concurrent_cold_requests_build_once(spark, sf_dir, duck, tmp_path, monkeypatch):
    sf = _star_copy(sf_dir, tmp_path / "star")
    builds = []
    plan = progress.progress_plan

    def counting_plan(*args):
        builds.append(args)
        return plan(*args)

    monkeypatch.setattr(progress, "progress_plan", counting_plan)
    clients = 8  # more threads than cores
    gate = threading.Barrier(clients)
    served = [None] * clients

    def client(i):
        gate.wait()
        served[i] = progress_report(spark, sf)

    threads = [threading.Thread(target=client, args=(i,)) for i in range(clients)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert len(builds) == 1
    for df in served:
        assert_matches_oracle(df, duck, PROGRESS_ORACLE)


def test_served_nutrition_equals_plan_in_order(spark, sf_dir):
    cases = [
        (nutrition.DATE_FROM, nutrition.DATE_TO, nutrition.SEGMENT),
        ("1995-01-01", "1995-04-30", "AUTOMOBILE"),
        ("1996-06-01", "1998-12-31", "HOUSEHOLD"),
        ("1998-01-01", "1997-01-01", "BUILDING"),  # empty range
        ("1992-01-01", "1998-12-31", "NO SUCH SEGMENT"),
    ]
    for date_from, date_to, segment in cases:
        served = nutrition_report(spark, sf_dir, date_from, date_to, segment)
        planned = nutrition_plan(spark, sf_dir, date_from, date_to, segment)
        # Catalyst folds the request into the snapshot: no job to run.
        assert served._jdf.queryExecution().optimizedPlan().toString().startswith(
            "LocalRelation"
        )
        assert served.schema == planned.schema
        rows = served.collect()
        assert rows == planned.collect(), (date_from, date_to, segment)
        keys = [(r.custkey, r.date) for r in rows]
        assert keys == sorted(keys)
    assert not nutrition_report(spark, sf_dir, *cases[3]).collect()
    assert not nutrition_report(spark, sf_dir, *cases[4]).collect()

    point = progress_report(spark, sf_dir).where(F.col("custkey") == 1)
    assert point._jdf.queryExecution().optimizedPlan().toString().startswith("LocalRelation")
