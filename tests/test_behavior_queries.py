"""recursive_user_spine carries its own recursion ceiling: a user
whose active days span more than the 100-level session default still
gets a full day spine."""

from __future__ import annotations

import datetime as dt

from myfitnesspaw_spark.plans.behavior_queries import recursive_user_spine


def test_recursive_user_spine_spans_150_days(spark, tmp_path):
    first = dt.datetime(2024, 1, 1, 9, 30)
    last = first + dt.timedelta(days=149)
    spark.createDataFrame(
        [(1, 7, first, "click", 1.0, "{}"), (2, 7, last, "click", 2.0, "{}")],
        "event_id long, user_id long, ts timestamp_ntz, event_type string, "
        "value double, props string",
    ).coalesce(1).write.parquet(str(tmp_path / "events.parquet"))

    rows = recursive_user_spine(spark, str(tmp_path)).collect()
    assert len(rows) == 150
    assert {r["user_id"] for r in rows} == {7}
    assert min(r["day"] for r in rows) == first.date()
    assert max(r["day"] for r in rows) == last.date()
    assert sum(r["n_events"] for r in rows) == 2
