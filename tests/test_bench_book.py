"""Forced-failure unit tests of the bench loop's bookkeeping (no Spark
needed — BenchBook is pure Python).  Invariants under test:

- a query with ANY successful timing is never reported as errored,
  whether the failure happened in pass 1 or pass 2;
- pass 2 retries pass-1 failures (ordered last, after slowest-first);
- statuses distinguish ok / error / not_run.
"""

from __future__ import annotations

import importlib.util
import json
import os
import sys

_spec = importlib.util.spec_from_file_location(
    "bench", os.path.join(os.path.dirname(os.path.dirname(__file__)), "bench.py")
)
bench = importlib.util.module_from_spec(_spec)
sys.modules.setdefault("bench", bench)
# Only the module-level code above main() runs on exec; it imports the
# registry module but does not start a SparkSession.
_spec.loader.exec_module(bench)


def test_pass1_failure_pass2_success_is_ok():
    b = bench.BenchBook()
    b.failure("q", "Boom: transient")
    b.success("q", 1.5)  # pass-2 retry succeeded
    timed, errors, statuses = b.finalize(["q"])
    assert timed == {"q": 1.5}
    assert errors == {}
    assert statuses == {"q": "ok"}


def test_pass1_success_pass2_failure_keeps_timing():
    b = bench.BenchBook()
    b.success("q", 2.0)
    b.failure("q", "Boom: flaky second rep")
    timed, errors, statuses = b.finalize(["q"])
    assert timed == {"q": 2.0}  # pass-1 timing survives
    assert errors == {}  # a successful timing exists → not an error
    assert statuses == {"q": "ok"}


def test_min_of_passes_is_recorded():
    b = bench.BenchBook()
    b.success("q", 3.0)
    b.success("q", 1.25)
    timed, _, _ = b.finalize(["q"])
    assert timed == {"q": 1.25}


def test_double_failure_is_error_and_unattempted_is_not_run():
    b = bench.BenchBook()
    b.failure("bad", "Boom 1")
    b.failure("bad", "Boom 2")
    b.success("good", 0.5)
    timed, errors, statuses = b.finalize(["bad", "good", "cut"])
    assert timed == {"good": 0.5}
    assert set(errors) == {"bad"} and errors["bad"].startswith("Boom 2")
    assert statuses == {"bad": "error", "good": "ok", "cut": "not_run"}


def test_retry_order_slowest_first_errors_last():
    # No baseline → full timing counts as recoverable → slowest first.
    b = bench.BenchBook()
    qs = {"fast": 1, "slow": 2, "err": 3, "mid": 4}
    b.success("fast", 0.1)
    b.success("slow", 5.0)
    b.success("mid", 1.0)
    b.failure("err", "Boom")
    order = [name for name, _ in b.retry_order(qs)]
    assert order == ["slow", "mid", "fast", "err"]


def test_retry_order_targets_largest_recovery_vs_baseline():
    # "floor" is slow but already at its baseline (nothing to win);
    # "inflated" is mid-pack but 4x its baseline (3s recoverable);
    # "new" has no baseline entry → full timing recoverable.
    b = bench.BenchBook()
    qs = {"floor": 1, "inflated": 2, "new": 3}
    b.success("floor", 8.0)
    b.success("inflated", 4.0)
    b.success("new", 2.0)
    baseline = {"floor": 8.0, "inflated": 1.0}
    order = [name for name, _ in b.retry_order(qs, baseline)]
    assert order == ["inflated", "new", "floor"]


def test_retry_order_flag_risk_outranks_recovery():
    # The second r15 clean run's failure mode: a 0.24s-floor query
    # reading 2.8x cold offers tiny absolute recovery, so recovery
    # ordering starved it of a retry and the cold artifact reached the
    # gate as a false regression.  At-risk entries (raw ratio >=
    # RAW_WATCH_RATIO) must lead pass 2 regardless of recovery
    # seconds, worst ratio first; sub-threshold queries keep the
    # recovery ordering.
    b = bench.BenchBook()
    qs = {"tiny_hot": 1, "big_recovery": 2, "tiny_hotter": 3, "near": 4}
    b.success("tiny_hot", 0.6)        # 2.5x its 0.24 floor, 0.36s rec
    b.success("tiny_hotter", 0.9)     # 3.0x its 0.30 floor, 0.60s rec
    b.success("big_recovery", 9.0)    # 1.5x its 6.0 floor, 3.0s rec
    b.success("near", 0.45)           # 1.87x its 0.24 floor — under line
    baseline = {"tiny_hot": 0.24, "tiny_hotter": 0.30,
                "big_recovery": 6.0, "near": 0.24}
    order = [name for name, _ in b.retry_order(qs, baseline)]
    assert order == ["tiny_hotter", "tiny_hot", "big_recovery", "near"]


def test_retry_order_risk_threshold_is_the_watch_line():
    # The tier boundary must BE bench.RAW_WATCH_RATIO (the constant
    # classify_regressions gates on), so retry targeting can never
    # drift from the flag pipeline it protects.
    b = bench.BenchBook()
    qs = {"at_line": 1, "big": 2}
    b.success("at_line", 0.24 * bench.RAW_WATCH_RATIO)  # exactly at it
    b.success("big", 9.0)
    baseline = {"at_line": 0.24, "big": 6.0}
    order = [name for name, _ in b.retry_order(qs, baseline)]
    assert order == ["at_line", "big"]


# --- classify_regressions: hard gate vs report-only watch band ----------

_BASE = {
    "queries": {"fast_q": 1.0, "slow_q": 1.0, "fine_q": 1.0, "absent_q": None},
    "comments": {"slow_q": "known cold-start heavy"},
    "host_cal_ref": 0.2,
}


def test_gate_uncalibrated_host_flags_at_raw_2x():
    timed = {"fast_q": 2.5, "fine_q": 1.9}
    reg, watch = bench.classify_regressions(timed, _BASE, None, None)
    assert set(reg) == {"fast_q"}
    assert watch == {}
    assert reg["fast_q"]["raw_ratio"] == 2.5
    assert reg["fast_q"]["host_factor"] == 1.0


def test_gate_slow_host_excuses_into_watch_not_silence():
    # Host 1.5x slower than the recording host: the hard gate widens
    # to 3x, but a 2.5x raw entry must still surface — in watch.
    timed = {"fast_q": 2.5, "slow_q": 3.5, "fine_q": 1.9}
    reg, watch = bench.classify_regressions(timed, _BASE, 0.3, None)
    assert set(reg) == {"slow_q"}  # 3.5 > 3.0 — flagged even calibrated
    assert set(watch) == {"fast_q"}  # 2.0 < 2.5 <= 3.0 — excused, visible
    assert watch["fast_q"]["host_factor"] == 1.5
    assert reg["slow_q"]["comment"] == "known cold-start heavy"


def test_gate_factor_clamped_to_2x_and_fast_host_never_tightens():
    # A 10x-slower host clamps at factor 2 (gate 4x)...
    reg, watch = bench.classify_regressions({"fast_q": 4.1}, _BASE, 2.0, None)
    assert set(reg) == {"fast_q"} and not watch
    # ...and a 2x-faster host clamps at factor 1 (gate stays 2x).
    reg, watch = bench.classify_regressions({"fast_q": 1.99}, _BASE, 0.1, None)
    assert not reg and not watch


def test_gate_io_factor_annotated_only_when_baseline_has_ref():
    timed = {"fast_q": 2.5}
    _, watch = bench.classify_regressions(timed, _BASE, 0.3, 5.0)
    assert "io_factor" not in watch["fast_q"]  # no io_cal_ref yet
    base_io = {**_BASE, "io_cal_ref": 2.0}
    _, watch = bench.classify_regressions(timed, base_io, 0.3, 5.0)
    assert watch["fast_q"]["io_factor"] == 2.0  # clamped from 2.5


def test_gate_clamp_against_reanchored_floors():
    """VERDICT r13 #3: the r13 re-anchor replaced the inflated
    ensemble floor with reference-speed minima, so the clamp
    arithmetic must be validated against the REAL book, not just the
    synthetic _BASE.  Simulate host weather by scaling every recorded
    floor and host_cal together by k:

    - k within the documented 2x swing -> an EMPTY board (the
      calibrated gate absorbs it; watch does not flood);
    - k beyond the swing (2.5x) -> the hard gate still stays silent
      (clamped factor 2 widens it to 4x raw) but EVERY query floods
      the report-only watch band, each entry carrying host_factor 2.0
      as the explanation — flooding-with-annotation is the designed
      behavior there, not a gate failure;
    - a genuine regression (one query at 5x on a mildly loud host)
      trips the hard gate regardless of weather.
    """
    with open(os.path.join(os.path.dirname(os.path.dirname(__file__)),
                           "BASELINE_BENCH.json")) as fh:
        book = json.load(fh)
    floors = {n: v for n, v in book["queries"].items() if v}
    ref = book["host_cal_ref"]
    assert floors and ref

    for k in (1.3, 1.9):
        timed = {n: v * k for n, v in floors.items()}
        reg, watch = bench.classify_regressions(timed, book, ref * k, None)
        assert not reg and not watch, (k, len(reg), len(watch))

    timed = {n: v * 2.5 for n, v in floors.items()}
    reg, watch = bench.classify_regressions(timed, book, ref * 2.5, None)
    assert not reg
    assert len(watch) == len(floors)  # floods, but report-only...
    assert all(e["host_factor"] == 2.0 for e in watch.values())  # ...annotated

    victim = next(iter(sorted(floors)))
    timed = {n: v * 1.5 for n, v in floors.items()}
    timed[victim] = floors[victim] * 5.0
    reg, watch = bench.classify_regressions(timed, book, ref * 1.5, None)
    assert victim in reg  # 5x > 2x * clamp(1.5): weather can't excuse it
    assert not watch


def test_gate_ignores_absent_and_falsy_baselines():
    # absent_q has a None baseline; unknown_q has no entry at all.
    reg, watch = bench.classify_regressions(
        {"absent_q": 99.0, "unknown_q": 99.0}, _BASE, None, None
    )
    assert not reg and not watch


def test_permanent_canaries_lead_the_registry():
    """The three permanent canaries (flagship, one streaming path, one
    dedup path) must be the first three registrations EVERY round — a
    rotation edit that drops them out of the driver window would let a
    loader/session regression hide for a full round."""
    from myfitnesspaw_spark.plans import registry
    import myfitnesspaw_spark.plans.queries  # noqa: F401

    names = list(registry.queries())
    assert names[:3] == [
        "progress_report",
        "streaming_hourly_rollup",
        "dedup_clusters",
    ]


def test_compact_bench_line_fits_driver_tail_capture():
    """The driver records only the LAST ~2000 bytes of bench.py output;
    the compact summary line must stay under that budget at the
    WORST CASE the current registry can produce: the 20
    longest-named queries, maximal float widths, 3-digit counts.
    (The r4 truncation bug was the full dict crossing the budget as
    queries were added — this pins the slowest-20 form instead.)"""
    import json

    from myfitnesspaw_spark.plans import registry

    names = sorted(registry.queries(), key=len, reverse=True)[:20]
    worst = {n: 999.999 for n in names}
    line = json.dumps(
        {
            "metric": "total_query_sec",
            "value": 99999.999,
            "unit": "sec",
            "queries": worst,
            "n_queries": 999,
            "n_timed": 999,
            "n_errors": 999,
            "n_regressions": 999,
            "n_watch": 999,
            "sf": 0.1,
            "host_cal_sec": 99.999,
            "io_cal_sec": 99.999,
            "full": "bench_full.json",
        }
    )
    assert len(line) < 1900, (len(line), "compact bench line over budget")


def test_cold_position_advisory_fires_only_on_starved_pass2():
    """The r18 discard rule, artifact-side: a run with timed queries
    but zero pass-2 warm retries is all cold-position and must say so;
    a run with even one retry, or a run that timed nothing, must not
    carry the advisory."""
    assert bench.cold_position_advisory(0, 170) is not None
    assert "cold-position" in bench.cold_position_advisory(0, 1)
    assert bench.cold_position_advisory(1, 170) is None
    assert bench.cold_position_advisory(33, 170) is None
    # nothing timed -> nothing to discard; the errors dict tells that story
    assert bench.cold_position_advisory(0, 0) is None
