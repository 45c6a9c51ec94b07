"""Benchmark harness (driver contract).

Runs every registered query at ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) on ``local[$SPARK_GRAFT_CPUS]``, writes the
FULL per-query result to ``bench_full.json`` next to this file, and
prints a compact one-line JSON summary LAST::

    {"metric": "total_query_sec", "value": N, "unit": "sec",
     "queries": {<slowest 20>}, "sf": 0.1, "full": "bench_full.json", ...}

The compact-last-line split exists because the driver records only the
final ~2000 bytes of output: the full 106-query dict is ~4 KB, so
printing it as the one line left every round's artifact truncated
mid-key and unparseable (r1-r3 lesson).  The last line is sized to
survive tail capture; ``bench_full.json`` (and a full line printed
before the compact one) carry the complete timings, including the
regression check against ``BASELINE_BENCH.json``.

Each query is executed with the ``noop`` write sink so timing covers the
full distributed plan (scan → shuffle → agg/window) without driver-side
row materialization, which is what matters at cluster scale.  Queries run
in two passes — every query once, then a second rep for as long as the
soft budget lasts — and the MIN is recorded: the first execution of each
operator family pays one-time JVM JIT + whole-stage-codegen compilation
(measured 5× inflation on the first collect_list/explode plan), which a
long-lived cluster amortizes to zero — steady-state latency is the engine
number.  Two-pass ordering guarantees every query gets a first-run number
before any budget is spent on repetitions.

Fault isolation: a query that raises is recorded under ``errors`` and the
run continues; the summary prints from a ``finally`` so it survives any
single-query failure (round-2 lesson: one AnalysisException must not cost
the round its bench number).  Pass 2 retries pass-1 failures once, and a
query with any successful timing is never reported as errored — ``errors``
means "no valid timing exists" (ADVICE r3).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Local-mode JVM hosts driver + all 32 executor threads; the default 8g
# heap GC-thrashes under the dedup suite's shuffles and bleeds pause
# time into whichever query runs next.
os.environ.setdefault("SPARK_DRIVER_MEMORY", "16g")

from myfitnesspaw_spark.plans import registry  # noqa: E402
from myfitnesspaw_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _sf_of(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else float("nan")


def _load_baseline() -> dict:
    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BASELINE_BENCH.json"
    )
    try:
        with open(path) as fh:
            base = json.load(fh)
        if base.get("sf") == _sf_of(SF_DIR):
            return base
    except (OSError, ValueError):
        pass
    return {}


def _load_baseline_queries(baseline: dict | None = None) -> dict[str, float]:
    """Best-known per-query times (same sf), for the pass-2 recovery
    ordering and the regression gate.  Empty when absent/mismatched.

    Floors fold DOWNWARD-ONLY from zero-error full runs, with one
    sanctioned exception — the floor-quality rule (r17, VERDICT r16
    #1): a floor whose same-session warm best-of-N sits >1.3x above
    it is a lucky single timing and gets re-anchored UP to the
    reproducible warm number with a provenance note (see
    ``_floor_quality_policy`` in BASELINE_BENCH.json comments).

    Accepts an already-loaded baseline dict so the gate and the
    retry ordering share ONE falsy-value filter (ADVICE r7: the gate
    loop used to re-implement this inline, and the two views could
    drift if the filter ever changed)."""
    base = _load_baseline() if baseline is None else baseline
    return {k: v for k, v in base.get("queries", {}).items() if v}


def _run(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# Raw per-query ratio at which a timing enters the flag pipeline: the
# hard gate is this line host-calibrated (clamped [1,2]x wider), and
# the watch band is everything the calibration excused above it.
# Shared by classify_regressions and TimingBook.retry_order so the
# pass-2 retry targeting can never drift from the gate it protects.
RAW_WATCH_RATIO = 2.0


def classify_regressions(
    timed: dict[str, float],
    baseline: dict,
    host_cal: float | None,
    io_cal: float | None,
) -> tuple[dict[str, dict], dict[str, dict]]:
    """Split over-2x-raw-baseline queries into hard ``regressions``
    and the report-only ``watch`` band (unit-tested in
    tests/test_bench_book.py).

    HARD GATE, host-calibrated: best-known numbers come from the
    fastest recording hosts and this VM's absolute times swing up to
    2x with neighbor load, so the threshold scales by (this run's
    host_cal / the baseline's host_cal_ref), clamped to [1, 2] — a
    fast host can't hide a real regression (factor >= 1) and weather
    can't excuse more than the documented 2x swing.

    WATCH BAND (VERDICT r7 #3): every query over 2x RAW baseline that
    the calibrated gate excused.  A slow host widens the hard gate up
    to 4x, so without this list a genuine 2-2.9x regression could
    ride a 1.46 calibration factor invisibly; with it, excused
    entries stay in bench_full.json for the judge to re-check.  Each
    entry carries the raw ratio and both calibration factors — the
    IO factor exists because the two noise dimensions diverge
    (ADVICE r7: one recorded run had compute 1.5x FASTER while
    IO-heavy queries ran 2-3x slower), so a compute-only excuse for
    an IO-bound query is visible as host_factor≈1 vs io_factor>1.
    io_cal_ref (1.675) comes from the r7 closing run — a
    reference-SPEED host (host_cal 0.141 vs host_cal_ref's 0.143,
    which is the fastest r5 recording host; see the _io_cal_ref
    comment in BASELINE_BENCH.json for the provenance split).
    io_factor is omitted when the baseline lacks the ref OR this
    run's own io calibration failed (io_cal None).
    """
    comments = baseline.get("comments", {})
    cal_ref = baseline.get("host_cal_ref")
    factor = 1.0
    if cal_ref and host_cal:
        factor = max(1.0, min(2.0, host_cal / cal_ref))
    io_ref = baseline.get("io_cal_ref")
    io_factor = None
    if io_ref and io_cal:
        io_factor = round(max(1.0, min(2.0, io_cal / io_ref)), 3)
    regressions: dict[str, dict] = {}
    watch: dict[str, dict] = {}
    for n, b in _load_baseline_queries(baseline).items():
        cur = timed.get(n)
        if cur is None or cur <= RAW_WATCH_RATIO * b:
            continue
        entry = {
            "baseline": b,
            "current": cur,
            "raw_ratio": round(cur / b, 2),
            "host_factor": round(factor, 3),
        }
        if io_factor is not None:
            entry["io_factor"] = io_factor
        if n in comments:
            entry["comment"] = comments[n]
        if cur > RAW_WATCH_RATIO * b * factor:
            regressions[n] = entry
        else:
            watch[n] = entry
    return regressions, watch


def cold_position_advisory(pass2_runs: int, n_timed: int) -> str | None:
    """The r18 discard rule, stamped into the artifact itself.

    A run whose pass-1 wall exhausted the soft budget before a single
    pass-2 warm retry ran (``pass2_runs == 0`` with queries actually
    timed) carries ONLY cold-position numbers — the r18 incident
    recorded 15 false regressions at uniform 3.6-11.5x raw this way.
    Readers of such an artifact must discard it rather than probe its
    flags; returning the advisory here means the artifact says so
    itself instead of relying on each judge re-deriving the rule from
    the wall telemetry.
    """
    if pass2_runs == 0 and n_timed > 0:
        return (
            "pass2_runs=0: the soft budget died in pass 1, so no query "
            "got its warm retry — every timing is cold-position; "
            "discard this run, do not probe its flags (verify-skill r18)"
        )
    return None


class BenchBook:
    """Per-query bookkeeping for the two-pass bench loop.

    Invariants (unit-tested in tests/test_bench_book.py):
    - a query with ANY successful timing is never an error, regardless
      of which pass failed — ``errors`` means "no valid timing exists";
    - the recorded timing is the MIN across passes (steady state);
    - ``statuses`` distinguishes ok / error / not_run (hard-deadline
      cut before the query was ever attempted).
    """

    def __init__(self) -> None:
        self.timings: dict[str, float | None] = {}
        self.errors: dict[str, str] = {}
        self.attempted: set[str] = set()

    def success(self, name: str, dt: float) -> None:
        self.attempted.add(name)
        prev = self.timings.get(name)
        self.timings[name] = round(dt if prev is None else min(prev, dt), 3)

    def failure(self, name: str, msg: str) -> None:
        self.attempted.add(name)
        self.errors[name] = msg[:300]
        self.timings.setdefault(name, None)

    def retry_order(
        self, qs: dict, baseline: dict | None = None
    ) -> list[tuple[str, object]]:
        """Pass-2 order: FLAG-RISK queries first (pass-1 raw ratio at
        or over RAW_WATCH_RATIO — the candidate regression/watch set,
        worst ratio first), then largest expected RECOVERY, errored
        queries last (each gets one retry).

        The flag-risk boundary is INTENTIONALLY inclusive (>=) while
        classify_regressions flags only strictly above the line: a
        query sitting exactly AT the ratio is one timing jitter away
        from flagging, so it earns the priority retry even though the
        gate would pass it as-is.  Conservative by design; pinned in
        tests/test_bench_book.py.

        The flag-risk tier exists because recovery is measured in
        SECONDS: a 0.24 s-floor query reading 2.8× cold offers only
        ~0.4 s of recovery, so pure recovery ordering never retried it
        and the cold-position artifact survived to the gate as a false
        regression (both r15 clean runs flagged doc_fingerprint this
        way; warm probes cleared it at 0.70× normalized).  At-risk
        queries are almost always sub-second, so clearing the whole
        tier costs a few seconds of budget and every flag the run
        reports is then a steady-state number, not a cold artifact.

        Recovery for a query = pass-1 timing − its best-known baseline
        time: the seconds a warm rep can plausibly win back.  Plain
        slowest-first spent the budget on queries that are genuinely
        slow and already near their floor (iterative CC, sketches)
        while 2-4× cold-start inflation on mid-pack queries went
        unrepped — measured r5: only ~26 of 113 queries fit in the
        pass-2 budget, so targeting matters.  Queries without a
        baseline entry count their full timing as recoverable (new
        queries get repped early) and carry no flag risk (no baseline,
        no gate).
        """
        base = baseline or {}

        def recovery(name: str) -> float:
            cur = self.timings.get(name)
            if cur is None:
                return 0.0
            return cur - base.get(name, 0.0)

        def flag_risk(name: str) -> float:
            cur = self.timings.get(name)
            b = base.get(name)
            if cur is None or not b:
                return 0.0
            ratio = cur / b
            return ratio if ratio >= RAW_WATCH_RATIO else 0.0

        return sorted(
            qs.items(),
            key=lambda kv: (
                self.timings.get(kv[0]) is None,
                -flag_risk(kv[0]),
                -recovery(kv[0]),
            ),
        )

    def finalize(self, all_names) -> tuple[dict, dict, dict]:
        timed = {n: v for n, v in self.timings.items() if v is not None}
        errors = {
            n: m for n, m in self.errors.items() if self.timings.get(n) is None
        }
        statuses = {
            n: (
                "ok"
                if n in timed
                else "error" if n in self.attempted else "not_run"
            )
            for n in all_names
        }
        return timed, errors, statuses


def main() -> None:
    spark = get_spark("bench", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or None)
    qs = registry.queries()

    # Warmup: run the flagship once to JIT/codegen-compile common paths,
    # and a trivial mapInPandas to spin up the Python worker pool (its
    # one-time startup would otherwise bill the first Pandas-UDF query).
    # Warmup failures must not kill the run — the loop below isolates
    # per-query faults, and warmup is only an amortization aid.
    try:
        warm = qs.get("progress_report") or next(iter(qs.values()))
        _run(warm(spark, SF_DIR))
        spark.range(64).repartition(64).mapInPandas(
            lambda it: it, "id long"
        ).write.format("noop").mode("overwrite").save()
    except Exception:
        pass

    import gc

    # Hard wall-clock budget: the JSON line MUST be printed even under
    # an external time limit OR a raising query — hence two passes and
    # a finally-print.  Pass 1 runs every query once (coverage first);
    # pass 2 re-runs queries for steady-state MIN timing while the soft
    # budget lasts.  Past the hard deadline nothing more runs.
    start = time.monotonic()
    # The soft budget scales with the registry: pass 1 alone costs
    # ~2.2 s/query on this host, and a fixed 300 s starved pass 2 of
    # warm retries once the suite passed ~130 queries (2 reps instead
    # of ~30 → cold pass-1 numbers got recorded for most of the
    # suite).  The hard deadline trails the soft one but stays under
    # ~570 s so the finally-printed JSON line survives any plausible
    # external driver timeout.
    n_reg = max(1, len(qs))
    hard_deadline = float(os.environ.get("BENCH_HARD_BUDGET_SEC", "480"))
    # Soft budget scales with the suite but stays 60 s under the hard
    # deadline: 480 s has survived every driver round so far, and an
    # external kill past it would lose the finally-printed JSON line —
    # never risk the output for extra warm reps.
    soft_default = min(max(300.0, 3.0 * n_reg), hard_deadline - 60.0)
    soft_deadline = float(
        os.environ.get("BENCH_SOFT_BUDGET_SEC", str(soft_default))
    )

    book = BenchBook()

    wall = {"quiesce_sec": 0.0, "pass1_wall_sec": None, "pass2_runs": 0}

    # Host calibration: a FIXED JVM compute (200M-row codegen sum)
    # timed once per run.  Absolute query times on this shared VM vary
    # ±2× run-to-run with neighbor load; the calibration constant lets
    # any cross-round comparison normalize (query_sec / host_cal_sec
    # is stable where raw seconds are not).  Best-of-2 so a single GC
    # pause can't poison the constant.
    def _host_cal_probe():
        try:
            cal = None
            for _ in range(2):
                t0 = time.perf_counter()
                # (id % 1000)² keeps the ANSI-mode sum far from long
                # overflow at any row count.
                spark.range(200_000_000).selectExpr(
                    "sum((id % 1000) * (id % 1000))"
                ).collect()
                el = time.perf_counter() - t0
                cal = el if cal is None or el < cal else cal
            return round(cal, 3)
        except Exception:
            return None

    # IO calibration: a fixed parquet write+read round trip.  The two
    # constants separate the noise dimensions — one recorded run showed
    # compute 1.5× FASTER while streaming/file-heavy queries ran 2-3×
    # slower (IO contention), which a single compute constant can't
    # explain.
    def _io_cal_probe():
        try:
            import tempfile
            import shutil

            tmp = tempfile.mkdtemp(prefix="benchcal_")
            try:
                t0 = time.perf_counter()
                spark.range(2_000_000).selectExpr(
                    "id", "cast(id % 97 as double) AS v"
                ).write.mode("overwrite").parquet(os.path.join(tmp, "cal"))
                spark.read.parquet(os.path.join(tmp, "cal")).count()
                return round(time.perf_counter() - t0, 3)
            finally:
                shutil.rmtree(tmp, ignore_errors=True)
        except Exception:
            return None

    wall["host_cal_sec"] = _host_cal_probe()
    wall["io_cal_sec"] = _io_cal_probe()

    def _gc_quiesce() -> None:
        # Untimed GC so each query measures its own plan, not the
        # major collection of 30 predecessors' shuffle garbage.
        # Python gc FIRST: py4j refs pin finished DataFrames (and
        # their localCheckpoint RDD blocks) on the JVM side, so
        # ContextCleaner can only unpersist them once the Python
        # wrappers are collected — measured storage-memory creep
        # otherwise inflates late-suite queries ~2×.
        t0 = time.monotonic()
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        wall["quiesce_sec"] += time.monotonic() - t0

    def _timed(name: str, fn) -> None:
        t0 = time.perf_counter()
        try:
            _run(fn(spark, SF_DIR))
        except Exception as exc:  # fault isolation: record, keep going
            book.failure(name, f"{type(exc).__name__}: {exc}")
            return
        book.success(name, time.perf_counter() - t0)

    # None until the post-pass-1 snapshot actually runs: an aborted
    # pass 1 (KeyboardInterrupt, a _gc_quiesce fault) must emit null,
    # not [], or it is indistinguishable from a clean run in which
    # nothing sat at flag risk — the ambiguity this telemetry exists
    # to remove (ADVICE r16 #2).
    pass1_flagged: list[str] | None = None
    try:
        for name, fn in qs.items():  # pass 1: every query once
            if time.monotonic() - start > hard_deadline:
                break
            _gc_quiesce()
            _timed(name, fn)
        # Pass 2: steady-state reps, SLOWEST pass-1 timings first —
        # cold-start overhead (JIT, Python worker pools, streaming
        # state-store init) concentrates in the slowest cold numbers,
        # so spending the soft budget there first maximizes how much
        # of the suite reaches a warm MIN before the budget runs out.
        wall["pass1_wall_sec"] = round(time.monotonic() - start, 1)
        # Snapshot which queries sit at flag risk AFTER pass 1 (raw
        # ratio >= RAW_WATCH_RATIO vs baseline): the final board can't
        # show whether the flag-risk retry tier fired or was simply
        # not needed — pass-2 successes overwrite pass-1 timings — so
        # persist the tier's input for post-hoc validation of the
        # mechanism's track record (VERDICT r15 #4).
        _b1 = _load_baseline_queries()
        pass1_flagged = sorted(
            n
            for n, t in book.timings.items()
            if t is not None
            and _b1.get(n)
            and t / _b1[n] >= RAW_WATCH_RATIO
        )
        # Errored queries sort last and get one retry (a transient
        # fault must not permanently exclude a query — ADVICE r3).
        for name, fn in book.retry_order(qs, _load_baseline_queries()):
            if time.monotonic() - start > soft_deadline:
                break
            _gc_quiesce()
            _timed(name, fn)
            wall["pass2_runs"] += 1
    finally:
        # A query with any successful timing is not an error; drop
        # stale pass-1 messages superseded by a pass-2 success.
        timed, errors, statuses = book.finalize(qs.keys())
        sf = _sf_of(SF_DIR)
        total = round(sum(timed.values()), 3)

        # Re-sample BOTH calibrations at run END: a start-only sample
        # is blind to a mid-run neighbor-load storm (r14 attempt 2
        # read host_cal 0.148 pre-storm while queries ran ~1.4-3x
        # inflated, producing 8 false regressions — and the book's own
        # storm notes show IO inflating 2-3x INDEPENDENTLY of compute,
        # so io_cal needs the same treatment: ADVICE r14).  The gate
        # takes the LOUDER of the two samples per dimension — a storm
        # at either endpoint widens it, and a quiet end sample can
        # never tighten it below the start one.  All samples are
        # recorded for post-hoc storm-vs-plan diagnosis.  `is not
        # None` (not truthiness) so a legitimate 0.0 sample is kept.
        wall["host_cal_end_sec"] = _host_cal_probe()
        wall["io_cal_end_sec"] = _io_cal_probe()

        def _louder(*samples):
            kept = [c for c in samples if c is not None]
            return max(kept) if kept else None

        gate_cal = _louder(wall.get("host_cal_sec"),
                           wall.get("host_cal_end_sec"))
        gate_io = _louder(wall.get("io_cal_sec"),
                          wall.get("io_cal_end_sec"))

        baseline = _load_baseline()
        regressions, watch = classify_regressions(
            timed, baseline, gate_cal, gate_io
        )

        # Core count in both artifacts (r21, VERDICT r20 #5): the
        # driver's 8-core scaling run overwrote bench_full.json with
        # numbers a floor reader mistook for 32-core regressions —
        # stamping cpus makes any off-core-count artifact identifiable.
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count()
        full = {
            "metric": "total_query_sec",
            "value": total,
            "unit": "sec",
            "cpus": cpus,
            "queries": book.timings,
            "statuses": statuses,
            "errors": errors,
            "regressions": regressions,
            "watch": watch,
            "n_queries": len(qs),
            "n_timed": len(timed),
            "sf": sf,
            "pass1_flagged": pass1_flagged,
            "wall": {**wall, "total_wall_sec": round(time.monotonic() - start, 1)},
        }
        advisory = cold_position_advisory(wall["pass2_runs"], len(timed))
        if advisory:
            full["advisory"] = advisory
        full_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                 "bench_full.json")
        try:
            with open(full_path, "w") as fh:
                json.dump(full, fh, indent=1, sort_keys=True)
        except OSError:
            pass
        print(json.dumps(full), flush=True)  # humans / logs

        # Compact summary LAST — must fit the driver's ~2000-byte tail
        # capture: slowest-20 queries only, full dict in bench_full.json.
        slowest = dict(sorted(timed.items(), key=lambda kv: -kv[1])[:20])
        print(
            json.dumps(
                {
                    "metric": "total_query_sec",
                    "value": total,
                    "unit": "sec",
                    "queries": slowest,
                    "n_queries": len(qs),
                    "n_timed": len(timed),
                    "n_errors": len(errors),
                    "n_regressions": len(regressions),
                    # Watch = over 2x RAW baseline but excused by the
                    # host calibration; details in bench_full.json.
                    # In the compact line so the driver's tail-capture
                    # artifact (BENCH_r{N}.json) records the band.
                    "n_watch": len(watch),
                    "sf": sf,
                    "cpus": cpus,
                    "host_cal_sec": wall.get("host_cal_sec"),
                    "io_cal_sec": wall.get("io_cal_sec"),
                    "full": "bench_full.json",
                }
            ),
            flush=True,
        )


if __name__ == "__main__":
    main()
