"""Benchmark entry point.

    python3 perfbench/run.py --workload {etl_incremental,report_mix,corpus_dedup,all}
                             --seed N [--seconds 8] [--trace 0|1]

Runs set-up (median of several set-ups), measures the workload for
``--seconds``, checks every output against a DuckDB recomputation and
prints each metric by name with its unit.  The last stdout line is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(end-to-end metrics untraced, per-layer metrics with ``--trace 1``).
Run from the repository root; all temporary state lives in ``.perfbench/``
there and is removed at exit (span dumps are kept in
``.perfbench/spans/``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import myfitnesspaw_spark  # noqa: E402,F401  (fails fast outside a checkout)

import stats  # noqa: E402
import tracing  # noqa: E402
from workloads import WORKLOADS, CorpusDedup, EtlIncremental  # noqa: E402

SETUP_ROUNDS = 3
#: After the cold first operation, keep running operations this long
#: before measuring: JIT-compiled code keeps getting faster for tens of
#: seconds, and a run cannot afford to wait for all of it.
WARMUP_SECONDS = 2.0
#: Operation indices used by warm-up (kept clear of the measured ones).
WARMUP_INDEX = -1000


@dataclass
class OpResult:
    index: int
    latency_s: float
    error: str | None
    value: object = None


# --- host ---------------------------------------------------------------------------


def _proc_children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as fh:
                data = fh.read()
        except OSError:
            continue
        ppid = int(data[data.rindex(b")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def tree_rss_bytes(pid: int) -> int:
    """Resident bytes of ``pid`` and all its descendants (the Spark
    JVM and the Python workers it forks), read from /proc.  Each
    process counts its proportional set size, so pages a forked worker
    shares with its parent are counted once."""
    kids, todo, total = _proc_children(), [pid], 0
    while todo:
        p = todo.pop()
        todo.extend(kids.get(p, []))
        try:
            with open(f"/proc/{p}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


class RssSampler:
    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
            if self._stop.wait(self.interval):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


class Host:
    """Per-run temporary directory and Spark session lifecycle.

    The JVM heap is sized to the host (a quarter of RAM, at most
    2 GiB, ample for these inputs); warehouse, local dirs, JVM temp files and event logs live in
    a per-run directory that ``close`` removes."""

    def __init__(self):
        self.cpus = os.cpu_count() or 1
        with open("/proc/meminfo") as fh:
            mem_mb = int(fh.readline().split()[1]) // 1024
        self.heap_mb = min(2048, mem_mb // 4)
        self.tmp = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
        shutil.rmtree(self.tmp, ignore_errors=True)
        for d in ("local", "jvm", "events", "warehouse"):
            os.makedirs(os.path.join(self.tmp, d))
        self.events = os.path.join(self.tmp, "events")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.tmp, "local")
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        )
        os.environ["PYSPARK_PYTHON"] = sys.executable
        self.spark = None
        self.sessions = 0

    def start(self, event_log: bool):
        from pyspark import SparkConf, SparkContext

        from myfitnesspaw_spark.session import get_spark

        self.stop()
        self.sessions += 1
        conf = SparkConf().setAll(
            [
                ("spark.master", f"local[{self.cpus}]"),
                ("spark.driver.memory", f"{self.heap_mb}m"),
                ("spark.local.dir", os.path.join(self.tmp, "local")),
                ("spark.sql.warehouse.dir", os.path.join(self.tmp, "warehouse", str(self.sessions))),
                (
                    "spark.driver.extraJavaOptions",
                    f"-Xms{self.heap_mb}m -Djava.io.tmpdir={os.path.join(self.tmp, 'jvm')} -XX:-UsePerfData -XX:+UseParallelGC",
                ),
                ("spark.ui.enabled", "false"),
                ("spark.ui.showConsoleProgress", "false"),
                ("spark.eventLog.enabled", "true" if event_log else "false"),
                ("spark.eventLog.dir", self.events),
                ("spark.eventLog.compress", "false"),
            ]
        )
        SparkContext.getOrCreate(conf)
        self.spark = get_spark("perfbench", cpus=self.cpus)
        return self.spark

    def reset_event_log(self) -> None:
        shutil.rmtree(self.events, ignore_errors=True)
        os.makedirs(self.events)

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop Spark, end the JVM and wait for it, remove temporary state."""
        from pyspark import SparkContext

        self.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except Exception:
                    proc.kill()
                    proc.wait()
        shutil.rmtree(self.tmp, ignore_errors=True)


# --- measuring ----------------------------------------------------------------------


def measure(wl, spark, tracer, seconds: float, first_index: int) -> tuple[list[OpResult], float]:
    """Closed loop: ``wl.clients`` threads, each sending its next
    operation only after the previous one returned.  Returns the results
    and the wall time from the first send to the last reply."""
    wl.tr = tracer
    results: list[OpResult] = []
    lock = threading.Lock()
    next_index = [first_index]
    start = time.perf_counter()
    deadline = start + seconds
    last_end = [start]

    def client() -> None:
        while time.perf_counter() < deadline:
            with lock:
                i = next_index[0]
                next_index[0] += 1
            t0 = time.perf_counter()
            err, value = None, None
            try:
                with tracer.span(spark, "op", f"{wl.name}-{i}"):
                    value = wl.op(spark, i)
            except Exception as e:  # fault isolation: record, count, go on
                traceback.print_exc(file=sys.stderr)
                err = repr(e)
            t1 = time.perf_counter()
            with lock:
                results.append(OpResult(i, t1 - t0, err, value))
                last_end[0] = max(last_end[0], t1)

    threads = [threading.Thread(target=client) for _ in range(wl.clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return sorted(results, key=lambda r: r.index), last_end[0] - start


def setup(host: Host, workload: str, seed: int, trace: bool) -> tuple[object, list[float], float]:
    """``SETUP_ROUNDS`` identical set-ups from nothing (session start,
    input generation, backfill); the last one is kept, warmed up (one
    cold operation, then ``WARMUP_SECONDS`` of operations) and given
    its expected outputs.  Returns the workload, the set-up times and
    the warm-up time.  The first round also pays JVM start and cold
    code paths."""
    times, wl, prev_root = [], None, None
    for r in range(SETUP_ROUNDS):
        host.stop()
        root = os.path.join(host.tmp, f"setup{r}")
        t0 = time.perf_counter()
        spark = host.start(event_log=trace)
        wl = WORKLOADS[workload](seed, tracing.Tracer(False))
        wl.generate(root)
        wl.prepare(spark)
        times.append(time.perf_counter() - t0)
        if prev_root:
            shutil.rmtree(prev_root, ignore_errors=True)
        prev_root = root
    t0 = time.perf_counter()
    wl.warmup(spark)
    measure(wl, spark, tracing.Tracer(False), WARMUP_SECONDS, WARMUP_INDEX)
    warmup_s = time.perf_counter() - t0
    wl.expect()
    return wl, times, warmup_s


def _ok(results: list[OpResult]) -> list[float]:
    return [r.latency_s for r in results if not r.error]


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")


def user_lines(wl, results, elapsed, setup_times, peak_rss, attempted, failed, extra) -> list[tuple]:
    """The figures of one workload under its own names: (name, value, unit, note)."""
    lat = _ok(results)
    n = len(lat)
    rows = [("setup_s", _median(setup_times), "s", "median of " + ", ".join(f"{t:.3f}" for t in setup_times))]
    if isinstance(wl, EtlIncremental):
        rows.append(("etl_increment_s", _median(lat), "s", f"median, n={n}"))
    elif isinstance(wl, CorpusDedup):
        rows.append(("dedup_run_s", _median(lat), "s", f"median, n={n}"))
    else:
        ms = [x * 1000 for x in lat]
        p90 = stats.tail_percentile(ms, 0.9)
        rows.append(("report_p50_ms", _median(ms), "ms", f"n={n}"))
        rows.append(
            (
                "report_p90_ms",
                p90 if p90 is not None else float("nan"),
                "ms",
                f"n={n}" if p90 is not None else f"n={n}: needs {stats.MIN_TAIL} samples beyond p90; run longer",
            )
        )
        rows.append(("report_rps", n / elapsed if elapsed else 0.0, "1/s", f"{wl.clients} clients"))
    for name, (value, unit) in extra.items():
        rows.append((name, value, unit, ""))
    rows.append(("peak_rss_mb", peak_rss / 2**20, "MB", "Spark JVM + Python workers"))
    rows.append(("failed_ratio", failed / attempted if attempted else 1.0, "ratio", f"{failed}/{attempted}"))
    return rows


def _as_metrics(values: dict, kind: str) -> dict:
    """Every ``kind`` metric ``BENCHMARK.json`` names, in its order, with its unit."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        specs = json.load(fh)[kind]
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in specs}


def end_to_end(results, elapsed, setup_times, peak_rss) -> dict:
    lat = _ok(results)
    values = {
        "setup_s": _median(setup_times),
        "op_p50_ms": _median(lat) * 1000,
        "ops_per_s": len(lat) / elapsed if elapsed else 0.0,
        "peak_rss_mb": peak_rss / 2**20,
    }
    return _as_metrics(values, "end_to_end")


def per_layer(wl, spans, groups, untraced, traced, setup_times, warmup_s, extra, candidates) -> dict:
    """Per-layer figures from the traced half: mean per operation of
    each layer's self time and counts, plus engine counters."""
    selfs = tracing.self_times(spans)
    ops = [s for s in spans if s.name == "op"]
    n_ops = max(len(ops), 1)

    def named(name):
        return [s for s in spans if s.name == name]

    def self_s(name):
        return sum(selfs[s.id] for s in named(name)) / n_ops

    def count(name, key):
        return sum(s.counts.get(key, 0) for s in named(name)) / n_ops

    def ratio(a, b):
        return a / b if b else 0.0

    plan_spans = named("plans.progress") + named("plans.nutrition")
    plan_groups = [groups.get(s.id, tracing.GroupStats()) for s in plan_spans]
    n_req = n_ops
    plan_ms = [
        g.first_job_ms - s.start * 1000 for s, g in zip(plan_spans, plan_groups) if g.first_job_ms
    ]
    exec_ms = [s.end * 1000 - g.first_job_ms for s, g in zip(plan_spans, plan_groups) if g.first_job_ms]
    all_groups = [groups[s.id] for s in spans if s.id in groups]
    tasks = sum(g.tasks for g in all_groups)
    fetch_rows = sum(s.counts.get("rows", 0) for s in named("sources.fetch"))
    diff_rows = sum(s.counts.get("diff_rows", 0) for s in named("incremental.diff"))
    replaced = named("incremental.replace")
    rows_rewritten = sum(s.counts.get("rows", 0) for s in replaced)
    untouched = sum(s.counts.get("untouched_rows", 0) for s in replaced)
    verified = count("dedup.verify", "verified_pairs")
    bytes_written = count("sinks.write", "bytes")
    values = {
        "sources.fetch_s": self_s("sources.fetch"),
        "sources.fetch_rows": fetch_rows / n_ops,
        "sources.fetch_useful_ratio": ratio(diff_rows, fetch_rows),
        "sources.scan_bytes": sum(g.input_bytes for g in plan_groups) / n_req,
        "sources.scan_rows_per_result_row": ratio(
            sum(g.input_records for g in plan_groups), sum(s.counts.get("rows", 0) for s in plan_spans)
        ),
        "incremental.diff_s": self_s("incremental.diff"),
        "incremental.stored_rows_read": count("incremental.diff", "stored_rows"),
        "incremental.replace_s": self_s("incremental.replace"),
        "normalize.s": self_s("normalize"),
        "normalize.rows_out": count("normalize", "rows"),
        "sinks.write_s": self_s("sinks.write"),
        "sinks.files_written": count("sinks.write", "files"),
        "sinks.bytes_written": bytes_written,
        "sinks.bytes_rewritten": bytes_written * ratio(untouched, rows_rewritten),
        "etl.bytes_per_user_byte": extra.get("etl_bytes_per_user_byte", (0.0, ""))[0],
        "plans.plan_ms": _median(plan_ms) if plan_ms else 0.0,
        "plans.exec_ms": _median(exec_ms) if exec_ms else 0.0,
        "plans.jobs_per_request": sum(g.jobs for g in plan_groups) / n_req,
        "plans.tasks_per_request": sum(g.tasks for g in plan_groups) / n_req,
        "plans.shuffle_bytes": sum(g.shuffle_write_bytes for g in plan_groups) / n_req,
        "report.render_ms": self_s("report.render") * 1000,
        "dedup.signature_s": self_s("dedup.signature"),
        "dedup.candidate_pairs": float(candidates),
        "dedup.verified_pairs": verified,
        "dedup.candidate_precision": ratio(verified, candidates),
        "dedup.verify_s": self_s("dedup.verify"),
        "dedup.cc_rounds": count("dedup.cc", "rounds"),
        "dedup.cc_s": self_s("dedup.cc"),
        "engine.jobs": sum(g.jobs for g in all_groups) / n_ops,
        "engine.tasks": tasks / n_ops,
        "engine.shuffle_write_bytes": sum(g.shuffle_write_bytes for g in all_groups) / n_ops,
        "engine.spill_bytes": sum(g.spill_bytes for g in all_groups) / n_ops,
        "engine.gc_s": sum(g.gc_ms for g in all_groups) / 1000 / n_ops,
        "engine.task_wait_ms": ratio(sum(g.task_wait_ms for g in all_groups), tasks),
        "op.self_ms": self_s("op") * 1000,
        "setup.first_s": setup_times[0],
        "setup.warmup_s": warmup_s,
        "trace.overhead_ms": (_median(_ok(traced)) - _median(_ok(untraced))) * 1000,
    }
    return _as_metrics(values, "per_layer")


def run_workload(host: Host, workload: str, seed: int, seconds: float, trace: bool) -> dict:
    host.reset_event_log()  # span ids restart per workload
    t_start = time.perf_counter()
    wl, setup_times, warmup_s = setup(host, workload, seed, trace)
    t_measure = time.perf_counter()
    spark = host.spark
    off = tracing.Tracer(False)
    with RssSampler() as rss:
        if trace:
            untraced, elapsed_a = measure(wl, spark, off, seconds / 2, 0)
            tracer = tracing.Tracer(True)
            traced, elapsed_b = measure(wl, spark, tracer, seconds / 2, len(untraced))
            results, elapsed = untraced + traced, elapsed_a + elapsed_b
        else:
            results, elapsed = measure(wl, spark, off, seconds, 0)
    wl.tr = off
    t_verify = time.perf_counter()
    attempted, failed = wl.verify(spark, results)
    extra = wl.user_metrics(spark)
    print(
        f"{workload}: set-up and warm-up {t_measure - t_start:.1f} s, measured {t_verify - t_measure:.1f} s,"
        f" checks {time.perf_counter() - t_verify:.1f} s",
        file=sys.stderr,
        flush=True,
    )
    lines = user_lines(wl, results, elapsed, setup_times, rss.peak, attempted, failed, extra)
    lat = " ".join(f"{r.latency_s:.3f}" for r in results)
    print(f"{workload:16s} {'op latencies (s)':24s} {lat}", flush=True)
    for name, value, unit, note in lines:
        print(f"{workload:16s} {name:24s} {value:14.4f} {unit:6s} {note}", flush=True)
    out = {"attempted": attempted, "failed": failed}
    if not trace:
        out["metrics"] = end_to_end(results, elapsed, setup_times, rss.peak)
        return out
    candidates = 0
    if isinstance(wl, CorpusDedup):
        candidates = wl.candidate_probe(spark)
    host.stop()  # flushes the event log
    spans = tracer.spans
    os.makedirs(os.path.join(ROOT, ".perfbench", "spans"), exist_ok=True)
    tracing.write_spans(spans, os.path.join(ROOT, ".perfbench", "spans", f"{workload}-seed{seed}.jsonl"))
    groups = tracing.read_event_log(host.events)
    out["metrics"] = per_layer(wl, spans, groups, untraced, traced, setup_times, warmup_s, extra, candidates)
    for name, m in out["metrics"].items():
        print(f"{workload:16s} {name:34s} {m['value']:16.4f} {m['unit']}", flush=True)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=8.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if args.seed < 0:
        ap.error("--seed must be >= 0")
    names = list(WORKLOADS) if args.workload == "all" else [args.workload]
    host = Host()
    try:
        outs = {n: run_workload(host, n, args.seed, args.seconds, bool(args.trace)) for n in names}
    finally:
        host.close()
    attempted = sum(o["attempted"] for o in outs.values())
    failed = sum(o["failed"] for o in outs.values())
    if len(names) == 1:
        metrics = outs[names[0]]["metrics"]
    else:
        metrics = {f"{n}.{k}": v for n, o in outs.items() for k, v in o["metrics"].items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
