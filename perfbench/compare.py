"""Collect benchmark runs and compare two sets of them (parent vs change).

    # ten pairs, alternating which side runs first, every workload
    python3 perfbench/compare.py run --side parent=../parent --side change=. \\
        --runs 10 --out runs.jsonl
    # per side, workload and end-to-end metric: median, quartiles,
    # spread vs bound; with two sides also pair wins and the verdict
    python3 perfbench/compare.py report runs.jsonl --parent parent --change change

Each side is a checkout that holds ``perfbench/run.py``; pair ``i``
uses seed ``first_seed + i`` on both sides.  Metric names, directions
and bounds come from this checkout's ``BENCHMARK.json``.  The verdict
rule is ``stats.verdict``: gain (change wins >= 9/10 of the pairs and
the medians differ by more than the parent's interquartile range),
unresolved (a spread wider than the bound), regression, or no change.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time
import stats

HERE = os.path.dirname(os.path.abspath(__file__))
SPEC_PATH = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")


def load_spec(path: str = SPEC_PATH) -> dict:
    with open(path, encoding="utf-8") as fh:
        return json.load(fh)


def run_once(checkout: str, workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        return {"error": f"exit {proc.returncode}: {proc.stderr[-500:]}"}
    return {**json.loads(lines[-1]), "lines": lines[:-1]}


def cmd_run(args) -> None:
    spec = load_spec()
    sides = [s.split("=", 1) for s in args.side]
    workloads = [w["name"] for w in spec["workloads"]] if args.workloads == "all" else args.workloads.split(",")
    seconds = args.seconds or spec["run_seconds"]
    with open(args.out, "a", encoding="utf-8") as out:
        for pair in range(args.runs):
            seed = args.first_seed + pair
            order = sides if pair % 2 == 0 else sides[::-1]
            for workload in workloads:
                for name, checkout in order:
                    t0 = time.monotonic()
                    result = run_once(os.path.abspath(checkout), workload, seed, seconds)
                    rec = {"side": name, "workload": workload, "seed": seed, "pair": pair,
                           "wall_s": round(time.monotonic() - t0, 1), "result": result}
                    out.write(json.dumps(rec) + "\n")
                    out.flush()
                    print(json.dumps(rec), flush=True)


def _series(records, side, workload, metric) -> dict[int, float]:
    return {
        r["pair"]: r["result"]["metrics"][metric]["value"]
        for r in records
        if r["side"] == side and r["workload"] == workload and metric in r["result"].get("metrics", {})
    }


def cmd_report(args) -> int:
    spec = load_spec()
    with open(args.runs, encoding="utf-8") as fh:
        records = [json.loads(line) for line in fh if line.strip()]
    sides = [args.parent] + ([args.change] if args.change else [])
    worst = 0.0
    for wl in sorted({r["workload"] for r in records}):
        print(f"== {wl}")
        for side in sides:
            rs = [r for r in records if r["side"] == side and r["workload"] == wl]
            failed = sum(r["result"].get("failed", 1) for r in rs)
            attempted = sum(r["result"].get("attempted", 0) for r in rs)
            print(f"   {side}: {len(rs)} runs, failed {failed}/{attempted}")
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            cols = []
            for side in sides:
                vals = list(_series(records, side, wl, name).values())
                if not vals:
                    continue
                q1, med, q3 = stats.quartiles(vals)
                sp = stats.spread(vals)
                if side == args.parent and name != "setup_s":
                    worst = max(worst, sp / bound)
                cols.append(f"{side}: median {med:.4g} q1 {q1:.4g} q3 {q3:.4g} spread {sp:.3f}/{bound}")
            line = f"   {name:14s} " + " | ".join(cols)
            if args.change:
                p = _series(records, args.parent, wl, name)
                c = _series(records, args.change, wl, name)
                common = sorted(set(p) & set(c))
                pv, cv = [p[i] for i in common], [c[i] for i in common]
                if common:
                    wins, n = stats.pair_wins(pv, cv, m["better"])
                    line += f" | change wins {wins}/{n} -> {stats.verdict(pv, cv, m['better'], bound)}"
            print(line)
    print(f"largest spread/bound (setup_s excluded): {worst:.3f}")
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run", help="run the benchmark on one or two checkouts")
    r.add_argument("--side", action="append", required=True, help="NAME=CHECKOUT_DIR (once or twice)")
    r.add_argument("--workloads", default="all", help="comma-separated names, or all")
    r.add_argument("--runs", type=int, default=10)
    r.add_argument("--first-seed", type=int, default=1)
    r.add_argument("--seconds", type=int, default=0, help="default: run_seconds from BENCHMARK.json")
    r.add_argument("--out", required=True)
    p = sub.add_parser("report", help="summarize runs and give the verdict")
    p.add_argument("runs")
    p.add_argument("--parent", required=True)
    p.add_argument("--change")
    args = ap.parse_args(argv)
    if args.cmd == "run":
        cmd_run(args)
        return 0
    return cmd_report(args)


if __name__ == "__main__":
    sys.exit(main())
