#!/usr/bin/env python3
"""Alternating parent/change pairs of the benchmark, judged metric by metric.

    tools/bench_pairs.py <parentDir> <changeDir> --workload serve_mixed \\
        --seeds 201 202 203 204 205 206 207 208 209 210 --log pairs.jsonl \\
        [--trace 0]

Each directory is a checkout (e.g. the parent commit unpacked with
`git archive` next to the working tree). For every seed one pair runs
`python3 perfbench/run.py --workload W --seed S --seconds N --trace T` in
both directories, one after the other, N being the parent's BENCHMARK.json
`run_seconds` so both sides run the benchmark's own length; the side that
runs first alternates from pair to pair so warm-up drift of the machine
falls on both alike. `--workload` may be given more than once.

Every run's result JSON line is appended to `--log` as
{"workload", "seed", "side", "order", "result"}, so no run is lost.
The report then gives, per workload and metric: each side's median and
quartiles, how many pairs the change read better (ties count for
neither), and the verdict:

- `gain`: the change is better in at least nine tenths of the pairs and
  its median beats the parent's by more than the parent's interquartile
  range;
- `worse`: the change's median is worse than the parent's by more than
  the metric's bound in BENCHMARK.json (relative to the parent's median);
- `within bound` otherwise, marked `(unresolved)` when the parent's own
  interquartile range is wider than that bound.

Which direction is better comes from BENCHMARK.json (`end_to_end` and
`per_layer`); a metric it does not list is reported without a verdict.
Failed operations per side are printed with the report. Exit status is
non-zero when a run produced no result line.
"""

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path


def parse_args():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent", type=Path)
    ap.add_argument("change", type=Path)
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--seeds", nargs="+", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--log", type=Path, required=True)
    return ap.parse_args()


def run_once(checkout, workload, seed, seconds, trace):
    """One benchmark run in `checkout`; its last stdout line parsed, or None."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                          stderr=subprocess.DEVNULL, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        return None
    return json.loads(lines[-1])


def benchmark_spec(checkout):
    """(run_seconds, name -> (better, bound or None)) from BENCHMARK.json."""
    bench = json.loads((checkout / "BENCHMARK.json").read_text())
    specs = {m["name"]: (m["better"], None) for m in bench.get("per_layer", [])}
    specs.update({m["name"]: (m["better"], m.get("bound")) for m in bench["end_to_end"]})
    return bench["run_seconds"], specs


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def judge(parent, change, better, bound):
    """(wins, verdict) over paired values; `better` is "lower" or "higher"."""
    sign = 1 if better == "lower" else -1
    wins = sum(1 for p, c in zip(parent, change) if sign * (p - c) > 0)
    p1, pm, p3 = quartiles(parent)
    _, cm, _ = quartiles(change)
    gap = sign * (pm - cm)  # > 0: the change's median is better
    if wins * 10 >= 9 * len(parent) and gap > p3 - p1:
        return wins, "gain"
    if bound is None:
        return wins, ""
    if -gap > bound * abs(pm):
        return wins, "worse"
    return wins, "within bound" + (" (unresolved)" if p3 - p1 > bound * abs(pm) else "")


def report(workload, runs, specs):
    pairs = [(runs[("parent", s)], runs[("change", s)]) for s in sorted({s for _, s in runs})
             if ("parent", s) in runs and ("change", s) in runs]
    print(f"\n== {workload}: {len(pairs)} pairs")
    for side, i in (("parent", 0), ("change", 1)):
        failed = sum(int(p[i]["failed"]) for p in pairs)
        attempted = sum(int(p[i]["attempted"]) for p in pairs)
        wrong = sum(1 for p in pairs if str(p[i]["correct"]).lower() != "true")
        print(f"{side}: {failed} failed of {attempted} operations, {wrong} runs not correct")
    names = sorted(set.intersection(*(set(p[0]["metrics"]) & set(p[1]["metrics"])
                                      for p in pairs))) if pairs else []
    print(f"{'metric':40} {'parent median [q1-q3]':>30} {'change median [q1-q3]':>30}"
          f" {'better':>7}  verdict")
    for name in names:
        pv = [p[0]["metrics"][name]["value"] for p in pairs]
        cv = [p[1]["metrics"][name]["value"] for p in pairs]
        better, bound = specs.get(name, (None, None))
        wins, verdict = judge(pv, cv, better, bound) if better else (None, "")
        fmt = lambda q: f"{q[1]:.4g} [{q[0]:.4g}-{q[2]:.4g}]"  # noqa: E731
        won = f"{wins}/{len(pairs)}" if wins is not None else "-"
        print(f"{name:40} {fmt(quartiles(pv)):>30} {fmt(quartiles(cv)):>30} {won:>7}  {verdict}")


def main():
    args = parse_args()
    seconds, specs = benchmark_spec(args.parent)
    missing = 0
    for workload in args.workload:
        runs = {}
        for i, seed in enumerate(args.seeds):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for pos, side in enumerate(order):
                checkout = args.parent if side == "parent" else args.change
                result = run_once(checkout, workload, seed, seconds, args.trace)
                with args.log.open("a") as log:
                    log.write(json.dumps({"workload": workload, "seed": seed, "side": side,
                                          "order": pos, "result": result}) + "\n")
                if result is None:
                    missing += 1
                    print(f"{workload} seed {seed} {side}: no result", file=sys.stderr)
                else:
                    runs[(side, seed)] = result
        report(workload, runs, specs)
    return 1 if missing else 0


if __name__ == "__main__":
    sys.exit(main())
