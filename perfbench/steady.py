#!/usr/bin/env python3
"""Steadiness check: run sets of seeds and compare two sets of runs.

Run one set (one benchmark run per seed and workload, results kept as
JSON files in DIR)::

    python3 perfbench/steady.py run DIR --seeds 1-10 [--workload NAME ...]

Compare two sets of runs of the same code::

    python3 perfbench/steady.py compare DIR_A [DIR_B]

For every workload and end-to-end metric of BENCHMARK.json this prints
each set's median and spread (inter-quartile distance over the median,
from ``statistics.quantiles(values, n=4)``) and the change of B's median
against A's in the worse direction.  A metric is outside its bound when
a spread (setup_s excepted) exceeds the bound, or B's median is worse
than A's by more than the bound.  Every such metric is listed and the
exit status is 1.  With one directory only the spreads are checked.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _seeds(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def run_set(out_dir: str, seeds: list[int], workloads: list[str]) -> int:
    bench = _bench()
    os.makedirs(out_dir, exist_ok=True)
    status = 0
    for w in workloads:
        for seed in seeds:
            cmd = bench["command"] + [
                "--workload", w, "--seed", str(seed),
                "--seconds", str(bench["run_seconds"]), "--trace", "0",
            ]
            t0 = time.perf_counter()
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            wall = time.perf_counter() - t0
            lines = proc.stdout.strip().splitlines()
            try:
                result = json.loads(lines[-1])
            except (IndexError, ValueError):
                result = None
            if proc.returncode != 0 or result is None:
                status = 1
                print(f"{w} seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
                continue
            result["wall_s"] = wall
            with open(os.path.join(out_dir, f"{w}-seed{seed}.json"), "w") as fh:
                json.dump(result, fh)
            print(
                f"{w} seed {seed}: {wall:.1f}s wall, failed {result['failed']}/{result['attempted']}, "
                + ", ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()),
                flush=True,
            )
    return status


def _load(d: str) -> dict[str, dict[str, list[float]]]:
    out: dict[str, dict[str, list[float]]] = {}
    for f in sorted(os.listdir(d)):
        if not f.endswith(".json"):
            continue
        with open(os.path.join(d, f)) as fh:
            r = json.load(fh)
        w = f.rsplit("-seed", 1)[0]
        for k, v in r["metrics"].items():
            out.setdefault(w, {}).setdefault(k, []).append(v["value"])
    return out


def spread(values: list[float]) -> float:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")


def compare(dir_a: str, dir_b: str | None) -> int:
    bench = _bench()
    sets = [_load(dir_a)] + ([_load(dir_b)] if dir_b else [])
    outside = []
    print(f"{'workload':14s} {'metric':12s} {'bound':>6s} {'median A':>10s} {'spread A':>9s}"
          + (f" {'median B':>10s} {'spread B':>9s} {'worse':>7s}" if dir_b else ""))
    for w in sorted(sets[0]):
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            vals = [s.get(w, {}).get(name, []) for s in sets]
            if any(len(v) < 2 for v in vals):
                outside.append(f"{w} {name}: fewer than two runs")
                continue
            meds = [statistics.median(v) for v in vals]
            spreads = [spread(v) for v in vals]
            row = f"{w:14s} {name:12s} {bound:6.3f} {meds[0]:10.4g} {spreads[0]:9.3f}"
            for i, sp in enumerate(spreads):
                if name != "setup_s" and sp > bound:
                    outside.append(f"{w} {name}: spread {sp:.3f} of set {'AB'[i]} > bound {bound}")
            if dir_b:
                sign = 1 if m["better"] == "lower" else -1
                worse = sign * (meds[1] - meds[0]) / meds[0]
                row += f" {meds[1]:10.4g} {spreads[1]:9.3f} {worse:7.3f}"
                if worse > bound:
                    outside.append(f"{w} {name}: median B worse than A by {worse:.3f} > bound {bound}")
            print(row)
    for line in outside:
        print("OUTSIDE " + line)
    print("all metrics within bounds" if not outside else f"{len(outside)} outside")
    return 1 if outside else 0


def main() -> int:
    ap = argparse.ArgumentParser(description="Run and compare sets of benchmark runs.")
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("dir")
    r.add_argument("--seeds", default="1-10")
    r.add_argument("--workload", action="append")
    c = sub.add_parser("compare")
    c.add_argument("dir_a")
    c.add_argument("dir_b", nargs="?")
    args = ap.parse_args()
    if args.cmd == "run":
        names = args.workload or [w["name"] for w in _bench()["workloads"]]
        return run_set(args.dir, _seeds(args.seeds), names)
    return compare(args.dir_a, args.dir_b)


if __name__ == "__main__":
    sys.exit(main())
