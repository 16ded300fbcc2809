#!/usr/bin/env python3
"""Run the benchmark once per seed and report each metric's spread.

    python3 pipebench/spread.py --workloads hourly dedup_ticks --seeds 1-10

For every end-to-end metric (or per-layer metric with --trace 1) it
prints the median and the quartile spread, (Q3 - Q1) / median, with
quartiles as `statistics.quantiles(values, n=4)` gives them, next to the
metric's bound from BENCHMARK.json. Raw result lines are appended to
--out as JSON lines. Runs are sequential; run from the checkout root.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", default=os.path.join(HERE, "work", "spread.jsonl"))
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    os.makedirs(os.path.dirname(a.out), exist_ok=True)
    for w in a.workloads:
        values, wall = {}, []
        for s in seeds(a.seeds):
            t0 = time.time()
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(s), "--seconds", str(bench["run_seconds"]),
                 "--trace", str(a.trace)],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            wall.append(time.time() - t0)
            lines = p.stdout.strip().splitlines()
            res = json.loads(lines[-1]) if lines else {}
            ctx = [json.loads(l.split(" context ", 1)[1]) for l in lines
                   if l.startswith("[pipebench] context ")]
            with open(a.out, "a") as f:
                f.write(json.dumps({"workload": w, "seed": s, "trace": a.trace,
                                    "exit": p.returncode, "wall_s": wall[-1],
                                    "context": ctx[0] if ctx else None,
                                    "result": res}, ensure_ascii=False) + "\n")
            if p.returncode != 0 or not res.get("correct"):
                print(f"{w} seed {s}: exit {p.returncode}, correct={res.get('correct')}")
            for k, v in res.get("metrics", {}).items():
                values.setdefault(k, []).append(v["value"])
        print(f"\n{w}: {len(wall)} runs, {sum(wall):.0f} s total, "
              f"{statistics.mean(wall):.1f} s per run")
        for k, vs in values.items():
            med = statistics.median(vs)
            if len(vs) >= 2 and med:
                q1, _, q3 = statistics.quantiles(vs, n=4)
                spread = f"{(q3 - q1) / abs(med):.3f}"
            else:
                spread = "-"
            bound = bounds.get(k)
            print(f"  {k:28s} median {med:14.4f}  spread {spread:>6s}"
                  + (f"  bound {bound}" if bound is not None and a.trace == 0 else ""))


if __name__ == "__main__":
    main()
