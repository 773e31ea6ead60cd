#!/usr/bin/env python3
"""Runs the benchmark over several seeds and summarises each metric.

    python3 kgbench/repeat.py --workload stream_cdc --seeds 1-10 [--trace 0]
        [--seconds 20] [--out kgbench/baseline/stream_cdc-set1.json]

For every metric it prints the median, the quartiles (as
statistics.quantiles(values, n=4) gives them) and the spread: the
interquartile distance as a share of the median. With --out the metric
lines and the summary are written as JSON.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def summarise(lines):
    names = list(lines[0]["metrics"]) if lines else []
    out = {}
    for n in names:
        vs = [l["metrics"][n]["value"] for l in lines]
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (vs[0], 0, vs[0])
        out[n] = {"median": med, "q1": q1, "q3": q3,
                  "spread": (q3 - q1) / abs(med) if med else 0.0, "values": vs}
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--seconds", default=None)
    ap.add_argument("--out")
    a = ap.parse_args()
    if a.seconds is None:
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            a.seconds = str(json.load(f)["run_seconds"])
    lines, walls = [], []
    for s in seeds(a.seeds):
        t0 = time.time()
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                            "--seed", str(s), "--seconds", a.seconds, "--trace", a.trace],
                           capture_output=True, text=True)
        walls.append(time.time() - t0)
        if p.returncode != 0:
            print(f"seed {s}: exit {p.returncode}: {p.stderr.strip()[-300:]}", file=sys.stderr)
            continue
        line = json.loads(p.stdout.strip().splitlines()[-1])
        line["seed"] = s
        lines.append(line)
        print(f"seed {s}: {walls[-1]:.0f} s correct={line['correct']} failed={line['failed']}",
              file=sys.stderr)
    summary = summarise(lines)
    for n, v in summary.items():
        print(f"{n:40s} median {v['median']:.6g}  q1 {v['q1']:.6g}  q3 {v['q3']:.6g}  "
              f"spread {v['spread']:.4f}")
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"workload": a.workload, "trace": a.trace, "seconds": a.seconds,
                       "run_wall_s": walls, "lines": lines, "summary": summary}, f, indent=1)


if __name__ == "__main__":
    main()
