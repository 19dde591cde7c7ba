#!/usr/bin/env python3
"""Steadiness check: run one workload once per seed and report, for every
end-to-end metric, the median and the spread (distance between the first and
third quartile as a share of the median) against the metric's bound.

    python3 perfbench/steady.py --workload ingest --seeds 1-10 [--seconds N]

Each run's metric line is appended to .bench_work/steady-<workload>.jsonl.
"""

import argparse
import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import stats  # noqa: E402


def seeds(arg):
    out = []
    for part in arg.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = args.seconds or spec["run_seconds"]
    log = os.path.join(ROOT, ".bench_work", "steady-%s.jsonl" % args.workload)
    os.makedirs(os.path.dirname(log), exist_ok=True)
    values = {m["name"]: [] for m in spec["end_to_end"]}
    for seed in seeds(args.seeds):
        out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                              args.workload, "--seed", str(seed), "--seconds", str(seconds),
                              "--trace", "0"], cwd=ROOT, stdout=subprocess.PIPE,
                             stderr=subprocess.PIPE, text=True)
        line = json.loads(out.stdout.strip().splitlines()[-1])
        steal = re.search(r"cpu steal ([0-9.]+)%", out.stderr)
        steal = float(steal.group(1)) if steal else None
        with open(log, "a") as f:
            f.write(json.dumps({"seed": seed, "steal_pct": steal, **line}) + "\n")
        print("seed %d: correct=%s steal=%s%% %s" % (seed, line["correct"], steal, " ".join(
            "%s=%.4g" % (k, v["value"]) for k, v in line["metrics"].items())), flush=True)
        for k, v in line["metrics"].items():
            values[k].append(v["value"])
    for m in spec["end_to_end"]:
        xs = values[m["name"]]
        if len(xs) < 2:
            continue
        s = stats.spread(xs)
        print("%-18s median %12.4f %-4s spread %.3f  bound %.2f  (%s a third of it)" % (
            m["name"], stats.median(xs), m["unit"], s, m["bound"],
            "below" if s < m["bound"] / 3 else "NOT below"))


if __name__ == "__main__":
    main()
