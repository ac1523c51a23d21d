#!/usr/bin/env python3
"""Run one workload over several seeds and report, per metric, the median and
the quartile spread: (Q3 - Q1) / median, with quartiles as
statistics.quantiles(values, n=4) gives them.

    python3 perfbench/spread.py --workload cycle --seeds 1-10 [--trace 0] [--seconds 10]

--seconds defaults to BENCHMARK.json's run_seconds. Every run's result line is
appended to perfbench/out/spread-<workload>.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spread(values):
    """Quartile distance as a share of the median."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def seeds(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds, required=True, help="e.g. 1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--seconds", type=int)
    a = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        seconds = a.seconds or json.load(fh)["run_seconds"]
    log = os.path.join(HERE, "out", f"spread-{a.workload}.jsonl")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    results = []
    for s in a.seeds:
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                            "--seed", str(s), "--seconds", str(seconds), "--trace", str(a.trace)],
                           capture_output=True, text=True)
        if r.returncode != 0:
            sys.exit(f"seed {s}: exit {r.returncode}\n{r.stderr[-2000:]}")
        res = json.loads(r.stdout.strip().splitlines()[-1])
        res["seed"] = s
        results.append(res)
        with open(log, "a") as fh:
            fh.write(json.dumps(res) + "\n")
        print(f"seed {s}: correct={res['correct']} attempted={res['attempted']} failed={res['failed']}", flush=True)
    for name in results[0]["metrics"]:
        v = [r["metrics"][name]["value"] for r in results]
        print(f"{name}: median {statistics.median(v):.6g} {results[0]['metrics'][name]['unit']}, "
              f"spread {spread(v):.3f} over {len(v)} seeds")


if __name__ == "__main__":
    main()
