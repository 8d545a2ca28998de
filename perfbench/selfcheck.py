#!/usr/bin/env python3
"""Self-check of the benchmark: runs every workload in a tiny form (the
catalog at the sf0.001 lake, a few seconds of the stream) and asserts that

  * each run is correct and prints every metric of BENCHMARK.json with its
    unit (end-to-end with --trace 0, per-layer with --trace 1);
  * the count metrics (*.jobs, *.stages, *.tasks, late.rows_generated,
    sink.rows_out) are identical across two traced runs of one seed.

    python3 perfbench/selfcheck.py [--seed N] [--seconds S]

Exit code 0 when every assertion holds.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
COUNT_SUFFIXES = (".jobs", ".stages", ".tasks", "_stages")
COUNT_NAMES = ("late.rows_generated", "sink.rows_out")


def run(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
    return p.returncode, json.loads(last)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--seconds", type=float, default=2)
    args = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    problems = []
    for w in [x["name"] for x in spec["workloads"]]:
        results = {}
        for trace, rep in [(0, 0), (1, 0), (1, 1)]:
            code, res = run(w, args.seed, args.seconds, trace)
            tag = f"{w} trace={trace} rep={rep}"
            if code != 0 or not res.get("correct"):
                problems.append(f"{tag}: exit {code}, result {json.dumps(res)[:300]}")
            wanted = spec["per_layer"] if trace else spec["end_to_end"]
            got = res.get("metrics", {})
            for m in wanted:
                if m["name"] not in got:
                    problems.append(f"{tag}: metric {m['name']} missing")
                elif got[m["name"]].get("unit") != m["unit"]:
                    problems.append(f"{tag}: metric {m['name']} has unit "
                                    f"{got[m['name']].get('unit')}, not {m['unit']}")
            results[(trace, rep)] = got
            print(f"{tag}: {'ok' if code == 0 else 'FAILED'}", flush=True)
        a, b = results.get((1, 0), {}), results.get((1, 1), {})
        for name in sorted(set(a) & set(b)):
            if name.endswith(COUNT_SUFFIXES) or name in COUNT_NAMES:
                if a[name]["value"] != b[name]["value"]:
                    problems.append(f"{w}: count metric {name} differs between two runs "
                                    f"of seed {args.seed}: {a[name]['value']} vs {b[name]['value']}")
    for p in problems:
        print("PROBLEM", p)
    print("selfcheck:", "ok" if not problems else f"{len(problems)} problem(s)")
    sys.exit(0 if not problems else 1)


if __name__ == "__main__":
    main()
