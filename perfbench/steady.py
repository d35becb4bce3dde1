#!/usr/bin/env python3
"""Steadiness check: run one workload once per seed and report, for each
end-to-end metric, the median and the quartile spread (IQR / median)
against the bound in BENCHMARK.json.

    python3 perfbench/steady.py --workload relational --seeds 1-10

Runs one seed at a time (the benchmark is a single closed-loop client and
must not share the host with itself). Writes the per-seed results to
.perfbench/steady-<workload>.json.
"""
import argparse
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    a = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    runs = []
    for s in seeds(a.seeds):
        cmd = bench["command"] + ["--workload", a.workload, "--seed", str(s),
                                  "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        if out.returncode != 0:
            sys.exit(f"seed {s}: exit {out.returncode}")
        last = json.loads(out.stdout.strip().splitlines()[-1])
        runs.append(last)
        print(f"seed {s}: failed {last['failed']}/{last['attempted']} " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in last["metrics"].items()), flush=True)
    os.makedirs(".perfbench", exist_ok=True)
    with open(f".perfbench/steady-{a.workload}.json", "w") as fh:
        json.dump(runs, fh, indent=1)
    if len(runs) < 4:
        return
    for name, bound in bounds.items():
        vals = [r["metrics"][name]["value"] for r in runs]
        sp = stats.spread(vals)
        print(f"{name:16s} median {stats.median(vals):12.4f}  spread {sp:6.3f}  "
              f"bound {bound:5.2f}  {'ok' if name == 'setup_s' or sp < bound / 3 else 'WIDE'}")


if __name__ == "__main__":
    main()
