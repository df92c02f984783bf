"""Steadiness check: two sets of benchmark runs, each with its own seeds.

    python3 perfbench/steady.py [--runs 10] [--workloads a,b] [--sets 2]

Run from the repository root.  For every workload and end-to-end metric
of BENCHMARK.json it prints, per set, the median, the quartiles and the
spread (Q3 - Q1) / median next to the metric's bound, and the change of
the set's median from the first set's.  A spread above the bound, or a
median that got worse by more than the bound, is marked FAIL.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def one_run(spec, workload, seed):
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(spec["run_seconds"]),
                             "--trace", "0"]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True, timeout=900)
    if p.returncode != 0:
        sys.exit(f"{workload} seed {seed}: exit {p.returncode}")
    res = json.loads(p.stdout.strip().splitlines()[-1])
    if not res["correct"]:
        print(f"{workload} seed {seed}: {res['failed']} failed operations")
    return {k: v["value"] for k, v in res["metrics"].items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--workloads", default="")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = a.workloads.split(",") if a.workloads else [
        w["name"] for w in spec["workloads"]]
    ok = True
    for w in names:
        sets = []
        for s in range(a.sets):
            runs = []
            for i in range(a.runs):
                seed = 1000 * (s + 1) + i
                runs.append(one_run(spec, w, seed))
                print(f"{w} set {s + 1} seed {seed}: " + ", ".join(
                    f"{k}={v:.4g}" for k, v in runs[-1].items()), flush=True)
            sets.append(runs)
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            first = None
            for s, runs in enumerate(sets):
                vals = [r[name] for r in runs]
                med = statistics.median(vals)
                q1, _, q3 = statistics.quantiles(vals, n=4)
                spread = (q3 - q1) / med if med else float("inf")
                first = med if first is None else first
                worse = (med - first) / first if m["better"] == "lower" \
                    else (first - med) / first
                bad = (spread > bound and name != "setup_s") or worse > bound
                ok &= not bad
                print(f"{w:16s} {name:18s} set {s + 1}: median {med:.4g} "
                      f"q1 {q1:.4g} q3 {q3:.4g} spread {spread:.3f} "
                      f"(bound {bound}, {bound - spread:+.3f} left) "
                      f"vs set 1 {worse:+.3f} {'FAIL' if bad else 'ok'}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
