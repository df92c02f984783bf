"""Record a traced profile of every workload into ``perfbench/profile/``.

    python3 perfbench/profile.py [--seed 7]

Run from the repository root.  For each workload it makes one traced run
(``run.py --trace 1``) and keeps, from its ``trace.json``, every traced
pass's layer metrics, per-operation breakdown and self times, plus the
spans of the first traced warm pass; next to them the run's per-layer
metrics and per-program figures.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=7)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    os.makedirs(os.path.join(HERE, "profile"), exist_ok=True)
    for w in (w["name"] for w in spec["workloads"]):
        p = subprocess.run(
            spec["command"] + ["--workload", w, "--seed", str(a.seed),
                               "--seconds", str(spec["run_seconds"]),
                               "--trace", "1"],
            cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True)
        run = os.path.join(ROOT, ".bench_build", "runs", f"{w}-t1")
        with open(os.path.join(run, "trace.json")) as fh:
            passes = json.load(fh)["passes"]
        with open(os.path.join(run, "detail.json")) as fh:
            detail = json.load(fh)
        for i, p_ in enumerate(passes):
            if i != 1:
                p_.pop("spans")
        out = {"workload": w, "seed": a.seed, "cores": len(os.sched_getaffinity(0)),
               "result": json.loads(p.stdout.strip().splitlines()[-1]),
               "detail": detail, "passes": passes}
        with open(os.path.join(HERE, "profile", f"{w}.json"), "w") as fh:
            json.dump(out, fh, indent=1, sort_keys=True)
        print(f"{w}: profile/{w}.json", file=sys.stderr)


if __name__ == "__main__":
    main()
