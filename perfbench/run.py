"""The repository's benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  It builds the engine and the harness
(``build.py``), generates the workload's inputs from the seed (``gen.py``,
cached per seed and not timed), runs the workload in one JVM with one
``local[N]`` session (``harness/``), checks every output against DuckDB
(``check.py``) and prints one JSON line as the last line of stdout.  See
``perfbench/README.md`` for the workloads and metrics.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

PROGRAMS = [
    ("exact", "graft.cli.ExactCardinalityApp"),
    ("approx", "graft.cli.ApproxCardinalityApp"),
    ("tri_rs", "graft.cli.SocialTriangleRSApp"),
    ("tri_rep", "graft.cli.ReplicatedJoinApp"),
]

# gate_suite: (query name, scale factor), one gate of each kind the full
# gate suite has; each is checked against its oracle SQL
PAPER_GATES = ["triangles_rs"]
GATE_SUITE = [
    ("triangles_rs", 0.1),           # paper parity
    ("graph_hops_deep", 0.1),        # heavy tail, spent in construction
    ("graph_components", 0.01),      # a memo-sharing chain, consumer order
    ("graph_component_sizes", 0.01),
    ("graph_scc", 0.1),              # a local-twin gate
    ("knn_brute_l2", 0.1),           # an exact-L2 kernel gate
]

WORKLOADS = ("follower_graph", "gate_suite")
SETUPS = 3
HEAP = "3g"


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def ops_for(workload, cache, seed, run_dir):
    """Inputs and the operation list of one pass: (ops lines, gates,
    graph dir)."""
    if workload == "follower_graph":
        gdir, fp = gen.follower_graph(cache, seed)
        log(f"input edges.csv: {fp['edges']} edges, {fp['distinct_ids']} "
            f"distinct ids, digest {fp['digest']}")
        csv = os.path.join(gdir, "edges.csv")
        lines = [f"app\t{label}\t{cls}\t{csv}\t{run_dir}/{label}"
                 for label, cls in PROGRAMS]
        return lines, {}, gdir
    dirs = {}
    for sf in sorted({sf for _, sf in GATE_SUITE}):
        dirs[sf], fp = gen.tables(cache, seed, sf)
        log(f"input tables sf{sf}: {sum(fp['rows'].values())} rows "
            f"({fp['rows']['lineitem']} lineitem), digest {fp['digest']}")
    gates = {f"{n}@sf{sf}": (n, dirs[sf]) for n, sf in GATE_SUITE}
    lines = [f"gate\t{label}\t{n}\t{d}" for label, (n, d) in gates.items()]
    return lines, gates, None


def median(xs):
    return statistics.median(xs) if xs else 0.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = build.ROOT
    cores = len(os.sched_getaffinity(0))
    classes = build.build(cores)
    cache = os.path.join(build.BUILD, "inputs")
    run_dir = os.path.join(build.BUILD, "runs", f"{a.workload}-t{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)

    t0 = time.time()
    lines, gates, gdir = ops_for(a.workload, cache, a.seed, run_dir)
    graph_oracle = check.graph_oracle(gdir) if gdir else None
    log(f"inputs ready in {time.time() - t0:.1f}s")
    ops_file = os.path.join(run_dir, "ops.tsv")
    with open(ops_file, "w") as fh:
        fh.write("\n".join(lines) + "\n")

    cmd = build.java_cmd(classes, HEAP, "perfbench.Harness", [
        "--ops", ops_file, "--out", run_dir, "--cores", str(cores),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--setups", str(SETUPS)])
    t0 = time.time()
    # a terminated benchmark stops its JVM too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    with open(os.path.join(run_dir, "harness.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=root, stdout=logf, stderr=logf)
        try:
            rc = proc.wait(timeout=150)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    log(f"harness ran {time.time() - t0:.1f}s, exit {rc}")
    result_path = os.path.join(run_dir, "result.json")
    if rc != 0 or not os.path.exists(result_path):
        with open(os.path.join(run_dir, "harness.log")) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        sys.exit(1)
    with open(result_path) as fh:
        res = json.load(fh)

    # correctness: every timed result, then every output once
    t0 = time.time()
    if graph_oracle:
        bad = check.check_programs(gdir, run_dir, graph_oracle)
        expect = graph_oracle
    else:
        bad, expect = check.check_gates(run_dir, gates, res["oracle_sql"])
    ops = [op for p in res["passes"] for op in p["ops"]]
    failed = 0
    for op in ops:
        wrong = op["result"] != expect.get(op["label"])
        if not op["ok"] or wrong or op["label"] in bad:
            failed += 1
            if op["ok"] and wrong:
                log(f"{op['label']}: result {op['result']} != oracle "
                    f"{expect.get(op['label'])}")
    log(f"checked {len(ops)} operations in {time.time() - t0:.1f}s: "
        f"{failed} failed")

    passes = res["passes"]

    def warm_s(traced):
        """A warm pass: the sum over operations of each one's median time
        in the warm passes that were (not) traced."""
        times = {}
        for p in passes[1:]:
            if p["traced"] == traced:
                for op in p["ops"]:
                    times.setdefault(op["label"], []).append(op["wall_s"])
        return sum(median(v) for v in times.values()), times

    warm, per_op = warm_s(False)
    detail = {"ops_warm_median_s": {k: median(v) for k, v in per_op.items()},
              "passes": len(passes), "error_rate": failed / max(1, len(ops))}
    if a.workload == "follower_graph":
        detail.update({f"{k}_s": median(per_op[k]) for k, _ in PROGRAMS})
    else:
        detail["paper_gates_s"] = sum(median(v) for k, v in per_op.items()
                                      if k.split("@")[0] in PAPER_GATES)
    with open(os.path.join(run_dir, "detail.json"), "w") as fh:
        json.dump(detail, fh, indent=1, sort_keys=True)
    log("detail: " + json.dumps({k: v for k, v in detail.items()
                                 if k != "ops_warm_median_s"}))

    if a.trace:
        layers = res["layers"]
        warm_layers = layers[1:] or layers
        metrics = {}
        for name in layers[0]:
            metrics[name] = median([l[name] for l in warm_layers])
        metrics["memo.cold_build_s"] = layers[0]["memo.build_s"]
        metrics["trace.overhead_s"] = warm_s(True)[0] - warm
        units = {"per_s": "1/s", "_s": "s", "_mb": "MB", "util": "ratio",
                 "ratio": "ratio"}
        out = {k: {"value": v, "unit": next(
            (u for suf, u in units.items() if k.endswith(suf)), "count")}
            for k, v in metrics.items()}
    else:
        out = {
            "setup_s": {"value": median(res["setup_s"]), "unit": "s"},
            "cold_pass_s": {"value": passes[0]["wall_s"], "unit": "s"},
            "warm_pass_s": {"value": warm, "unit": "s"},
            "retained_heap_mb": {"value": res["retained_heap_mb"], "unit": "MB"},
        }
    print(json.dumps({"correct": failed == 0, "attempted": len(ops),
                      "failed": failed, "metrics": out}))


if __name__ == "__main__":
    main()
