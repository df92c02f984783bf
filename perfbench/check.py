"""Output checks against DuckDB, run after the timed passes.

* ``graph_oracle``: the four reference programs' answers recomputed from
  the same ``edges.csv`` (cached next to the input).
* ``check_programs``: the programs' per-vertex outputs and printed totals.
* ``check_gates``: each gate's rows against its ``SparkEntry.oracleSql``
  query on the same tables.

Every check returns the set of operation labels whose output disagreed.
"""
import glob
import json
import os
import sys

import duckdb
import pandas as pd

# the reference programs' max-id constants (graft.cli)
MAX_APPROX, MAX_RS, MAX_REP = 7_812_500, 50_000, 40_000

DEG = ("SELECT vertex, SUM(in_c) AS m, SUM(out_c) AS n FROM ("
       "SELECT src AS vertex, 0 AS in_c, 1 AS out_c FROM {e} UNION ALL "
       "SELECT dst AS vertex, 1 AS in_c, 0 AS out_c FROM {e}) GROUP BY vertex")


def _con():
    return duckdb.connect(config={"threads": min(4, os.cpu_count() or 1)})


def _edges(con, graph_dir):
    con.sql(f"CREATE OR REPLACE VIEW edges AS SELECT * FROM read_csv("
            f"'{graph_dir}/edges.csv', header=false, "
            "columns={'src': 'BIGINT', 'dst': 'BIGINT'})")
    con.sql("CREATE OR REPLACE VIEW approx AS SELECT * FROM edges "
            f"WHERE src < {MAX_APPROX} AND dst < {MAX_APPROX}")


def graph_oracle(graph_dir):
    """Totals and triangle counts of the four programs, cached per input."""
    path = os.path.join(graph_dir, "oracle.json")
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    con = _con()
    _edges(con, graph_dir)
    one = lambda q: int(con.sql(q).fetchone()[0])
    total = "SELECT COALESCE(SUM(m * n), 0) FROM ({})"
    o = {
        "exact": one(total.format(DEG.format(e="edges"))),
        "approx": one(total.format(DEG.format(e="approx"))),
        # reduce-side join: bag semantics, strict <, x != z, count / 3
        "tri_rs": one(
            f"WITH e AS (SELECT * FROM edges WHERE src < {MAX_RS} AND "
            f"dst < {MAX_RS}), p AS (SELECT a.src AS x, b.dst AS z FROM e a "
            "JOIN e b ON a.dst = b.src AND a.src <> b.dst) "
            "SELECT COUNT(*) // 3 FROM p JOIN e c ON c.dst = p.x AND c.src = p.z"),
        # replicated join: <=, no x != z guard, the closing edge must exist
        "tri_rep": one(
            f"WITH e AS (SELECT * FROM edges WHERE src <= {MAX_REP} AND "
            f"dst <= {MAX_REP}), p AS (SELECT a.src AS x, b.dst AS z FROM e a "
            "JOIN e b ON a.dst = b.src) SELECT COUNT(*) // 3 FROM p WHERE "
            "EXISTS (SELECT 1 FROM e c WHERE c.dst = p.x AND c.src = p.z)"),
    }
    con.close()
    with open(path + ".tmp", "w") as fh:
        json.dump(o, fh)
    os.rename(path + ".tmp", path)
    return o


def check_programs(graph_dir, run_dir, oracle):
    """Per-vertex path counts and the one-value triangle outputs."""
    bad = set()
    con = _con()
    _edges(con, graph_dir)
    for label, rel in (("exact", "edges"), ("approx", "approx")):
        files = glob.glob(f"{run_dir}/{label}/part-*")
        if not files:
            bad.add(label)
            continue
        con.sql(f"CREATE OR REPLACE VIEW out AS SELECT * FROM read_csv("
                f"'{run_dir}/{label}/part-*', header=false, delim='\t', "
                "columns={'vertex': 'BIGINT', 'paths': 'BIGINT'})")
        diff = con.sql(
            f"WITH o AS (SELECT vertex, m * n AS paths FROM ({DEG.format(e=rel)}))"
            " SELECT (SELECT COUNT(*) FROM o FULL JOIN out USING (vertex) "
            "WHERE o.paths IS DISTINCT FROM out.paths) + "
            "(SELECT COUNT(*) - COUNT(DISTINCT vertex) FROM out)").fetchone()[0]
        if diff:
            print(f"perfbench: {label} per-vertex output differs on {diff} "
                  "vertices", file=sys.stderr)
            bad.add(label)
    for label in ("tri_rs", "tri_rep"):
        lines = [l.strip() for f in glob.glob(f"{run_dir}/{label}/part-*")
                 for l in open(f) if l.strip()]
        if lines != [str(oracle[label])]:
            print(f"perfbench: {label} output {lines} != {oracle[label]}",
                  file=sys.stderr)
            bad.add(label)
    con.close()
    return bad


TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def gate_oracle(con, sql, tables_dir):
    for t in TABLES:
        con.sql(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM "
                f"'{tables_dir}/{t}.parquet'")
    return con.sql(sql).df()


def check_gates(run_dir, gates, oracle_sql):
    """gates: label -> (query name, tables dir). Returns (bad labels,
    oracle row count per label)."""
    bad, rows = set(), {}
    con = _con()
    for label, (name, tables_dir) in gates.items():
        files = glob.glob(f"{run_dir}/check/{label}/*.parquet")
        try:
            o = gate_oracle(con, oracle_sql[name], tables_dir)
        except Exception as e:  # noqa: BLE001 - any oracle failure fails the gate
            print(f"perfbench: {label} oracle failed: {e}", file=sys.stderr)
            bad.add(label)
            continue
        rows[label] = len(o)
        if len(files) != 1:
            print(f"perfbench: {label} has no output", file=sys.stderr)
            bad.add(label)
            continue
        s = pd.read_parquet(files[0])
        cols = sorted(s.columns)
        ok = cols == sorted(o.columns) and len(s) == len(o)
        if ok and len(s):
            s = s[cols].sort_values(cols).reset_index(drop=True)
            o = o[cols].sort_values(cols).reset_index(drop=True)
            try:
                pd.testing.assert_frame_equal(s, o, check_dtype=False)
            except AssertionError as e:
                print(f"perfbench: {label}: {str(e).splitlines()[-1]}",
                      file=sys.stderr)
                ok = False
        if not ok:
            bad.add(label)
    con.close()
    return bad, rows
