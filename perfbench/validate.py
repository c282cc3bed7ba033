#!/usr/bin/env python3
"""Check the benchmark's goldens against independent paths, or self-test
the harness.

Usage (from the repository root):
  python3 perfbench/validate.py
      Validates perfbench/goldens on perfbench/data/sf0.01:
      - pipeline: the MVD golden against MvdMiner.bruteForce, which
        measures every candidate (run inside the harness);
      - ops: every query's output against its registry oracle SQL, run by
        DuckDB, compared with the canonicalisation of scripts/selfcheck.py
        (columns sorted by name, floats rounded to 9 places, rows sorted);
      - pipeline: every evaluated schema's join size against a DuckDB
        count over the materialised natural join of its cluster projections.
  python3 perfbench/validate.py --selftest --data DIR
      Fast self-test of the harness on another data set with the same
      tables (e.g. the sf0.001 test data): records goldens for it, validates them as
      above, runs every workload on two seeds, then corrupts one golden
      line per workload and checks that the run reports the failure.
Exits non-zero on any problem.
"""
import argparse
import glob
import json
import math
import os
import shutil
import subprocess
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ["pipeline", "ops"]
MAX_JOIN_ROWS = 5_000_000


def harness(workload, mode, data, goldens, seed=0, seconds=1):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0",
           "--mode", mode, "--data", data, "--goldens", goldens]
    r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    return r.returncode, r.stdout.splitlines(), r.stderr


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = "NaN" if math.isnan(v) else round(v, 9)
            vals.append(str(v))
        out.append(tuple(vals))
    return sorted(cols), sorted(out)


def duckdb_ops(data):
    con = duckdb.connect()
    for path in glob.glob(os.path.join(data, "*.parquet")):
        name = os.path.basename(path)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    vdir = os.path.join(OUT, "validate", "ops")
    with open(os.path.join(vdir, "oracle_sql.json")) as fh:
        oracles = json.load(fh)
    problems = []
    for name, sql in sorted(oracles.items()):
        got = con.execute(f"SELECT * FROM read_parquet('{vdir}/{name}/*.parquet')")
        gc, gr = canon(got.fetchall(), [d[0] for d in got.description])
        exp = con.execute(sql)
        ec, er = canon(exp.fetchall(), [d[0] for d in exp.description])
        if (gc, gr) != (ec, er):
            problems.append(f"ops {name}: output differs from its DuckDB oracle")
        else:
            print(f"ok   ops {name} ({len(gr)} rows) matches its DuckDB oracle")
    return problems


def duckdb_pipeline():
    vdir = os.path.join(OUT, "validate", "pipeline")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW r AS SELECT DISTINCT * FROM read_parquet('{vdir}/relation/*.parquet')")
    distinct = con.execute("SELECT count(*) FROM r").fetchone()[0]
    problems = []
    with open(os.path.join(vdir, "schemas.tsv")) as fh:
        for line in fh:
            clusters, golden = line.rstrip("\n").split("\t")
            fields = dict(f.split("=") for f in golden.split() if "=" in f)
            join, spurious = int(fields["join"]), int(fields["spurious"])
            if join > MAX_JOIN_ROWS:
                print(f"skip pipeline {golden}: join too large to materialise")
                continue
            parts = [f"(SELECT DISTINCT {c} FROM r)" for c in clusters.split(";")]
            count = con.execute(f"SELECT count(*) FROM {' NATURAL JOIN '.join(parts)}").fetchone()[0]
            if count != join or count - distinct != spurious:
                problems.append(f"pipeline {golden}: DuckDB join has {count} rows, "
                                f"{count - distinct} spurious")
            else:
                print(f"ok   pipeline {golden}")
    return problems


def validate(data, goldens):
    problems = []
    for w in WORKLOADS:
        code, out, err = harness(w, "validate", data, goldens)
        print("\n".join(l for l in out if l.startswith("[validate]")))
        if code != 0:
            problems.append(f"{w}: harness validation failed ({code})\n{err[-2000:]}")
    if not problems:
        problems += duckdb_ops(data) + duckdb_pipeline()
    return problems


def result_of(out):
    try:
        return json.loads(out[-1])
    except (IndexError, ValueError):
        return None


def selftest(data):
    goldens = os.path.join(OUT, "selftest-goldens")
    shutil.rmtree(goldens, ignore_errors=True)
    problems = []
    for w in WORKLOADS:
        code, _, err = harness(w, "record", data, goldens)
        if code != 0:
            return [f"{w}: recording goldens failed\n{err[-2000:]}"]
    problems += validate(data, goldens)
    for w in WORKLOADS:
        for seed in (1, 2):
            code, out, err = harness(w, "bench", data, goldens, seed=seed)
            r = result_of(out)
            if code != 0 or not r or not r["correct"] or r["failed"]:
                problems.append(f"{w} seed {seed}: expected a correct run, got {r}\n{err[-1000:]}")
            else:
                print(f"ok   {w} seed {seed}: {r['attempted']} operations correct")
    # the gate must catch a wrong answer: change one golden line per workload
    for w, f in [("pipeline", "pipeline-mined.txt"), ("pipeline", "pipeline-eval.txt"),
                 ("ops", "ops.txt")]:
        path = os.path.join(goldens, f)
        with open(path) as fh:
            lines = fh.read().splitlines()
        original = list(lines)
        lines[0] = lines[0][:-1] + ("0" if lines[0][-1] != "0" else "1")
        with open(path, "w") as fh:
            fh.write("\n".join(lines) + "\n")
        code, out, _ = harness(w, "bench", data, goldens, seed=1)
        r = result_of(out)
        if r and not r["correct"] and r["failed"] > 0:
            print(f"ok   {w}: a corrupted golden is reported ({r['failed']} failed)")
        else:
            problems.append(f"{w}: a corrupted golden was not reported: {r}")
        with open(path, "w") as fh:
            fh.write("\n".join(original) + "\n")
    return problems


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--data")
    ap.add_argument("--goldens", default=os.path.join("perfbench", "goldens"))
    a = ap.parse_args()
    if a.data:
        a.data = os.path.join(ROOT, a.data)
    if a.selftest:
        if not a.data:
            ap.error("--selftest needs --data")
        problems = selftest(a.data)
    else:
        problems = validate(a.data or os.path.join(HERE, "data", "sf0.01"), a.goldens)
    for p in problems:
        print(f"FAIL {p}")
    print("== validate: " + ("ok ==" if not problems else f"{len(problems)} problem(s) =="))
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
