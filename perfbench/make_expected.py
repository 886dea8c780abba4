#!/usr/bin/env python3
"""Regenerate perfbench/expected/query_mix.tsv, the query mix's answers.

    python3 perfbench/make_expected.py [--plans]

Runs the mix twice in each of two JVMs over perfbench/data/sf0.01 and
records each query's row count and fingerprint (an order-insensitive sum
of xxhash64 over all output columns). A fingerprint that differs between
any two of the four executions is marked unstable; the benchmark then
checks that query by row count only. Every row count is cross-checked
against the query's oracle SQL (graft.SparkEntry.oracleSql) run in
DuckDB over the same tables; a mismatch stops the script. An oracle that
does not finish in ORACLE_TIMEOUT_S is retried with its CTEs
materialized, and recorded as "timeout" if that does not finish either.

--plans also prints, for each query, the optimized-plan node counts of
Dataset.count() and of the benchmark's consuming aggregate.
"""
import json
import os
import re
import subprocess
import sys
import time

import duckdb

import run

DATA = os.path.join(run.HERE, "data", "sf0.01")
OUT = os.path.join(run.HERE, "expected", "query_mix.tsv")
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()
ORACLE_TIMEOUT_S = 90


def duckdb_count(sql):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{os.path.join(DATA, t)}.parquet'")
    return con.sql(f"SELECT count(*) FROM ({sql})").fetchone()[0]


def oracle_count(sql):
    """Row count of an oracle query, or "timeout"."""
    materialized = re.sub(r"\b(\w+) AS \(", r"\1 AS MATERIALIZED (", sql)
    for variant in (sql, materialized):
        try:
            r = subprocess.run([sys.executable, __file__, "--count"],
                               input=variant, stdout=subprocess.PIPE,
                               text=True, timeout=ORACLE_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            continue
        if r.returncode == 0:
            return int(r.stdout.strip())
    return "timeout"


def jvm_rows(mode, seed):
    cp, opts = run.build()
    work = os.path.join(run.HERE, ".work", f"expected-{mode}-{seed}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = (["java"] + opts + [f"-Djava.io.tmpdir={work}/tmp", "-cp", cp,
                              "perfbench.Main", "--mode", mode,
                              "--workload", "query_mix", "--seed", str(seed),
                              "--seconds", "0", "--trace", "0",
                              "--work", work, "--artifact", "-",
                              "--setup-start-ms", str(int(time.time() * 1e3)),
                              "--data", DATA])
    r = subprocess.run(cmd, cwd=run.ROOT, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True, timeout=900)
    if r.returncode != 0:
        sys.exit(f"{mode} run failed")
    return [l.split("\t")[1:] for l in r.stdout.splitlines()
            if l.startswith("ROW\t")]


def main():
    if "--count" in sys.argv:
        print(duckdb_count(sys.stdin.read()))
        return
    if "--plans" in sys.argv:
        for name, n_count, n_consume in jvm_rows("plans", 0):
            mark = "" if n_count == n_consume else "  differs"
            print(f"{name}\t{n_count}\t{n_consume}{mark}")
        return
    first, second = jvm_rows("expected", 1), jvm_rows("expected", 2)
    oracle = {name: json.loads(sql) for name, sql in jvm_rows("oracle", 0)}
    lines = ["name\trows\tfingerprint\tstable\toracle_rows\ttier"]
    bad = []
    for (name, rows, fp1, fp1b, tier), (name2, rows2, fp2, fp2b, _) in zip(
            first, second):
        assert name == name2
        stable = len({fp1, fp1b, fp2, fp2b}) == 1 and rows == rows2
        oracle_rows = oracle_count(oracle[name])
        print(f"{name}: {rows} rows, oracle {oracle_rows}", file=sys.stderr)
        if oracle_rows != "timeout" and oracle_rows != int(rows):
            bad.append(f"{name}: spark {rows} rows, oracle {oracle_rows}")
        lines.append(f"{name}\t{rows}\t{fp1}\t{int(stable)}\t{oracle_rows}"
                     f"\t{tier}")
    if bad:
        sys.exit("row counts disagree with the oracle:\n" + "\n".join(bad))
    with open(OUT, "w") as f:
        f.write("# written by perfbench/make_expected.py; see its doc\n")
        f.write("\n".join(lines) + "\n")
    def names(col, value):
        return ", ".join(l.split("\t")[0] for l in lines[1:]
                         if l.split("\t")[col] == value) or "none"
    print(f"wrote {OUT}: {len(lines) - 1} queries; unstable fingerprints: "
          f"{names(3, '0')}; oracle timeouts: {names(4, 'timeout')}")


if __name__ == "__main__":
    main()
