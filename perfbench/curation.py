#!/usr/bin/env python3
"""Recompute the curation oracle: each curation query's SparkEntry.oracleSql
twin evaluated in DuckDB over the corpus's parquet files.

    python3 perfbench/curation.py

The twins take minutes of DuckDB time, so each answer is kept as its row
count and digest (checks.curation_answer) in perfbench/expected/curation.json,
which the curation checks of run.py compare the pass's rows to.
"""
import json
import os
import subprocess

import checks
import run as bench

EXPECTED = bench.EXPECTED


def main():
    data = os.environ.get("SPARK_GRAFT_SF_DIR", bench.DEFAULT_DATA)
    out_dir = os.path.join(bench.OUT, "curation_expect")
    os.makedirs(out_dir, exist_ok=True)
    sql_file = os.path.join(out_dir, "oracle_sql.json")
    cp = bench.classpath(bench.source_stamp())
    opens = [x for p in bench.JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    subprocess.run(["java"] + opens + ["-cp", cp, "graft.perfbench.ExportSql", sql_file],
                   cwd=out_dir, stdin=subprocess.DEVNULL, check=True)
    with open(sql_file) as f:
        sql = json.load(f)["curation"]
    con = checks.connect(data)
    con.execute("SET threads TO 4")
    answers = {}
    for q, text in sorted(sql.items()):
        rel = con.execute(text)
        answers[q] = checks.curation_answer([d[0] for d in rel.description],
                                            rel.fetchall())
        print(f"{q}: {answers[q]['rows']} rows")
    os.makedirs(os.path.dirname(EXPECTED), exist_ok=True)
    with open(EXPECTED, "w") as f:
        json.dump(answers, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
