#!/usr/bin/env python3
"""Validates the result digests of batch against the
DuckDB oracles of graft.SparkEntry.oracleSql, then stores them.

    python3 perfbench/validate_digests.py

Run from the repository root after a build (python3 perfbench/run.py ...).
It runs perfbench.Main once with --dump, which writes the workload's
generated input tables, every query's result as parquet, the
oracle SQL of each query and the result digests. Each result must equal its
oracle's result in DuckDB row for row (columns sorted by name, exact values,
result order), as the repository's own correctness gate compares them. Only
then are the digests written into perfbench/digests.json, which every
benchmark run checks its results against. Needs the duckdb Python module.
"""
import json
import math
import pathlib
import shutil
import subprocess
import sys

import duckdb

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
import run  # noqa: E402

DIGESTS = pathlib.Path("perfbench/digests.json")


def same(x, y):
    if isinstance(x, float) and isinstance(y, float):
        return x == y or (math.isnan(x) and math.isnan(y))
    return x == y


def validate(workload):
    work = run.BUILD / "validate" / workload
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    dump = work / "dump"
    cmd = run.jvm_cmd(work, workload, ["--seed", "1", "--seconds", "1",
                             "--trace", "0", "--dump", str(dump)])
    with open(work / "jvm.log", "w") as log:
        subprocess.run(cmd, stdout=subprocess.DEVNULL, stderr=log, check=True)
    meta = json.loads((dump / "digests.json").read_text())
    oracles = json.loads((dump / "oracle_sql.json").read_text())
    con = duckdb.connect()
    con.execute("SET memory_limit = '3GB'")
    con.execute("SET threads = 2")
    for t in ["events", "documents"]:
        p = pathlib.Path(meta["inputs"]) / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}/*.parquet'")
    bad = 0
    for name, sql in sorted(oracles.items()):
        got = con.execute(f"SELECT * FROM '{dump / name}/*.parquet'").fetchdf()
        want = con.execute(sql).fetchdf()
        got = got.reindex(sorted(got.columns), axis=1)
        want = want.reindex(sorted(want.columns), axis=1)
        if list(got.columns) != list(want.columns) or len(got) != len(want):
            print(f"[FAIL] {name}: shape {got.shape} != {want.shape}")
            bad += 1
            continue
        mism = [(c, i, x, y) for c in got.columns
                for i, (x, y) in enumerate(zip(got[c].tolist(), want[c].tolist()))
                if not (same(x, y) or (x is None and y is None)
                        or (str(x) in ("nan", "NaT", "None") and str(y) in ("nan", "NaT", "None")))]
        if mism:
            print(f"[FAIL] {name}: {len(mism)} mismatches, first {mism[:3]}")
            bad += 1
        else:
            print(f"[ok]   {name}: {len(got)} rows equal the DuckDB oracle")
    if bad:
        sys.exit(f"{bad} {workload} results differ from their oracles; digests not stored")
    stored = json.loads(DIGESTS.read_text()) if DIGESTS.exists() else {}
    stored[workload] = meta[workload]
    DIGESTS.write_text(json.dumps(stored, indent=1, sort_keys=True) + "\n")
    shutil.rmtree(work)


def main():
    run.build()
    validate("batch")


if __name__ == "__main__":
    main()
