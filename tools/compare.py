#!/usr/bin/env python3
"""Local dev harness mimicking the driver's correctness gate.

NOT part of the library (driver-side python is allowed for dev tooling).
Usage: python3 tools/compare.py <sfDir> <outDir> [reportPath] [--gate]
  after: sbt "runMain graft.Verify <sfDir> <outDir>"
  --gate: this is a FULL-suite correctness gate run — append the
  one-line summary to PROGRESS.jsonl (never passed on subset dev runs,
  so the durable round record only carries real gates)

Compares each <outDir>/<name> parquet (Spark result) against the oracle SQL
from <outDir>/oracle_sql.json run in DuckDB over the sfDir tables.
Exact value comparison after sorting columns by name (like the driver).

Writes the per-query verdict set to the 3rd arg's path if given; a
--gate run without one writes <repo>/verify_correctness.json, the
committed full-suite correctness artifact. A subset run with neither
only prints its verdicts, so it cannot overwrite that artifact.
"""
import sys, json, glob, os
import duckdb

def main():
    gate = "--gate" in sys.argv
    args = [a for a in sys.argv[1:] if a != "--gate"]
    sf_dir, out_dir = args[0], args[1]
    con = duckdb.connect()
    for t in ["region","nation","customer","supplier","part","orders",
              "lineitem","events","documents","embeddings"]:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    # default report anchored to the repo root (this file's parent dir's
    # parent), not the cwd — running from elsewhere must still drop the
    # committable artifact where the round loop looks for it
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    report_path = (args[2] if len(args) > 2
                   else os.path.join(repo_root, "verify_correctness.json")
                   if gate else None)
    verdicts = {}
    n_pass = n_fail = 0
    for name, sql in sorted(oracles.items()):
        spark_glob = f"{out_dir}/{name}/*.parquet"
        if not glob.glob(spark_glob):
            print(f"[FAIL] {name}: no spark output"); n_fail += 1
            verdicts[name] = {"status": "fail", "detail": "no spark output"}
            continue
        try:
            got = con.execute(f"SELECT * FROM '{spark_glob}'").fetchdf()
            want = con.execute(sql).fetchdf()
        except Exception as e:
            print(f"[FAIL] {name}: {str(e)[:200]}"); n_fail += 1
            verdicts[name] = {"status": "fail", "detail": str(e)[:200]}
            continue
        got = got.reindex(sorted(got.columns), axis=1)
        want = want.reindex(sorted(want.columns), axis=1)
        if list(got.columns) != list(want.columns):
            print(f"[FAIL] {name}: columns {list(got.columns)} != {list(want.columns)}")
            n_fail += 1
            verdicts[name] = {"status": "fail",
                "detail": f"columns {list(got.columns)} != {list(want.columns)}"}
            continue
        if len(got) != len(want):
            print(f"[FAIL] {name}: rows {len(got)} != {len(want)}"); n_fail += 1
            verdicts[name] = {"status": "fail",
                "detail": f"rows {len(got)} != {len(want)}"}
            continue
        # exact compare, row by row in given order
        mism = []
        for c in got.columns:
            a, b = got[c].tolist(), want[c].tolist()
            for i, (x, y) in enumerate(zip(a, b)):
                eq = (x == y) or (x is None and y is None)
                try:
                    import math
                    if isinstance(x, float) and isinstance(y, float):
                        eq = (x == y) or (math.isnan(x) and math.isnan(y))
                except Exception:
                    pass
                # pandas NaT/NaN nulls
                import pandas as pd
                if pd.isna(x) and pd.isna(y):
                    eq = True
                if not eq:
                    mism.append((c, i, x, y))
                    if len(mism) >= 3:
                        break
            if len(mism) >= 3:
                break
        if mism:
            print(f"[FAIL] {name}: {len(mism)}+ mismatches, first: {mism[:3]}")
            n_fail += 1
            verdicts[name] = {"status": "fail",
                "detail": f"value mismatch, first: {repr(mism[:3])[:200]}"}
        else:
            print(f"[ok]   {name}: {len(got)} rows exact-match")
            n_pass += 1
            verdicts[name] = {"status": "pass", "rows": len(got)}
    if report_path:
        with open(report_path, "w") as f:
            json.dump({"sf_dir": sf_dir, "n_pass": n_pass, "n_fail": n_fail,
                       "queries": verdicts}, f, indent=1, sort_keys=True)
    # FULL-suite gate runs (explicit --gate flag — a >=100 heuristic
    # would log big subset dev runs as gates) also append a one-line
    # summary to PROGRESS.jsonl so the round's correctness record
    # survives even if every JSON artifact is lost (the driver
    # CORRECTNESS file came back empty three rounds running)
    if gate:
        import time
        try:
            with open(os.path.join(repo_root, "PROGRESS.jsonl"), "a") as f:
                f.write(json.dumps({
                    "ts": time.time(), "correctness_gate": True,
                    "sf_dir": sf_dir, "n_pass": n_pass,
                    "n_fail": n_fail}) + "\n")
        except OSError as e:
            print(f"[warn] could not append gate line to PROGRESS.jsonl: {e}")
    print(f"== {n_pass} pass / {n_fail} fail == (report: {report_path or 'none'})")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main()
