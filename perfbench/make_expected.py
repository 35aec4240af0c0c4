#!/usr/bin/env python3
"""Regenerates perfbench/expected.json: per registry entry, the expected row
count and (for entries with a DuckDB oracle) the order-insensitive content
hash of the oracle's result on perfbench/data/sf0.01.

    python3 perfbench/make_expected.py

Runs `graft.Verify` over perfbench/data/sf0.01 and reads the oracle SQL it
writes. Oracle entries take both values from DuckDB alone; the Spark output is
compared too, and any disagreement, failed entry or missing output is
reported and the file not written. Rows-only entries (no oracle) take their
row count from the Spark output.
"""
import json
import os
import re
import shutil
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def main():
    import duckdb
    check = run.oracle_check()
    classes = run.build()
    data = os.path.join(run.HERE, "data", "sf0.01")
    work = os.path.join(run.ROOT, ".bench_run", "expected")
    out = os.path.join(work, "out")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))
    try:
        run.run_jvm(classes, work, [data, out], 3000, main="graft.Verify")
        with open(os.path.join(work, "jvm.log"), errors="replace") as fh:
            failed = re.findall(r"\[verify\] (\S+) failed", fh.read())
        with open(os.path.join(out, "oracle_sql.json")) as fh:
            oracles = json.load(fh)
        with open(os.path.join(run.HERE, "expected.json")) as fh:
            known = set(json.load(fh))
        names = sorted(d for d in os.listdir(out) if os.path.isdir(os.path.join(out, d)))
        missing = sorted((set(oracles) | known) - set(names) - set(failed))
        if failed or missing:
            run.fail("entries failed: " + ", ".join(failed + missing))
        con = duckdb.connect()
        for t in check.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
        expected, mismatched = {}, []
        for name in names:
            got = run.content_hash(con, f"SELECT * FROM '{out}/{name}/*.parquet'")
            if name not in oracles:
                expected[name] = {"rows": got[0], "hash": None}
                continue
            rows, digest = run.content_hash(con, oracles[name])
            expected[name] = {"rows": rows, "hash": digest}
            if got != (rows, digest):
                mismatched.append(name)
        if mismatched:
            run.fail("Spark output differs from the oracle: " + ", ".join(mismatched))
        with open(os.path.join(run.HERE, "expected.json"), "w") as fh:
            json.dump(expected, fh, indent=1)
            fh.write("\n")
        print(f"{len(expected)} entries, "
              f"{sum(v['hash'] is not None for v in expected.values())} with an oracle hash")
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
