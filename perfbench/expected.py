#!/usr/bin/env python3
"""Regenerate perfbench/expected.json: the oracle-verified output of every key
of the key_mix workload.

Usage (from the repository root):
    python3 perfbench/expected.py

The harness writes each key's result as parquet, with a fingerprint of the
live result and of the parquet copy. Each parquet result is compared with the
key's DuckDB oracle (`SparkEntry.oracleSql`) by the rules of tools/check.py:
columns sorted by name, equal column types, rows sorted, values equal by
repr. A key is recorded only if the oracle agrees and both fingerprints
match; the script exits 1 if any key is left out.
"""
import json
import math
import shutil
import sys

import run

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return repr(v)


def canonical(rel):
    cols = rel.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return ([cols[i] for i in order], [str(rel.types[i]) for i in order],
            sorted(tuple(norm(r[i]) for i in order) for r in rel.fetchall()))


def main():
    import duckdb
    cp = run.build()
    data = run.data_dir()
    work = run.BENCH / "work" / "expected"
    shutil.rmtree(work, ignore_errors=True)
    try:
        art = run.run_harness(cp, work, ["--mode", "expect", "--workload", "key_mix",
                                         "--keys", ",".join(run.KEY_MIX),
                                         "--seed", "0", "--seconds", "0", "--trace", "0",
                                         "--data", str(data)], timeout=1800)
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
        keys, bad = {}, []
        for k, r in sorted(art.items()):
            if r["live"] != r["parquet"]:
                bad.append(f"{k}: live and parquet fingerprints differ"); continue
            got = canonical(con.sql(f"SELECT * FROM read_parquet('{r['dir']}/*.parquet')"))
            want = canonical(con.sql(r["oracle_sql"]))
            if got != want:
                what = [n for n, g, w in zip(("columns", "types", "rows"), got, want) if g != w]
                bad.append(f"{k}: oracle disagrees on {what}"); continue
            keys[k] = r["live"]
            print(f"PASS {k} ({r['live']['rows']} rows)")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    extra = run.provenance_extra(0)
    out = {"scale": run.SCALE, "commit": extra["commit"],
           "command": "python3 perfbench/expected.py", "keys": keys}
    (run.BENCH / "expected.json").write_text(json.dumps(out, indent=1, sort_keys=True) + "\n")
    for b in bad:
        print(f"FAIL {b}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
