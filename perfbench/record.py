#!/usr/bin/env python3
"""Records the expected result digests in perfbench/digests.tsv.

    python3 perfbench/record.py [workload ...]

Run from the repository root, on the commit whose outputs are the
reference. For each workload the benchmark client runs its check pass
in record mode: it digests every result and dumps the results that
have a DuckDB oracle (`SparkEntry.oracleSql`) as parquet. A digest is
kept only if the query has no oracle or DuckDB's result over the same
tables equals the dumped result (columns by name, rows in any order,
floats to 10 significant digits). Any disagreement is printed and
nothing is written.
"""
import glob
import json
import math
import os
import subprocess
import sys

import duckdb
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402


def cell(v):
    """Canonical text of one value, shared by both engines' results."""
    if hasattr(v, "tolist"):
        v = v.tolist()
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "null"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return str(int(v)) if v.is_integer() and abs(v) < 1e15 else format(v, ".10g")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{cell(v[k])}" for k in sorted(v)) + "}"
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if type(v).__name__ == "Decimal":
        return cell(float(v))
    return str(v)


def canon(df):
    cols = sorted(df.columns)
    rows = sorted(tuple(cell(v) for v in r)
                  for r in df[cols].astype(object).itertuples(index=False, name=None))
    return cols, rows


def main():
    names = sys.argv[1:] or list(run.WORKLOADS)
    con = duckdb.connect()
    for f in sorted(glob.glob(os.path.join(run.DATA, "*.parquet"))):
        t = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{f}')")
    digests, bad = {}, []
    for w in names:
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                            "--seed", "0", "--seconds", "0", "--record"])
        if r.returncode != 0:
            sys.exit(f"record run failed for {w}")
        rec = os.path.join(run.BUILD, "out", f"record-{w}")
        with open(os.path.join(rec, "oracle_sql.json")) as f:
            oracle = json.load(f)
        for name, sql in oracle.items():
            files = sorted(glob.glob(os.path.join(rec, name, "*.parquet")))
            spark = pd.concat([pd.read_parquet(f) for f in files]) if files else pd.DataFrame()
            ok = canon(spark) == canon(con.execute(sql).df())
            print(f"{w} {name} rows={len(spark)} oracle={'agrees' if ok else 'DIFFERS'}")
            if not ok:
                bad.append(name)
        with open(os.path.join(rec, "digests.tsv")) as f:
            for line in f:
                q, d = line.rstrip("\n").split("\t")
                digests[q] = d
    if bad:
        sys.exit(f"oracle disagrees on {', '.join(bad)}; digests not written")
    if os.path.exists(run.DIGESTS):
        with open(run.DIGESTS) as f:
            for line in f:
                q, d = line.rstrip("\n").split("\t")
                digests.setdefault(q, d)
    with open(run.DIGESTS, "w") as f:
        for q in sorted(digests):
            f.write(f"{q}\t{digests[q]}\n")
    print(f"wrote {len(digests)} digests to {os.path.relpath(run.DIGESTS)}")


if __name__ == "__main__":
    main()
