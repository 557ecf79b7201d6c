#!/usr/bin/env python3
"""Local pre-flight for the driver's DuckDB-oracle correctness gate.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>

Mimics the driver: for each query result parquet written by graft.Verify,
run the corresponding oracle SQL from oracle_sql.json in DuckDB against
views over the same testdata parquet tables, sort columns by name and
rows by all columns, then compare values (exact for ints/strings, 1e-9
relative tolerance for floats so we can spot genuine logic errors vs
benign fp jitter — the driver hashes, so anything non-exact is flagged).

With GRAFT_VERIFY_ONLY set (the comma-separated subset a Verify dump was
restricted to), only those names are checked; a listed name with no
Spark result or an oracle SQL error still fails, and a listed name with
no oracle SQL is reported and skipped.
"""
import json
import math
import os
import sys

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # timestamps/dates → iso strings for stable compare
    for c in df.columns:
        if str(df[c].dtype).startswith(("datetime", "date")) or df[c].dtype == object:
            try:
                if len(df) and hasattr(df[c].iloc[0], "isoformat"):
                    df[c] = df[c].map(lambda v: v.isoformat() if v is not None else None)
            except Exception:
                pass
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def compare(name, got: pd.DataFrame, want: pd.DataFrame):
    issues = []
    if sorted(got.columns) != sorted(want.columns):
        return [f"schema mismatch: spark={sorted(got.columns)} oracle={sorted(want.columns)}"]
    if len(got) != len(want):
        return [f"row count mismatch: spark={len(got)} oracle={len(want)}"]
    # the driver hashes raw values, so an int column vs a float column (e.g.
    # DuckDB HUGEINT -> pandas float64) mismatches even when values are equal
    for c in got.columns:
        gk = got[c].dtype.kind
        wk = want[c].dtype.kind
        if {gk, wk} == {"i", "f"} or {gk, wk} == {"u", "f"}:
            issues.append(
                f"col {c}: dtype class mismatch spark={got[c].dtype} oracle={want[c].dtype}"
                " (driver hash will differ; CAST the oracle)")
    g, w = canon(got), canon(want)
    for c in g.columns:
        gv, wv = g[c], w[c]
        for i in range(len(g)):
            a, b = gv.iloc[i], wv.iloc[i]
            if a is None and b is None:
                continue
            if isinstance(a, float) or isinstance(b, float):
                an = a is None or (isinstance(a, float) and math.isnan(a))
                bn = b is None or (isinstance(b, float) and math.isnan(b))
                if an and bn:
                    continue
                if an != bn or not math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-9):
                    issues.append(f"col {c} row {i}: spark={a!r} oracle={b!r}")
                elif float(a) != float(b):
                    issues.append(f"col {c} row {i}: NEAR (fp jitter) spark={a!r} oracle={b!r}")
            elif a != b:
                issues.append(f"col {c} row {i}: spark={a!r} oracle={b!r}")
            if len(issues) >= 5:
                return issues
    return issues


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    only = os.environ.get("GRAFT_VERIFY_ONLY")
    if only:
        wanted = {n.strip() for n in only.split(",") if n.strip()}
        for name in sorted(wanted - oracles.keys()):
            print(f"skip {name}: no oracle SQL")
        oracles = {k: v for k, v in oracles.items() if k in wanted}
    n_ok = n_bad = 0
    for name, sql in sorted(oracles.items()):
        try:
            want = con.execute(sql).df()
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}")
            n_bad += 1
            continue
        try:
            got = pd.read_parquet(f"{out_dir}/{name}")
        except Exception as e:
            print(f"FAIL {name}: no spark result: {e}")
            n_bad += 1
            continue
        issues = compare(name, got, want)
        if issues:
            print(f"FAIL {name} ({len(got)} rows):")
            for s in issues:
                print(f"   {s}")
            n_bad += 1
        else:
            print(f"ok   {name} ({len(got)} rows)")
            n_ok += 1
    print(f"\n{n_ok} ok, {n_bad} fail")
    sys.exit(1 if n_bad else 0)


if __name__ == "__main__":
    main()
