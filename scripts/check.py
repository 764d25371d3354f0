#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run Verify's parquet output
against the DuckDB oracle on the same sfDir and diff per query. Exits non-zero
on any failed or missing result.

Usage: python3 scripts/check.py <sfDir> <verifyOutDir>
"""
import duckdb
import glob
import json
import os
import sys

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main(sfdir: str, outdir: str) -> int:
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sfdir}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    with open(f"{outdir}/oracle_sql.json") as f:
        oracles = json.load(f)

    n_pass = n_fail = 0
    for name in sorted(os.listdir(outdir)):
        resdir = os.path.join(outdir, name)
        if not os.path.isdir(resdir):
            continue
        files = glob.glob(f"{resdir}/*.parquet")
        if not files:
            print(f"FAIL {name}: no parquet output")
            n_fail += 1
            continue
        got = con.sql(f"SELECT * FROM read_parquet({files!r})").df()
        got = got.reindex(sorted(got.columns), axis=1)
        if name not in oracles:
            print(f"SKIP {name}: no oracle ({len(got)} rows)")
            continue
        try:
            exp = con.sql(oracles[name]).df()
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}")
            n_fail += 1
            continue
        exp = exp.reindex(sorted(exp.columns), axis=1)
        ok, msg = compare(got, exp)
        if ok:
            print(f"PASS {name} ({len(got)} rows)")
            n_pass += 1
        else:
            print(f"FAIL {name}: {msg}")
            n_fail += 1
    # an oracle with no result is a fixture that threw (Verify only logs it)
    missing = sorted(n for n in oracles
                     if not os.path.isdir(os.path.join(outdir, n)))
    for name in missing:
        print(f"MISSING {name}: no result directory")
    print(f"\n{n_pass} pass, {n_fail} fail, {len(missing)} missing")
    return 1 if n_fail or missing else 0


def compare(got, exp):
    if list(got.columns) != list(exp.columns):
        return False, f"schema: got {list(got.columns)} vs oracle {list(exp.columns)}"
    if len(got) != len(exp):
        return False, f"rowcount: got {len(got)} vs oracle {len(exp)}"
    gs = got.sort_values(by=list(got.columns)).reset_index(drop=True)
    es = exp.sort_values(by=list(exp.columns)).reset_index(drop=True)
    for c in got.columns:
        a, b = gs[c], es[c]
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            # The driver's hash is a string compare: an int64-vs-float64
            # column pair ("41" vs "41.0") hash-mismatches even when values
            # are equal (DuckDB widens sum(BIGINT) to HUGEINT -> float64 in
            # pandas). Mirror that strictness here: kind mismatch = FAIL.
            if a.dtype.kind != b.dtype.kind:
                return False, (f"col {c} dtype kind mismatch: got "
                               f"{a.dtype} vs oracle {b.dtype} (cast the "
                               f"oracle, e.g. sum(x)::BIGINT)")
            bad = (a - b).abs() > 1e-9
        else:
            bad = a.astype(str) != b.astype(str)
        if bad.any():
            i = bad.idxmax()
            return False, (f"col {c} differs at sorted row {i}: "
                           f"got {gs.iloc[i].to_dict()} vs oracle {es.iloc[i].to_dict()}")
    return True, ""


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
