#!/usr/bin/env python3
"""Local mimic of the driver's correctness gate.

Usage: python3 tools/check.py <sfDir> <verifyOutDir> [baselineOutDir]

Reads each <verifyOutDir>/<query>/ parquet (written by graft.Verify), runs the
matching oracle SQL from oracle_sql.json in DuckDB over the sfDir tables,
canonicalizes both (columns sorted by name, rows sorted by all columns,
timestamps normalized to microseconds), and compares exactly. Reports
per-query PASS/FAIL with a diff sample on mismatch.

Rows-only queries (no oracle SQL) are SKIPped, unless a baseline dump is
given: a graft.Verify output directory from another tree (e.g. the parent
commit). Then each rows-only query is compared, canonicalized and exactly,
against the baseline's rows for it, so a refactor can be checked to leave
those answers unchanged.
"""
import duckdb
import glob
import json
import os
import sys

import numpy as np
import pandas as pd


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.copy()
    df = df[sorted(df.columns)]
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].map(
                lambda v: tuple(v) if isinstance(v, (list, np.ndarray)) else v)
        # decimals -> float-insensitive string? keep as-is; duckdb decimals
        # come back as decimal.Decimal which compares fine via str
    sort_cols = list(df.columns)
    try:
        df = df.sort_values(by=sort_cols, kind="mergesort")
    except Exception:
        df = df.sort_values(by=sort_cols, key=lambda s: s.astype(str), kind="mergesort")
    return df.reset_index(drop=True)


def read_dump(d: str):
    files = glob.glob(f"{d}/*.parquet")
    if not files:
        return None
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def compare(got: pd.DataFrame, want: pd.DataFrame):
    """None when equal after canonicalization, else a one-line reason."""
    g, w = canon(got), canon(want)
    if sorted(g.columns) != sorted(w.columns):
        return f"columns spark={sorted(g.columns)} expected={sorted(w.columns)}"
    if len(g) != len(w):
        return f"rows spark={len(g)} expected={len(w)}"
    if g.equals(w):
        return None
    # find differing cells
    diffs = []
    for c in g.columns:
        a, b = g[c], w[c]
        neq = ~((a == b) | (a.isna() & b.isna()))
        if neq.any():
            i = int(neq.idxmax())
            extra = ""
            if pd.api.types.is_float_dtype(a):
                try:
                    extra = f" maxAbsDiff={np.nanmax(np.abs(a-b)):.3e}"
                except Exception:
                    pass
            diffs.append(f"col {c}: {int(neq.sum())} cells, e.g. row {i}: "
                         f"spark={a.iloc[i]!r} expected={b.iloc[i]!r}{extra}")
    return "; ".join(diffs[:4])


def main() -> int:
    if len(sys.argv) not in (3, 4):
        print(__doc__, file=sys.stderr)
        return 2
    sfdir, outdir = sys.argv[1], sys.argv[2]
    basedir = sys.argv[3] if len(sys.argv) == 4 else None
    con = duckdb.connect()
    for p in sorted(glob.glob(f"{sfdir}/*.parquet")):
        name = os.path.basename(p)[: -len(".parquet")]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    with open(f"{outdir}/oracle_sql.json") as f:
        oracle = json.load(f)

    n_pass = n_fail = 0
    result_dirs = [d for d in sorted(os.listdir(outdir))
                   if os.path.isdir(os.path.join(outdir, d))]
    for name in result_dirs:
        got = read_dump(f"{outdir}/{name}")
        if got is None:
            print(f"FAIL {name}: no spark output")
            n_fail += 1
            continue
        if name in oracle:
            want, against = con.sql(oracle[name]).df(), "oracle"
        elif basedir is not None:
            want, against = read_dump(f"{basedir}/{name}"), "baseline"
            if want is None:
                print(f"FAIL {name}: rows-only and no baseline output")
                n_fail += 1
                continue
        else:
            print(f"SKIP {name}: rows-only ({len(got)} rows)")
            continue
        reason = compare(got, want)
        if reason is None:
            print(f"PASS {name} ({len(got)} rows, vs {against})")
            n_pass += 1
        else:
            print(f"FAIL {name} (vs {against}): {reason}")
            n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {len(result_dirs) - n_pass - n_fail} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
