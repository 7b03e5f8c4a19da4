#!/usr/bin/env python3
"""Local replica of the driver's DuckDB-oracle correctness gate.

Usage: python3 tools/selfcheck.py <sfDir> <verifyOutDir>

Reads each <verifyOutDir>/<name>/ parquet (written by graft.Verify), runs the
matching oracle SQL from oracle_sql.json in DuckDB over the same parquet
tables, and compares: columns sorted by name, rows sorted, values hashed.
"""
import sys, json, glob, hashlib
import duckdb
import pandas as pd

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df

def cell(v):
    if v is None or (isinstance(v, float) and pd.isna(v)):
        return "NULL"
    if isinstance(v, float):
        return f"{v:.10g}"
    return str(v)

def frame_hash(df: pd.DataFrame) -> str:
    h = hashlib.sha256()
    h.update("|".join(df.columns).encode())
    for row in df.itertuples(index=False):
        h.update("|".join(cell(v) for v in row).encode())
    return h.hexdigest()[:16]

def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    if not oracle:
        # an empty dump (e.g. a filter that selected nothing) grades
        # nothing — that is a failed check, not a vacuous pass
        print(f"FAIL: {out_dir}/oracle_sql.json has no entries")
        sys.exit(1)
    con = duckdb.connect()
    for t in ["region","nation","customer","supplier","part","orders",
              "lineitem","events","documents","embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    n_pass = n_fail = 0
    for name in sorted(oracle):
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output"); n_fail += 1; continue
        try:
            got = canon(pd.concat([pd.read_parquet(f) for f in files]))
            exp = canon(con.execute(oracle[name]).fetchdf())
        except Exception as e:
            print(f"FAIL {name}: {e}"); n_fail += 1; continue
        # Values compared via stringified-cell hash; dtype KINDS compared
        # strictly first. The %.10g float normalization would mask
        # type-class divergence (e.g. DuckDB widening SUM(BIGINT) to
        # HUGEINT, which pandas renders as float64 while Spark stays
        # int64) — exactly the class the driver's gate catches, so it
        # must fail here too.
        hg, he = frame_hash(got), frame_hash(exp)
        kg = [d.kind for d in got.dtypes]
        ke = [d.kind for d in exp.dtypes]
        if list(got.columns) != list(exp.columns):
            print(f"FAIL {name}: columns {list(got.columns)} vs {list(exp.columns)}"); n_fail += 1
        elif kg != ke:
            print(f"FAIL {name}: dtype kinds {kg} vs {ke} "
                  f"(spark {[str(d) for d in got.dtypes]} vs duck {[str(d) for d in exp.dtypes]})"); n_fail += 1
        elif len(got) != len(exp):
            print(f"FAIL {name}: rows {len(got)} vs {len(exp)}"); n_fail += 1
        elif hg != he:
            print(f"FAIL {name}: hash {hg} vs {he}")
            # show first diff
            for i in range(len(got)):
                for c in got.columns:
                    a, b = cell(got.iloc[i][c]), cell(exp.iloc[i][c])
                    if a != b:
                        print(f"  first diff row {i} col {c}: spark={a} duck={b}")
                        break
                else:
                    continue
                break
            n_fail += 1
        else:
            print(f"PASS {name} ({len(got)} rows)"); n_pass += 1
    # queries without oracle → rows-only
    import os
    all_dirs = {os.path.basename(d) for d in glob.glob(f"{out_dir}/*") if os.path.isdir(d)}
    for name in sorted(all_dirs - set(oracle)):
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        n = sum(len(pd.read_parquet(f)) for f in files) if files else 0
        print(f"{'ROWS' if n > 0 else 'FAIL'} {name}: {n} rows (no oracle)")
        if n == 0: n_fail += 1
    print(f"== {n_pass} pass, {n_fail} fail")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main()
