#!/usr/bin/env python3
"""Local replica of the driver's correctness gate.

Usage: python3 tools/check_oracle.py <verify_out_dir> <sf_dir>

Reads each <verify_out_dir>/<name>/ parquet (written by graft.Verify),
runs the matching SQL from oracle_sql.json in DuckDB against the sf_dir
parquet tables, and compares: row count, column names, and a hash of the
value matrix with columns sorted by name and rows sorted.

When Verify's attempted.txt is present, every attempted name without a dump
directory is a FAIL ("no dump"), with its message from failures.txt if the
query threw.
"""
import sys, json, glob, os
import duckdb
import pandas as pd
import hashlib

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = pd.to_datetime(s).astype("datetime64[us]")
        elif pd.api.types.is_integer_dtype(s):
            # pyarrow (Spark parquet) and duckdb .df() may disagree on int
            # width (int32 vs int64); widen so reprs/hashes can't diverge.
            df[c] = s.astype("int64")
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64")
        elif s.dtype == object:
            # decimals / lists / bytes → canonical string
            df[c] = s.apply(lambda v: repr(v))
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def frame_hash(df: pd.DataFrame) -> str:
    df = norm(df)
    h = hashlib.sha256()
    h.update(("|".join(df.columns)).encode())
    for row in df.itertuples(index=False):
        # hash Python-native values, not numpy scalars: under numpy>=2
        # repr(np.int32(5)) embeds the dtype and would poison the digest.
        h.update(repr(tuple(v.item() if hasattr(v, "item") else v for v in row)).encode())
    return h.hexdigest()


def main(out_dir: str, sf_dir: str) -> int:
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracles = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    names = sorted(d for d in os.listdir(out_dir)
                   if os.path.isdir(os.path.join(out_dir, d)))
    n_pass = n_fail = n_weak = 0
    attempted_txt = os.path.join(out_dir, "attempted.txt")
    if os.path.exists(attempted_txt):
        threw = {}
        failures_txt = os.path.join(out_dir, "failures.txt")
        if os.path.exists(failures_txt):
            for line in open(failures_txt).read().splitlines():
                name, _, msg = line.partition("\t")
                threw[name] = msg
        for name in sorted(set(open(attempted_txt).read().split()) - set(names)):
            print(f"✗ {name}: no dump" + (f" (threw: {threw[name]})" if name in threw else ""))
            n_fail += 1
    for name in names:
        files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        got = pd.concat([pd.read_parquet(f) for f in files]) if files else pd.DataFrame()
        if name not in oracles:
            print(f"  {name}: rows={len(got)} (no oracle — rows-only check)")
            n_weak += 1
            continue
        try:
            exp = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"✗ {name}: ORACLE SQL FAILED: {e}")
            n_fail += 1
            continue
        problems = []
        if sorted(got.columns) != sorted(exp.columns):
            problems.append(f"cols spark={sorted(got.columns)} oracle={sorted(exp.columns)}")
        if len(got) != len(exp):
            problems.append(f"rows spark={len(got)} oracle={len(exp)}")
        if not problems:
            hg, he = frame_hash(got), frame_hash(exp)
            if hg != he:
                problems.append("value hash mismatch")
                # show a diff sample
                g, e = norm(got), norm(exp)
                neq = (g != e) & ~(g.isna() & e.isna())
                bad = neq.any(axis=1)
                if bad.any():
                    i = bad.idxmax()
                    print(f"    first diff row {i}:\n      spark : {g.loc[i].to_dict()}\n      oracle: {e.loc[i].to_dict()}")
        if problems:
            print(f"✗ {name}: " + "; ".join(problems))
            n_fail += 1
        else:
            print(f"✓ {name}: rows={len(got)} hash ok")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_weak} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
