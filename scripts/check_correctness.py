#!/usr/bin/env python3
"""Local pre-validation harness mimicking the driver's correctness gate.

Usage: python3 scripts/check_correctness.py <sfDir> <verifyOutDir>
       python3 scripts/check_correctness.py --twin <otherVerifyDir> <verifyOutDir>

Reads each <verifyOutDir>/<name> parquet (written by graft.Verify),
runs the matching oracle SQL from oracle_sql.json in DuckDB over the
same sfDir parquet tables, sorts columns by name + rows by value, and
compares exactly. This is a builder-side dev tool only — the engine
itself never depends on Python/DuckDB.

--twin compares two graft.Verify output directories instead (say, a
build before and after a refactor): every query either directory holds
is canonicalized the same way and printed as identical or different,
approximate ops included. Exit status 1 if any query differs or is
missing from one side.
"""
import glob
import json
import math
import os
import sys

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def values_equal(a, b) -> bool:
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    try:
        if pd.isna(a) and pd.isna(b):
            return True
    except (TypeError, ValueError):
        pass
    return a == b


# dedup_substring's oracle hashes each character's codepoint where the
# engine hashes UTF-16 code units; the two agree only inside the BMP.
BMP_ONLY = {"dedup_substring"}


def first_non_bmp_doc(con):
    """doc_id of the first document whose text has a codepoint above
    U+FFFF, or None."""
    return con.execute(
        r"SELECT min(doc_id) FROM documents "
        r"WHERE regexp_matches(text, '[^\x{0}-\x{FFFF}]')").fetchone()[0]


def frame_diff(a: pd.DataFrame, b: pd.DataFrame):
    """None if the canonical frames are equal, else what differs."""
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} != {list(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} != {len(b)}"
    for i in range(len(a)):
        for c in a.columns:
            if not values_equal(a[c].iloc[i], b[c].iloc[i]):
                return f"row {i} col {c}: {a[c].iloc[i]!r} != {b[c].iloc[i]!r}"
    return None


def main(sf_dir: str, out_dir: str) -> int:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)

    n_pass = n_fail = 0
    non_bmp_doc = first_non_bmp_doc(con)
    result_dirs = sorted(
        d for d in glob.glob(os.path.join(out_dir, "*")) if os.path.isdir(d))
    for d in result_dirs:
        name = os.path.basename(d)
        got = canon(pd.read_parquet(d))
        if name not in oracles:
            print(f"  [rows-only] {name}: {len(got)} rows")
            continue
        if name in BMP_ONLY and non_bmp_doc is not None:
            print(f"✗ {name}: documents.text has a codepoint above U+FFFF "
                  f"(doc_id {non_bmp_doc}); this oracle covers BMP text only")
            n_fail += 1
            continue
        try:
            want = canon(con.execute(oracles[name]).fetchdf())
        except Exception as e:
            print(f"✗ {name}: oracle SQL failed: {e}")
            n_fail += 1
            continue
        why = frame_diff(got, want)
        if why is not None:
            print(f"✗ {name}: {why} (spark != duckdb)")
            n_fail += 1
        else:
            print(f"✓ {name}: {len(got)} rows")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, "
          f"{len(result_dirs) - n_pass - n_fail} rows-only")
    return 1 if n_fail else 0


def twin(other_dir: str, out_dir: str) -> int:
    def queries(d):
        return {os.path.basename(p) for p in glob.glob(os.path.join(d, "*"))
                if os.path.isdir(p)}
    mine, theirs = queries(out_dir), queries(other_dir)
    n_same = n_diff = 0
    for name in sorted(mine | theirs):
        if name not in mine or name not in theirs:
            side = out_dir if name not in mine else other_dir
            print(f"✗ {name}: different (missing from {side})")
            n_diff += 1
            continue
        why = frame_diff(canon(pd.read_parquet(os.path.join(out_dir, name))),
                         canon(pd.read_parquet(os.path.join(other_dir, name))))
        if why is None:
            print(f"✓ {name}: identical")
            n_same += 1
        else:
            print(f"✗ {name}: different ({why})")
            n_diff += 1
    print(f"\n{n_same} identical, {n_diff} different")
    return 1 if n_diff else 0


if __name__ == "__main__":
    if sys.argv[1] == "--twin":
        sys.exit(twin(sys.argv[2], sys.argv[3]))
    sys.exit(main(sys.argv[1], sys.argv[2]))
