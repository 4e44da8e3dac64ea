#!/usr/bin/env python3
"""Dev-only harness mimicking the driver's correctness gate:
reads the Verify output dir (parquet per query + oracle_sql.json),
runs each oracle SQL in DuckDB over the same sf dir, and compares
values with columns sorted by name. NOT part of the engine."""
import json, sys, math, struct
import duckdb
import numpy as np
import pandas as pd


def floats_differ(a, b):
    """Bit-pattern float compare mirroring the driver's hash gate:
    -0.0 != +0.0 (Python's `!=` is blind to zero sign — the exact class
    that produced the round-11 mwa23 red row), NaN == NaN (one carve-out,
    matching the driver's canonical NaN)."""
    if math.isnan(a) and math.isnan(b):
        return False
    return struct.pack("<d", a) != struct.pack("<d", b)

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def main(sf_dir, out_dir, skip=(), only=None):
    con = duckdb.connect()
    import os
    for t in TABLES:
        # layout-adaptive: a table is a bare file (driver testdata) or a
        # Spark-written directory of part files (e.g. the ScaleUp sf1 dir)
        p = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(p):
            p = f"{p}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    ok = bad = 0
    for name, sql in sorted(oracle.items()):
        if only is not None and name not in only:
            continue  # a scoped Verify ran only the queries under test
        if name in skip:
            print(f"skip {name}")
            continue
        # read the engine output FIRST: a query that crashed in Verify
        # dumped nothing, and running its oracle just to report that wastes
        # the iteration loop
        try:
            got = pd.read_parquet(f"{out_dir}/{name}")
        except Exception as e:
            print(f"FAIL {name}: spark output missing: {e}")
            bad += 1
            continue
        try:
            exp = con.execute(sql).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            bad += 1
            continue
        exp = exp.reindex(sorted(exp.columns), axis=1)
        got = got.reindex(sorted(got.columns), axis=1)
        if list(exp.columns) != list(got.columns):
            print(f"FAIL {name}: columns {list(got.columns)} vs oracle {list(exp.columns)}")
            bad += 1
            continue
        if len(exp) != len(got):
            print(f"FAIL {name}: rows {len(got)} vs oracle {len(exp)}")
            bad += 1
            continue
        mismatch = None
        for c in exp.columns:
            ev, gv = exp[c].tolist(), got[c].tolist()
            for i, (a, b) in enumerate(zip(ev, gv)):
                if isinstance(a, float) and isinstance(b, float):
                    if floats_differ(a, b):
                        mismatch = (c, i, a, b)
                        break
                elif hasattr(a, "__len__") and not isinstance(a, str):
                    la, lb = list(a), list(b)
                    # np.float32/float64 array elements are np.floating, NOT
                    # Python-float subclasses — without the coercion they'd
                    # fall to value compare where -0.0 == +0.0, bypassing the
                    # bit-pattern check for exactly the list columns
                    if len(la) != len(lb) or any(
                        floats_differ(float(x), float(y))
                        if isinstance(x, (float, np.floating))
                        and isinstance(y, (float, np.floating))
                        else x != y
                        for x, y in zip(la, lb)
                    ):
                        mismatch = (c, i, a, b)
                        break
                elif pd.isna(a) and pd.isna(b):
                    continue
                elif a != b:
                    mismatch = (c, i, a, b)
                    break
            if mismatch:
                break
        if mismatch:
            c, i, a, b = mismatch
            print(f"FAIL {name}: col={c} row={i} oracle={a!r} spark={b!r}")
            bad += 1
        else:
            print(f"ok   {name} ({len(exp)} rows)")
            ok += 1
    print(f"\n{ok} ok, {bad} fail")
    return 1 if bad else 0

if __name__ == "__main__":
    # usage: selfcheck.py SF_DIR OUT_DIR [skip1,skip2,...] [--only=q1,q2,...]
    # --only: check just these queries (the ones a scoped Verify ran); one
    # of them with no engine output, because it crashed, still FAILs
    argv = [a for a in sys.argv[1:] if not a.startswith("--only=")]
    only = next((set(a[len("--only="):].split(",")) for a in sys.argv[1:]
                 if a.startswith("--only=")), None)
    skip = tuple(argv[2].split(",")) if len(argv) > 2 and argv[2] else ()
    sys.exit(main(argv[0], argv[1], skip, only))
