#!/usr/bin/env python3
"""Local pre-flight for the driver's correctness gate.

Runs after `sbt "runMain graft.Verify <sfDir> <outDir>"`: loads each query's
Spark parquet output, runs the corresponding oracle SQL in DuckDB over the
same fixture dir, and compares (columns sorted by name, rows sorted, exact
values). Each PASS line carries the oracle's DuckDB seconds, and the ten
slowest oracles are listed after the tally. Usage:

    python3 tools/check_oracle.py /root/testdata/sf0.01 /tmp/verify_out
"""
import json
import math
import sys
import time
from pathlib import Path

import duckdb
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def cell_eq(a, b) -> bool:
    if pd.isna(a) and pd.isna(b):
        return True
    if isinstance(a, float) or isinstance(b, float):
        try:
            if math.isnan(a) and math.isnan(b):
                return True
            if a != b:
                return False
            # Driver parity: its hasher serializes the raw float bits, so
            # IEEE -0.0 vs +0.0 diverge even though they compare ==.
            if a == 0.0 and math.copysign(1.0, a) != math.copysign(1.0, b):
                return False
            return True
        except TypeError:
            return False
    return str(a) == str(b)


def kind(dt) -> str:
    """Collapse a pandas dtype to the class the driver's hasher cares about.

    DuckDB HUGEINT (uncast SUM over integers) reads back as float64 or
    object, while Spark emits int64 — values can compare == yet hash apart.
    int32 vs int64 is fine (same integer family), so compare kinds only.
    """
    k = getattr(dt, "kind", "O")
    if k in "iu":
        return "int"
    if k == "f":
        return "float"
    if k == "b":
        return "bool"
    if k in "mM":
        return "time"
    return "object"


def main(sf_dir: str, out_dir: str) -> int:
    con = duckdb.connect()
    for t in TABLES:
        p = Path(sf_dir) / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.loads((Path(out_dir) / "oracle_sql.json").read_text())
    n_pass = n_fail = 0
    secs = {}
    for name, sql in sorted(oracle.items()):
        spark_path = Path(out_dir) / name
        if not spark_path.exists():
            print(f"FAIL {name}: no spark output")
            n_fail += 1
            continue
        try:
            got = canon(pd.read_parquet(spark_path))
            t0 = time.perf_counter()
            want = con.execute(sql).df()
            secs[name] = time.perf_counter() - t0
            want = canon(want)
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: {type(e).__name__}: {e}")
            n_fail += 1
            continue
        if list(got.columns) != list(want.columns):
            print(f"FAIL {name}: columns {list(got.columns)} != {list(want.columns)}")
            n_fail += 1
            continue
        if len(got) != len(want):
            print(f"FAIL {name}: rows {len(got)} != {len(want)}")
            n_fail += 1
            continue
        dbad = [(c, kind(got[c].dtype), kind(want[c].dtype)) for c in got.columns
                if kind(got[c].dtype) != kind(want[c].dtype)]
        if dbad:
            c, gk, wk = dbad[0]
            print(f"FAIL {name}: dtype col {c}: spark={gk}({got[c].dtype}) "
                  f"duckdb={wk}({want[c].dtype}) — uncast HUGEINT SUM in oracle?")
            n_fail += 1
            continue
        bad = None
        for i in range(len(got)):
            for c in got.columns:
                if not cell_eq(got.iloc[i][c], want.iloc[i][c]):
                    bad = (i, c, got.iloc[i][c], want.iloc[i][c])
                    break
            if bad:
                break
        if bad:
            i, c, g, w = bad
            print(f"FAIL {name}: row {i} col {c}: spark={g!r} duckdb={w!r}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(got)} rows, {secs[name]:.2f} s)")
            n_pass += 1
    print(f"\n{n_pass} pass / {n_fail} fail")
    if secs:
        print("slowest oracles (DuckDB s):")
        for name, s in sorted(secs.items(), key=lambda kv: -kv[1])[:10]:
            print(f"  {s:8.2f}  {name}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
