"""Local mimic of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin
on DuckDB against the same sf dir, then compares row count, column
names, and values (order-insensitive: both sides sorted by all
columns; floats compared with np.isclose AND exact-equality reported
separately so hash-sensitivity is visible).

Usage: python tools/check.py [sf_dir] [query ...]

Each query argument is an ``fnmatch`` pattern (``'mm*' 'st3*'``); a
plain name matches only itself. Runs from any directory: the repo is
found from this file and handed to the Python workers on PYTHONPATH.
"""

from __future__ import annotations

import fnmatch
import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (REPO, os.environ.get("PYTHONPATH")) if p
)

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = sys.argv[2:]

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            try:
                df[c] = df[c].astype(str)
            except Exception:
                pass
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def main() -> int:
    from sparkswift.session import get_spark
    import __spark_entry__ as entrymod

    spark = get_spark("check")
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    ran = 0
    for name, fn in qs.items():
        if ONLY and not any(fnmatch.fnmatchcase(name, p) for p in ONLY):
            continue
        ran += 1
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR).toPandas()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: spark error {type(e).__name__}: {e}")
            continue
        took = time.time() - t0
        if name not in oracles:
            print(f"okay {name}: rows-only check, {len(sdf)} rows  [{took:.1f}s]")
            continue
        odf = con.execute(oracles[name]).df()
        # normalize duckdb timestamp columns to ns like spark's toPandas
        a, b = norm(sdf), norm(odf)
        if list(a.columns) != list(b.columns):
            failures.append(name)
            print(f"FAIL {name}: columns {list(a.columns)} vs oracle {list(b.columns)}")
            continue
        if len(a) != len(b):
            failures.append(name)
            print(f"FAIL {name}: rows {len(a)} vs oracle {len(b)}")
            continue
        exact = True
        close = True
        for c in a.columns:
            av, bv = a[c].to_numpy(), b[c].to_numpy()
            if np.issubdtype(av.dtype, np.floating) or np.issubdtype(bv.dtype, np.floating):
                eq = (pd.isna(av) & pd.isna(bv)) | (av == bv)
                if not eq.all():
                    exact = False
                    if not np.allclose(
                        av.astype(float), bv.astype(float), rtol=1e-9, atol=1e-9, equal_nan=True
                    ):
                        close = False
                        bad = np.where(~eq)[0][:3]
                        print(f"   {name}.{c} mismatch rows {bad}: {av[bad]} vs {bv[bad]}")
            else:
                if not (pd.Series(av).fillna("∅") == pd.Series(bv).fillna("∅")).all():
                    exact = False
                    close = False
                    bad = np.where(av != bv)[0][:3]
                    print(f"   {name}.{c} mismatch rows {bad}: {av[bad]} vs {bv[bad]}")
        if close and exact:
            print(f"PASS {name}: {len(a)} rows exact-match  [{took:.1f}s]")
        elif close:
            failures.append(name)
            print(f"WARN {name}: values close but NOT bit-exact (hash would fail)  [{took:.1f}s]")
        else:
            failures.append(name)
            print(f"FAIL {name}: value mismatch  [{took:.1f}s]")
    print(f"\n{ran - len(failures)}/{ran} passed")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
