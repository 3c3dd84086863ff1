"""Local replica of the driver's correctness gate.

Runs every __spark_entry__.queries() entry at sf0.01 (or $SF_DIR) and the
matching oracle_sql() in DuckDB over the same parquet, then compares
column names, each column's dtype kind (integer, float, bool, string,
datetime — a width-only difference such as int32 vs int64 prints a
DTYPE note), row count, and order-insensitive values (columns sorted by
name, rows sorted by all columns).

Usage: python scripts/check_oracles.py [query_name ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.01")
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def dtype_kind(dtype) -> str:
    """integer / float / bool / string / datetime (or the dtype's name)."""
    api = pd.api.types
    for kind, test in (("bool", api.is_bool_dtype),
                       ("integer", api.is_integer_dtype),
                       ("float", api.is_float_dtype),
                       ("datetime", api.is_datetime64_any_dtype),
                       ("string", api.is_object_dtype),
                       ("string", api.is_string_dtype)):
        if test(dtype):
            return kind
    return str(dtype)


def dtype_diffs(got: pd.DataFrame, exp: pd.DataFrame) -> tuple[list, list]:
    """→ (kind mismatches, width-only differences) per shared column, as
    "col: got_dtype vs exp_dtype" strings."""
    kinds, widths = [], []
    for c in sorted(set(got.columns) & set(exp.columns)):
        g, x = got[c].dtype, exp[c].dtype
        if g != x:
            out = kinds if dtype_kind(g) != dtype_kind(x) else widths
            out.append(f"{c}: {g} vs {x}")
    return kinds, widths


def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
        elif np.issubdtype(pdf[c].dtype, np.floating):
            pdf[c] = pdf[c].astype(np.float64)
        elif np.issubdtype(pdf[c].dtype, np.integer):
            pdf[c] = pdf[c].astype(np.int64)
    return pdf.sort_values(list(pdf.columns), kind="mergesort").reset_index(drop=True)


def main():
    import __spark_entry__ as e
    from lucene_solr_spark.session import get_spark

    spark = get_spark("check_oracles", cores=8, shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs = e.queries()
    oracles = e.oracle_sql()
    only = sys.argv[1:]
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            got = fn(spark, SF_DIR).toPandas()
        except Exception as ex:
            failures.append(name)
            print(f"FAIL  {name}: spark error {type(ex).__name__}: {ex}")
            continue
        if name not in oracles:
            print(f"SKIP  {name}: rows-only ({len(got)} rows) "
                  f"[{time.time()-t0:.1f}s]")
            continue
        try:
            exp = con.execute(oracles[name]).df()
        except Exception as ex:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error {ex}")
            continue
        kinds, widths = dtype_diffs(got, exp)
        if widths:
            print(f"DTYPE {name}: {', '.join(widths)}")
        g, x = normalize(got), normalize(exp)
        status = "ok"
        if list(g.columns) != list(x.columns):
            status = f"SCHEMA got={list(g.columns)} exp={list(x.columns)}"
        elif kinds:
            status = f"DTYPE KIND {', '.join(kinds)}"
        elif len(g) != len(x):
            status = f"ROWS got={len(g)} exp={len(x)}"
        else:
            try:
                pd.testing.assert_frame_equal(g, x, check_dtype=False,
                                              check_exact=True)
            except AssertionError as ex:
                status = "VALUES " + str(ex).split("\n")[0]
                merged = g.compare(x) if g.shape == x.shape else None
                if merged is not None and len(merged):
                    status += f" ({len(merged)} differing rows; first: "
                    status += merged.head(2).to_string().replace("\n", " | ") + ")"
        if status == "ok":
            print(f"PASS  {name} ({len(g)} rows) [{time.time()-t0:.1f}s]")
        else:
            failures.append(name)
            print(f"FAIL  {name}: {status}")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
