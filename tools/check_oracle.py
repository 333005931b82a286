"""Pre-flight emulation of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB at
the given sf dir, compares row count, column names, and values
(order-insensitive: rows sorted by all columns, columns sorted by name,
floats compared exactly after the query's own rounding).

Usage: python tools/check_oracle.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entrymod  # noqa: E402
from eoreader_spark.session import get_spark  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns/rows only. Deliberately does NOT coerce numeric dtypes:
    the driver's value-hash distinguishes int from float (e.g. DuckDB
    ``sum(<int>)`` returns HUGEINT → pandas float64, which hash-mismatches a
    Spark BIGINT even when values are equal). Coercing here masked exactly
    that class of failure in round 1."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns), kind="stable").reset_index(drop=True)


def dtype_kind(dt) -> str:
    """Collapse integer widths (the driver tolerates int32 vs int64) but keep
    int vs float vs bool vs string distinct (the driver does not)."""
    k = np.dtype(dt).kind if dt != object else "O"
    return {"u": "i"}.get(k, k)


def compare(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when two normalized results agree, else what differs first:
    the column names, the row count, a column's dtype kind, or a value
    (ints, strings and bools compared exactly, floats bit-exactly with
    NaN == NaN)."""
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    kind_bad = [
        c for c in got.columns
        if dtype_kind(got[c].dtype) != dtype_kind(want[c].dtype)
    ]
    if kind_bad:
        detail = ", ".join(
            f"{c}: spark {got[c].dtype} vs duckdb {want[c].dtype}" for c in kind_bad
        )
        return f"dtype kind mismatch ({detail})"
    for c in got.columns:
        a, b = got[c].to_numpy(), want[c].to_numpy()
        if a.dtype.kind in "OUSb" or np.dtype(a.dtype).kind in "iu":
            # exact compare for ints: a float64 round-trip would mask
            # low-bit differences above 2^53 (60-bit signature columns)
            eq = a == b
        else:
            eq = np.isclose(
                a.astype(np.float64), b.astype(np.float64),
                rtol=0, atol=0, equal_nan=True,
            )
        if not np.all(eq):
            i = int(np.argmin(eq))
            return f"col {c} row {i}: {a[i]!r} != {b[i]!r}"
    return None


def main(sf_dir: str, only: set[str] | None = None) -> int:
    # the host's core count ($SPARK_GRAFT_CPUS, else every core), as the test
    # session; get_spark derives the shuffle partitions from it
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
    spark = get_spark("oracle_check", cpus=cpus)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    if only:
        qs = {k: v for k, v in qs.items() if k in only}
    failures = 0
    for name, fn in qs.items():
        try:
            got = normalize(fn(spark, sf_dir).toPandas())
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            failures += 1
            continue
        if name not in oracles:
            print(f"SKIP {name}: no oracle (rows-only check: {len(got)} rows)")
            continue
        try:
            want = normalize(con.execute(oracles[name]).df())
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {e}")
            failures += 1
            continue
        mismatch = compare(got, want)
        if mismatch:
            print(f"FAIL {name}: {mismatch}")
            failures += 1
        else:
            print(f"OK   {name}: {len(got)} rows")
    print(f"\n{len(qs) - failures}/{len(qs)} queries match")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(
        main(
            sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01",
            set(sys.argv[2].split(",")) if len(sys.argv) > 2 else None,
        )
    )
