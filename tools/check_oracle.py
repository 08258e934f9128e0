"""Local mimic of the driver's correctness gate: run every
__spark_entry__.queries() entry at sf0.01 (or $SF_DIR) and compare to
its oracle_sql() DuckDB result — row count, column names, and full
sorted-value equality.

Values are compared AFTER pandas conversion on both sides (DuckDB
``.df()``, Spark ``.toPandas()``) because that is the channel where the
round-1 driver hash mismatches appeared: DuckDB HUGEINT and DECIMAL
become float64 in pandas while Spark BIGINT stays int64 and DECIMAL
stays ``decimal.Decimal`` — value-equal rows then stringify differently.
Stringifying post-pandas catches exactly that class locally.

It ALSO mimics the driver's stricter canonicalization order: the round
driver sorts the raw pandas frame before stringifying, so list-typed
cells (array columns) raise "unhashable type: 'list'" there — the r4
postings_index/jl_project failure. ``driver_canon_error`` reproduces
that check so array-output queries fail HERE first.

Usage: python tools/check_oracle.py [query ...]
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from nolock_social_ocr_services_spark.session import get_spark  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def canon(v) -> str:
    """Canonical string for one cell, post-pandas. Type-faithful: int64 5
    -> '5' but float64 5.0 -> '5.0', Decimal('5.000000') -> '5.000000' —
    so cross-engine type drift is a mismatch even when values agree."""
    if v is None:
        return ""
    if isinstance(v, float):
        if math.isnan(v):
            return ""
        return repr(round(v, 9))
    try:  # pandas NaT / pd.NA
        import pandas as pd

        if v is pd.NaT or v is pd.NA:
            return ""
    except Exception:
        pass
    if isinstance(v, bool):
        return str(v)
    return str(v)


def driver_canon_error(df) -> str | None:
    """Mimic the ROUND DRIVER's canonicalization, which sorts the RAW
    pandas frame (``df.sort_values`` over all columns) BEFORE any
    stringification. List/dict/ndarray cells are unhashable there —
    exactly how postings_index and jl_project errored in r4 while this
    gate (which stringifies first) passed them. Returns an error string
    if the driver would blow up on this frame, else None."""
    bad = [
        c
        for c in df.columns
        if df[c].map(lambda v: isinstance(v, (list, dict, set))).any()
        or str(df[c].dtype) == "object"
        and df[c].map(lambda v: type(v).__name__ == "ndarray").any()
    ]
    if bad:
        return f"DRIVER-CANON: non-scalar cells in columns {bad}"
    try:
        df.sort_values(by=sorted(df.columns))
    except TypeError as exc:  # the r4 failure signature
        return f"DRIVER-CANON: sort_values raised {exc!r}"
    return None


def frame_rows(df) -> list[tuple]:
    cols = sorted(df.columns)
    out = []
    for row in df[cols].itertuples(index=False, name=None):
        out.append(tuple(canon(v) for v in row))
    out.sort()
    return out


def main() -> int:
    sf_dir = os.environ.get("SF_DIR", "/root/testdata/sf0.01")
    only = set(sys.argv[1:])
    spark = get_spark(app_name="check_oracle", cpus=8)
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        sdf = fn(spark, sf_dir)
        spark_pd = sdf.toPandas()
        spark_cols = sorted(spark_pd.columns)
        spark_rows = frame_rows(spark_pd)
        canon_err = driver_canon_error(spark_pd)
        if canon_err:
            print(f"{name:24s} rows={len(spark_rows):7d}  {canon_err}")
            failures.append((name, canon_err))
            continue
        if name not in oracles:
            print(f"{name:24s} rows={len(spark_rows):7d}  (no oracle: rows-only)")
            if not spark_rows:
                failures.append((name, "0 rows, no oracle"))
            continue
        duck_pd = con.sql(oracles[name]).df()
        duck_cols = sorted(duck_pd.columns)
        duck_rows = frame_rows(duck_pd)
        status = "OK"
        if spark_cols != duck_cols:
            status = f"COLUMN MISMATCH spark={spark_cols} duck={duck_cols}"
        elif len(spark_rows) != len(duck_rows):
            status = f"ROWCOUNT spark={len(spark_rows)} duck={len(duck_rows)}"
        elif spark_rows != duck_rows:
            n_bad = sum(1 for a, b in zip(spark_rows, duck_rows) if a != b)
            first = next((a, b) for a, b in zip(spark_rows, duck_rows) if a != b)
            status = f"VALUES {n_bad} differ; first: spark={first[0]} duck={first[1]}"
        print(f"{name:24s} rows={len(spark_rows):7d}  {status}")
        if status != "OK":
            failures.append((name, status))
    print()
    if failures:
        print(f"FAILED: {len(failures)} -> {[f[0] for f in failures]}")
        return 1
    print("ALL OK")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
