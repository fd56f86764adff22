"""Local mirror of the driver's correctness gate — STRICT mode.

Runs every ``__spark_entry__.queries()`` entry and its ``oracle_sql()`` twin
on the same parquet tables and compares them strictly:

* the DuckDB side is fetched via ``.df()`` — which converts **every**
  DECIMAL (any precision) and HUGEINT to float64;
* the Spark side is fetched via ``toPandas()`` — DecimalType stays
  ``object`` holding ``decimal.Decimal``;
* values are hashed with a **type-tagged** rendering, so ``Decimal('1.40')``
  never equals ``1.4`` and ``int`` never equals ``float``.

Hence the repo-wide rule this tool enforces: a registered query's final
projection must contain only BIGINT, DOUBLE, STRING, BOOLEAN, DATE-formatted
strings, or arrays/structs of those — never a raw DECIMAL on the Spark side,
never a DECIMAL/HUGEINT on the oracle side.  Exact pandas dtypes must match
column-for-column (int32 vs int64 is a failure: cast to BIGINT).

Usage:
    python tools/check_correctness.py            # all queries @ sf0.01
    python tools/check_correctness.py q1 topk    # substring-filtered subset
    SF_DIR=/root/testdata/sf0.001 python tools/check_correctness.py
"""

from __future__ import annotations

import datetime
import decimal
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402
import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def canon_value(v):
    """Type-tagged strict rendering: int/float/Decimal are all distinct."""
    if v is None:
        return "\0NULL"
    if isinstance(v, (bool, np.bool_)):
        return f"b:{bool(v)}"
    if isinstance(v, decimal.Decimal):
        return f"D:{v}"  # scale-preserving: Decimal('1.40') != Decimal('1.4')
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if math.isnan(f):
            return "f:nan"  # cell-level NULLs are folded by _cell before this
        return f"f:{f!r}"
    if isinstance(v, (int, np.integer)):
        return f"i:{int(v)}"
    if isinstance(v, (pd.Timestamp, datetime.datetime)):
        if v is pd.NaT:
            return "\0NULL"
        return f"t:{v.replace(tzinfo=None).isoformat()}"
    if isinstance(v, datetime.date):
        return f"d:{v.isoformat()}"
    if isinstance(v, bytes):
        return f"y:{v.hex()}"
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(canon_value(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}={canon_value(v[k])}" for k in sorted(v)) + "}"
    if v is pd.NaT or v != v:  # residual NaT/NaN-like
        return "\0NULL"
    return f"s:{v}"


def _cell(df: pd.DataFrame, col: str, i: int):
    v = df[col].iloc[i]
    # pandas stores NULL in float cols as NaN and in object cols as None/NaN;
    # fold both to NULL so engine-side NULL representation can't diverge.
    if v is None or (isinstance(v, float) and math.isnan(v)) or v is pd.NaT:
        return None
    return v


def canon_frame(df: pd.DataFrame) -> list[str]:
    cols = sorted(df.columns)
    out = []
    for i in range(len(df)):
        out.append("|".join(canon_value(_cell(df, c, i)) for c in cols))
    return sorted(out)


def dtype_map(df: pd.DataFrame) -> dict[str, str]:
    return {c.lower(): str(df[c].dtype) for c in df.columns}


def main() -> int:
    sf = os.environ.get("SF_DIR", "/root/testdata/sf0.01")
    filters = sys.argv[1:]

    import __spark_entry__ as m
    from xmlstreamprocessor_spark.session import get_session

    spark = get_session("oracle-check", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

    qs, oracles = m.queries(), m.oracle_sql()
    names = [n for n in qs if not filters or any(f in n for f in filters)]
    passed = failed = rows_only = 0
    for name in names:
        t0 = time.time()
        try:
            sdf = qs[name](spark, sf)
            spdf = sdf.toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error: {str(e).splitlines()[0][:200]}")
            failed += 1
            continue
        sql = oracles.get(name)
        if sql is None:
            print(f"rows  {name}: {len(spdf)} rows (no oracle) [{time.time()-t0:.1f}s]")
            rows_only += 1
            continue
        try:
            odf = con.sql(sql).df()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {str(e).splitlines()[0][:200]}")
            failed += 1
            continue
        problems = []
        if len(spdf) != len(odf):
            problems.append(f"rowcount spark={len(spdf)} duckdb={len(odf)}")
        sd, od = dtype_map(spdf), dtype_map(odf)
        if sorted(sd) != sorted(od):
            problems.append(f"columns spark={sorted(sd)} duckdb={sorted(od)}")
        else:
            bad = {c: (sd[c], od[c]) for c in sd if sd[c] != od[c]}
            if bad:
                problems.append(f"dtypes differ {bad}")
        if not problems:
            sc, oc = canon_frame(spdf), canon_frame(odf)
            if sc != oc:
                diffs = [(a, b) for a, b in zip(sc, oc) if a != b]
                extra_s = [x for x in sc if x not in set(oc)][:2]
                extra_o = [x for x in oc if x not in set(sc)][:2]
                problems.append(
                    f"values differ ({len(diffs)} of {len(sc)} rows); "
                    f"spark-only={extra_s} duckdb-only={extra_o}"
                )
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)} [{time.time()-t0:.1f}s]")
            failed += 1
        else:
            print(f"ok    {name}: {len(spdf)} rows [{time.time()-t0:.1f}s]")
            passed += 1
    print(
        f"\n{passed} ok, {failed} failed, {rows_only} rows-only, "
        f"{len(names)} total (sf={sf})"
    )
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
