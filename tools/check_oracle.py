"""Local stand-in for the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB at the
given sf dir, compare row count, column names, and an order-insensitive
value hash.  Usage: python tools/check_oracle.py [sf_dir] [name ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402


def canon(df: pd.DataFrame) -> tuple[int, list[str], str]:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        col = df[c]
        if col.dtype == object or str(col.dtype).startswith("string"):
            df[c] = col.astype(str)
        elif "float" in str(col.dtype) or "double" in str(col.dtype):
            df[c] = col.map(lambda v: f"{v:.6f}")
        elif "bool" in str(col.dtype):
            df[c] = col.map(lambda v: str(bool(v)))
        else:
            df[c] = col.map(lambda v: str(int(v)) if pd.notna(v) else "NaN")
    rows = ["\x01".join(r) for r in df.itertuples(index=False, name=None)]
    rows.sort()
    h = hashlib.sha256("\x02".join(rows).encode()).hexdigest()[:16]
    return len(df), list(df.columns), h


def register_views(con, sf_dir: str) -> None:
    """One DuckDB view per table parquet present under ``sf_dir``."""
    for t in ("region nation customer supplier part orders lineitem events "
              "documents embeddings").split():
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(p):           # Spark-written parquet directory
            con.execute(f"CREATE VIEW {t} AS "
                        f"SELECT * FROM read_parquet('{p}/*.parquet')")
        elif os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as E
    from sagan_spark.session import get_spark

    spark = get_spark("oracle_check")
    con = duckdb.connect()
    register_views(con, sf_dir)

    qs, os_ = E.queries(), E.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            print(f"FAIL  {name}: spark error: {str(ex)[:300]}")
            failures += 1
            continue
        sql = os_.get(name)
        if sql is None:
            print(f"skip  {name}: no oracle ({len(sdf)} rows)")
            continue
        try:
            ddf = con.execute(sql).fetchdf()
        except Exception as ex:
            print(f"FAIL  {name}: duckdb error: {str(ex)[:300]}")
            failures += 1
            continue
        sn, sc, sh = canon(sdf)
        dn, dc, dh = canon(ddf)
        ok = (sn == dn) and (sc == dc) and (sh == dh)
        dt = time.time() - t0
        if ok:
            print(f"OK    {name}: rows={sn} hash={sh} ({dt:.1f}s)")
        else:
            failures += 1
            print(f"FAIL  {name}: spark(rows={sn},cols={sc},hash={sh}) "
                  f"duck(rows={dn},cols={dc},hash={dh})")
            if sn and dn and sc == dc:
                s1 = sdf[sorted(sdf.columns)].astype(str)
                d1 = ddf[sorted(ddf.columns)].astype(str)
                key = sorted(sdf.columns)[:2]
                merged = s1.merge(d1, how="outer", indicator=True)
                diff = merged[merged["_merge"] != "both"]
                print(diff.sort_values(key).head(10).to_string())
    print("FAILURES:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
