"""Local mirror of the driver's correctness gate.

Runs every ``queries()`` entry at the given SF dir and compares
row-count + sorted-column value content against ``oracle_sql()`` in
DuckDB. Usage:  python scripts/check_entry.py [sf_dir] [name1,name2,…]
(the optional second arg restricts the run to the named entries)
"""

from __future__ import annotations

import sys

import duckdb
import pandas as pd

sys.path.insert(0, ".")

import __spark_entry__ as entrymod  # noqa: E402
from hbase_rdf_spark.session import get_spark  # noqa: E402

TABLES = ["events", "documents"]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.copy()
    df.columns = [c.lower() for c in df.columns]
    df = df[sorted(df.columns)]
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(6)
        elif str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    df = df.astype(object)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def dtype_drift(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Columns where the oracle came back float but Spark is integral
    (or vice versa). The driver hashes raw values, so `3.0` vs `3`
    hash-mismatches even though ``normalize``'s astype(object) compare
    tolerates it — the classic DuckDB HUGEINT→pandas-float64 round-trip
    (windowed sum(), count(*) arithmetic). Flag it locally so the
    defect can never be local-green again (VERDICT r3 task 1)."""
    bad = []
    g = {c.lower(): got[c].dtype for c in got.columns}
    w = {c.lower(): want[c].dtype for c in want.columns}
    for c in set(g) & set(w):
        gi = pd.api.types.is_integer_dtype(g[c])
        gf = pd.api.types.is_float_dtype(g[c])
        wi = pd.api.types.is_integer_dtype(w[c])
        wf = pd.api.types.is_float_dtype(w[c])
        if (gi and wf) or (gf and wi):
            bad.append(f"{c}: spark={g[c]} oracle={w[c]}")
    return sorted(bad)


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(app_name="check-entry")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    if len(sys.argv) > 2:
        only = set(sys.argv[2].split(","))
        missing = only - set(qs)
        if missing:
            print(f"unknown entries: {sorted(missing)}")
            return 2
        qs = {k: v for k, v in qs.items() if k in only}
    failures = 0
    for name, fn in qs.items():
        if name not in oracles:
            print(f"FAIL {name}: no oracle_sql() entry")
            failures += 1
            continue
        try:
            got = fn(spark, sf).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            failures += 1
            continue
        try:
            want = con.sql(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {e}")
            failures += 1
            continue
        drift = dtype_drift(got, want)
        if drift:
            print(
                f"FAIL {name}: int/float dtype drift (driver would "
                f"hash-mismatch — CAST the oracle column): {drift}"
            )
            failures += 1
            continue
        g, w = normalize(got), normalize(want)
        if len(g) != len(w):
            print(f"FAIL {name}: rows {len(g)} vs {len(w)}")
            failures += 1
            continue
        if list(g.columns) != list(w.columns):
            print(f"FAIL {name}: cols {list(g.columns)} vs {list(w.columns)}")
            failures += 1
            continue
        if not g.equals(w):
            neq = (g != w).any(axis=1)
            print(f"FAIL {name}: {int(neq.sum())}/{len(g)} rows differ; first:")
            print(pd.concat([g[neq].head(3), w[neq].head(3)]))
            failures += 1
            continue
        print(f"ok   {name}: {len(g)} rows match")
    print(f"\n{len(qs) - failures}/{len(qs)} queries pass")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
