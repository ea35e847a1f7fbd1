"""Dev harness mimicking the driver's correctness gate: run each
__spark_entry__ query on Spark AND its DuckDB oracle at a given sf, compare
row count + sorted-column value hash (order-insensitive).

Usage: python tools/compare_oracle.py [sf_dir] [query_name ...]
tests/test_oracle_gate.py runs the same per-query compare under pytest.
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def value_hash(pdf: pd.DataFrame) -> str:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    # stringify + NA→None like the reference compare (test_check_dataframe.py:17-36)
    s = pdf.astype(str).where(~pdf.isna(), "NULL")
    rows = sorted(["\x01".join(r) for r in s.itertuples(index=False, name=None)])
    return hashlib.sha256("\x02".join(rows).encode()).hexdigest()[:16]


def oracle_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with one view per fixture table present in sf_dir."""
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def compare_query(spark, con, sf_dir: str, name: str, fn, sql: str | None):
    """Run one registry query on Spark and its DuckDB oracle and compare
    row count + value hash. Returns (status, report lines); status is
    'ok', 'weak' (no oracle), 'FAIL' (an engine raised) or 'MISMATCH'."""
    try:
        sdf = fn(spark, sf_dir).toPandas()
    except Exception as ex:
        return "FAIL", [f"FAIL  {name:24s} spark error: {str(ex).splitlines()[0][:100]}"]
    if sql is None:
        return "weak", [f"weak  {name:24s} spark rows={len(sdf)} (no oracle)"]
    try:
        odf = con.execute(sql).df()
    except Exception as ex:
        return "FAIL", [f"FAIL  {name:24s} oracle error: {str(ex).splitlines()[0][:100]}"]
    sh, oh = value_hash(sdf), value_hash(odf)
    status = "ok" if len(sdf) == len(odf) and sh == oh else "MISMATCH"
    lines = [
        f"{status:8s}{name:24s} rows {len(sdf)}/{len(odf)}  hash {sh}/{oh}"
        f"  cols {sorted(sdf.columns) == sorted(odf.columns)}"
    ]
    if status != "ok" and len(sdf) and len(odf):
        sp = sdf.reindex(sorted(sdf.columns), axis=1)
        op = odf.reindex(sorted(odf.columns), axis=1)
        lines.append(f"  spark: {sp.sort_values(list(sp.columns)).head(3).to_dict('records')}")
        lines.append(f"  oracle: {op.sort_values(list(op.columns)).head(3).to_dict('records')}")
    return status, lines


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:]) or None

    import __spark_entry__ as E
    from data_quality_spark.session import get_spark

    spark = get_spark(app_name="compare_oracle")
    con = oracle_connection(sf_dir)
    qs, osql = E.queries(), E.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        status, lines = compare_query(spark, con, sf_dir, name, fn, osql.get(name))
        print("\n".join(lines))
        failures += status in ("FAIL", "MISMATCH")
    print("FAILURES:", failures)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
