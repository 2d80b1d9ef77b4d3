"""Local replica of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() twin on DuckDB over the same parquet, compare
row count, sorted-by-name schema, and a value hash.

Usage: python scripts/check_oracle.py [sf_dir] [name_regex]
(name_regex optionally restricts which queries() entries run)
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb

# gate this checkout's code, wherever it lives
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def value_hash(pdf) -> str:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    sort_cols = list(pdf.columns)
    pdf = pdf.sort_values(sort_cols, kind="mergesort").reset_index(drop=True)
    h = hashlib.sha256()
    for col in pdf.columns:
        for v in pdf[col]:
            if isinstance(v, float):
                h.update(f"{v:.6g}".encode())
            else:
                h.update(str(v).encode())
            h.update(b"|")
    return h.hexdigest()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    import __spark_entry__ as E
    from lucene_solr_1_spark.session import get_spark

    spark = get_spark()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = E.queries()
    if len(sys.argv) > 2:
        import re

        pat = re.compile(sys.argv[2])
        qs = {n: f for n, f in qs.items() if pat.search(n)}
    oracles = E.oracle_sql()
    failures = []
    for name, fn in qs.items():
        try:
            spdf = fn(spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: spark raised {exc!r}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"ok*   {name}: rows-only ({len(spdf)} rows)")
            continue
        try:
            opdf = con.execute(oracles[name]).df()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb raised {exc!r}")
            failures.append(name)
            continue
        problems = []
        if len(spdf) != len(opdf):
            problems.append(f"rows {len(spdf)} vs {len(opdf)}")
        if sorted(spdf.columns) != sorted(opdf.columns):
            problems.append(f"schema {sorted(spdf.columns)} vs {sorted(opdf.columns)}")
        elif value_hash(spdf) != value_hash(opdf):
            problems.append("value-hash mismatch")
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)}")
            failures.append(name)
        else:
            print(f"ok    {name}: {len(spdf)} rows match")
    print(f"\n{len(qs) - len(failures)}/{len(qs)} pass")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
