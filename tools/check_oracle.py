"""Local stand-in for the driver's CORRECTNESS gate: run every
queries() entry on Spark and its oracle_sql() on DuckDB over the same
parquet dir; compare row count, column names, and an order-insensitive
value hash (columns sorted by name, rows sorted, values stringified).

Usage: python tools/check_oracle.py [sf_dir] [name ...]
"""

from __future__ import annotations

import hashlib
import sys

sys.path.insert(0, ".")

TABLES = ["events", "documents", "embeddings"]


def value_hash(df) -> str:
    import pandas as pd  # noqa: F401
    pdf = df
    cols = sorted(pdf.columns)
    pdf = pdf[cols]

    def fmt(v):
        if v is None:
            return "NULL"
        if isinstance(v, float):
            return f"{v:.6g}"
        return str(v)

    rows = sorted("\x01".join(fmt(v) for v in row)
                  for row in pdf.itertuples(index=False, name=None))
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def main():
    import duckdb

    import __spark_entry__ as entry
    from ferenda_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    spark = get_spark("oracle_check", cores=8, shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    from ferenda_spark import queries as Q

    # driver-facing 50 + the locally-gated extras (registry_extra)
    qs = {**entry.queries(), **Q.registry_extra()}
    oracles = dict(Q.ORACLE)
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            spdf = sdf.toPandas()
        except Exception as e:
            failures.append((name, f"SPARK ERROR {type(e).__name__}: {e}"))
            print(f"{name:28s} SPARK-ERROR {e}")
            continue
        if name not in oracles:
            status = "rows-only"
            ok = len(spdf) >= 0
            print(f"{name:28s} {status:9s} rows={len(spdf)}")
            continue
        try:
            opdf = con.execute(oracles[name]).df()
        except Exception as e:
            failures.append((name, f"ORACLE ERROR: {e}"))
            print(f"{name:28s} ORACLE-ERROR {e}")
            continue
        problems = []
        if len(spdf) != len(opdf):
            problems.append(f"rows {len(spdf)} != {len(opdf)}")
        if sorted(spdf.columns) != sorted(opdf.columns):
            problems.append(f"cols {sorted(spdf.columns)} != {sorted(opdf.columns)}")
        if not problems and value_hash(spdf) != value_hash(opdf):
            problems.append("value-hash mismatch")
            # show a sample diff
            sc, oc = sorted(spdf.columns), sorted(opdf.columns)
            a = spdf[sc].astype(str).apply("|".join, axis=1).sort_values()
            b = opdf[oc].astype(str).apply("|".join, axis=1).sort_values()
            sa, sb = set(a), set(b)
            print("   spark-only:", list(sa - sb)[:3])
            print("   oracle-only:", list(sb - sa)[:3])
        status = "OK" if not problems else "FAIL " + "; ".join(problems)
        print(f"{name:28s} {status} rows={len(spdf)}")
        if problems:
            failures.append((name, problems))
    print(f"\n{len(failures)} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
