"""Driver-mimic harness: run every queries() entry on Spark and its
oracle_sql() on DuckDB at sf0.01; compare row count, column names/order
(sorted by name), and order-insensitive values.

Usage: python tools/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys

sys.path.insert(0, ".")

import duckdb

from modelardb_dynamic_spark.session import build_session

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def norm_cell(x):
    """Type-strict canonical form: the driver hashes typed values, so an
    int64 vs HUGEINT/Decimal/float difference must FAIL here too."""
    import decimal

    if isinstance(x, bool):
        return ("b", x)
    if isinstance(x, float):
        if math.isnan(x):
            return ("f", "NaN")
        return ("f", repr(x))
    if isinstance(x, int):
        return ("i", x)
    if isinstance(x, decimal.Decimal):
        return ("dec", str(x))
    if isinstance(x, (list, tuple)):
        return ("l", tuple(norm_cell(v) for v in x))
    return (type(x).__name__, x)


def to_sorted_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    return [cols[i] for i in order], sorted(out, key=repr)


def check(spark, sf_dir, names=()):
    """Run each named queries() entry (every entry when names is empty) on
    Spark and its oracle_sql() on DuckDB over sf_dir's parquet tables,
    print one verdict line per query, and return the names that failed; a
    query without an oracle fails. Generated oracles train on
    SPARK_GRAFT_ORACLE_SF_DIR, which must name sf_dir."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    failures = []
    for name, fn in qs.items():
        if names and name not in names:
            continue
        if name not in oracles:
            print(f"[FAIL] {name}: no oracle")
            failures.append(name)
            continue
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"[FAIL] {name}: spark error {type(e).__name__}: {e}")
            failures.append(name)
            continue
        try:
            # fetch via Arrow like the driver: HUGEINT sum() surfaces as
            # Decimal (type mismatch vs Spark long) while nullable BIGINT
            # stays int64 — this reproduces the driver's hash sensitivity
            tbl = con.sql(oracles[name]).arrow()
            ocols = list(tbl.schema.names)
            orows = [tuple(d[c] for c in ocols) for d in tbl.to_pylist()]
        except Exception as e:
            print(f"[FAIL] {name}: duckdb error {e}")
            failures.append(name)
            continue
        sc, sr = to_sorted_rows(scols, srows)
        oc, orr = to_sorted_rows(ocols, orows)
        if sc != oc:
            print(f"[FAIL] {name}: columns {sc} vs {oc}")
            failures.append(name)
            continue
        if len(sr) != len(orr):
            print(f"[FAIL] {name}: rows {len(sr)} vs {len(orr)}")
            failures.append(name)
            continue
        bad = [(a, b) for a, b in zip(sr, orr) if a != b]
        if bad:
            print(f"[FAIL] {name}: {len(bad)} differing rows; first: {bad[0]}")
            failures.append(name)
            continue
        print(f"[OK]   {name}: {len(sr)} rows match")
    con.close()
    return failures


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    import os

    # generated oracles (kmeans centroid literals) must train on the
    # same sf dir the views point at
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf_dir
    spark = build_session(app_name="check_oracles")
    failures = check(spark, sf_dir, set(sys.argv[2:]))
    spark.stop()
    print(f"\n{len(failures)} failures")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
