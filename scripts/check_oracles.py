"""Replay the driver's correctness gate locally: run every queries() entry
on Spark and its oracle_sql() on DuckDB over the same parquet, compare
row-count, column names, and order-insensitive values.

Usage: python scripts/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys
import time
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entrymod  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _canon(val):
    if val is None:
        return None
    if isinstance(val, float):
        if math.isnan(val):
            return "nan"
        # collapse -0.0 / fp dust after the query-level rounding
        return round(val, 9)
    return val


def compare(spark_rows, duck_rows, cols):
    a = sorted(
        tuple(_canon(r[c]) for c in cols) for r in spark_rows
    )
    b = sorted(tuple(_canon(v) for v in row) for row in duck_rows)
    if a == b:
        return True, None
    diff = [(x, y) for x, y in zip(a, b) if x != y][:5]
    only_a = [x for x in a if x not in set(b)][:3]
    only_b = [y for y in b if y not in set(a)][:3]
    return False, {"pairwise": diff, "spark_only": only_a, "duck_only": only_b}


def open_duckdb(sf_dir):
    """A DuckDB connection with one view per parquet table in ``sf_dir``."""
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if Path(p).exists():
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
            )
    return con


def check(spark, con, sf_dir, names=None):
    """Run the queries named in ``names`` (all when empty) on Spark and
    their oracles on ``con``; print one line per query and return
    ``{name: (status, detail)}``."""
    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    results = {}
    for name, fn in queries.items():
        if names and name not in names:
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            cols = df.columns
            spark_rows = df.collect()
        except Exception as e:  # noqa: BLE001
            results[name] = ("SPARK-ERROR", str(e)[:300])
            print(f"{name:28s} SPARK-ERROR {str(e)[:200]}")
            continue
        if name not in oracles:
            results[name] = ("ROWS-ONLY", len(spark_rows))
            print(
                f"{name:28s} ROWS-ONLY   rows={len(spark_rows)} "
                f"({time.time() - t0:.1f}s)"
            )
            continue
        try:
            duck = con.execute(oracles[name])
            duck_cols = [d[0] for d in duck.description]
            duck_rows = duck.fetchall()
        except Exception as e:  # noqa: BLE001
            results[name] = ("DUCK-ERROR", str(e)[:300])
            print(f"{name:28s} DUCK-ERROR  {str(e)[:200]}")
            continue
        if sorted(cols) != sorted(duck_cols):
            results[name] = ("SCHEMA-MISMATCH", (cols, duck_cols))
            print(f"{name:28s} SCHEMA      spark={cols} duck={duck_cols}")
            continue
        if len(spark_rows) != len(duck_rows):
            results[name] = (
                "ROWCOUNT",
                (len(spark_rows), len(duck_rows)),
            )
            print(
                f"{name:28s} ROWCOUNT    spark={len(spark_rows)} "
                f"duck={len(duck_rows)}"
            )
            continue
        # order-insensitive value compare on name-sorted columns
        sorted_cols = sorted(cols)
        duck_idx = [duck_cols.index(c) for c in sorted_cols]
        ok, diff = compare(
            spark_rows,
            [[row[i] for i in duck_idx] for row in duck_rows],
            sorted_cols,
        )
        status = "OK" if ok else "VALUE-MISMATCH"
        results[name] = (status, diff)
        print(
            f"{name:28s} {status:12s} rows={len(spark_rows)} "
            f"({time.time() - t0:.1f}s)"
            + (f" diff={diff}" if diff else "")
        )
    return results


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else SF_DIR

    from jgtextrank_spark.session import get_spark

    spark = get_spark(master="local[8]", shuffle_partitions=8)
    results = check(spark, open_duckdb(sf_dir), sf_dir, set(sys.argv[2:]))
    bad = {k: v for k, v in results.items() if v[0] not in ("OK", "ROWS-ONLY")}
    print(f"\n{len(results) - len(bad)}/{len(results)} OK; failures: {list(bad)}")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
