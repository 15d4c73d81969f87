"""Local simulation of the driver's t2 correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at a given sf dir, then compares row count, sorted column names,
and an order-insensitive multiset of stringified rows (floats rendered
via repr of round(12) to absorb last-ulp noise — stricter than any
sane driver hash, looser than bit-equality).

Usage: python tools/validate_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
import time

import duckdb

sys.path.insert(0, ".")


def normalize_rows(cols: list[str], rows: list[tuple]) -> list[tuple]:
    idx = sorted(range(len(cols)), key=lambda i: cols[i])

    def norm_val(v):
        if isinstance(v, bool):
            return str(int(v))
        if isinstance(v, float):
            return repr(round(v, 9))
        return str(v)

    return sorted(tuple(norm_val(r[i]) for i in idx) for r in rows)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from taxi_trips_etl_spark.session import get_spark

    spark = get_spark(app_name="validate_oracles")
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.monotonic()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: spark error: {e}")
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {e}")
            continue
        problems = []
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} duckdb={len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols spark={sorted(scols)} duckdb={sorted(ocols)}")
        if not problems:
            ns, no = normalize_rows(scols, srows), normalize_rows(ocols, orows)
            if ns != no:
                diff = [(a, b) for a, b in zip(ns, no) if a != b][:3]
                problems.append(f"values differ, first diffs: {diff}")
        if problems:
            failures.append(name)
            print(f"FAIL {name}: {'; '.join(problems)}")
        else:
            print(f"ok   {name}: {len(srows)} rows match "
                  f"[{time.monotonic() - t0:.1f}s]")

    print(f"\n{len(failures)} failures: {failures}" if failures else "\nALL OK")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
