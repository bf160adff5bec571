"""Local stand-in for the driver's correctness gate: run every
queries() entry on Spark and its oracle_sql() twin on DuckDB at the
given sf dir, compare row count, column names, and order-insensitive
values (with small float tolerance reporting so near-misses are visible
before the driver's exact hash sees them).

An entry with no DuckDB twin passes rows-only, unless it has a
`matches_oracle` column holding anything but true, which fails it."""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from cdc_spark.caching import release_persisted  # noqa: E402
from cdc_spark.session import get_spark  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = sys.argv[2].split(",") if len(sys.argv) > 2 else None


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9)
    return v


def main() -> int:
    con = duckdb.connect()
    for t in entrymod._T:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    spark = get_spark(app="contract_check", master="local[8]", shuffle_partitions=8)
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        t0 = time.monotonic()
        try:
            sdf = fn(spark, SF_DIR)
            scols = sdf.columns
            srows = [tuple(norm(v) for v in r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            failures += 1
            continue
        finally:
            release_persisted()  # query-scoped self-join caches
        if name not in oracles:
            # a rows-only entry that carries its own oracle digest must
            # read uniformly true: a false is a wrong answer, not a pass
            if "matches_oracle" in scols:
                i = scols.index("matches_oracle")
                n_false = sum(1 for r in srows if r[i] is not True)
                if n_false:
                    print(f"FAIL  {name}: matches_oracle not true in "
                          f"{n_false} of {len(srows)} rows")
                    failures += 1
                    continue
            print(f"ok*   {name}: rows-only ({len(srows)} rows, {time.monotonic()-t0:.1f}s)")
            continue
        try:
            res = con.sql(oracles[name])
            ocols = res.columns
            orows = [tuple(norm(v) for v in r) for r in res.fetchall()]
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            failures += 1
            continue
        problems = []
        if sorted(scols) != sorted(ocols):
            problems.append(f"columns spark={scols} duckdb={ocols}")
        else:
            # reorder both to sorted-column order like the driver
            sidx = [scols.index(c) for c in sorted(scols)]
            oidx = [ocols.index(c) for c in sorted(ocols)]
            s_sorted = sorted(tuple(r[i] for i in sidx) for r in srows)
            o_sorted = sorted(tuple(r[i] for i in oidx) for r in orows)
            if len(s_sorted) != len(o_sorted):
                problems.append(f"rowcount spark={len(s_sorted)} duckdb={len(o_sorted)}")
            elif s_sorted != o_sorted:
                n_bad = sum(1 for a, b in zip(s_sorted, o_sorted) if a != b)
                ex = next((a, b) for a, b in zip(s_sorted, o_sorted) if a != b)
                problems.append(f"{n_bad} differing rows; first: spark={ex[0]} duckdb={ex[1]}")
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)}")
            failures += 1
        else:
            print(f"ok    {name}: {len(srows)} rows match ({time.monotonic()-t0:.1f}s)")
    spark.stop()
    print("FAILURES:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
