"""Final-table digests: the engine's table against `cdc_spark.oracle`.

A digest is the SHA-256 of the table's rows as canonical JSON, sorted by
table and doc_id. The oracle digest is a pure function of the feed (so
of workload and seed); run.py caches it and computes it in a separate
process while the Spark session starts, since the single-threaded
oracle costs ~100 µs per event.

Run as a script to compute and store one oracle digest:

    python3 perfbench/digest.py <feed dir> <carry|fetch> <out.json>
"""

from __future__ import annotations

import hashlib
import json
import os
import sys


def rows_digest(tables: dict[str, list[dict]]) -> str:
    """Digest of {table name: rows}; each row a dict of column → value."""
    h = hashlib.sha256()
    for name in sorted(tables):
        rows = sorted(tables[name], key=lambda r: r["doc_id"])
        for r in rows:
            rec = {k: (list(v) if isinstance(v, (list, tuple)) else v) for k, v in r.items()}
            h.update(json.dumps([name, rec], sort_keys=True).encode())
            h.update(b"\n")
    return h.hexdigest()


def oracle_digest(feed_dir: str, images: str) -> dict:
    from cdc_spark import oracle

    by_table = oracle.replay_tables(os.path.join(feed_dir, "segment-*.parquet"), images=images)
    tables = {name: oracle.final_rows(state, reg) for name, (state, reg) in by_table.items()}
    return {"digest": rows_digest(tables), "rows": sum(len(v) for v in tables.values())}


def engine_digest(spark, tables: dict) -> dict:
    """`tables`: {name: TargetTable}; reads each resolved snapshot."""
    rows = {
        name: [r.asDict() for r in t.read_resolved(spark).collect()]
        for name, t in tables.items()
    }
    return {"digest": rows_digest(rows), "rows": sum(len(v) for v in rows.values())}


if __name__ == "__main__":
    feed, images, out = sys.argv[1:4]
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    res = oracle_digest(feed, images)
    tmp = out + ".tmp"
    with open(tmp, "w") as f:
        json.dump(res, f)
    os.replace(tmp, out)
