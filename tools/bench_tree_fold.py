"""Interleaved A/B: sequential fetch_winners vs fetch_winners_tree on a
hot-key-dominated epoch (the regime the tree fold targets: one timeline
holds a large share of the epoch and serializes the sequential fold).

Run: taskset -c 0-(N-1) python tools/bench_tree_fold.py N [zipf] [events] [reps]
Prints one JSON line.
"""
import json
import shutil
import sys
import time
import glob as g

import os
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

cores = sys.argv[1] if len(sys.argv) > 1 else "8"
zipf = float(sys.argv[2]) if len(sys.argv) > 2 else 2.0
n_events = int(sys.argv[3]) if len(sys.argv) > 3 else 1_000_000
reps = int(sys.argv[4]) if len(sys.argv) > 4 else 3

from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master(f"local[{cores}]")
    .config("spark.sql.shuffle.partitions", cores)
    .config("spark.driver.memory", "12g")
    .config("spark.sql.files.maxPartitionBytes", "33554432")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

from cdc_spark.genlog import GenConfig, write_binlog_keys
from cdc_spark.operators.fetch import (
    fetch_winners, fetch_winners_tree, normalize_fetch, resolve_cross_key,
    sample_key_profile,
)
from cdc_spark.sources.binlog import read_changes

work = "/tmp/tree_fold_work"
binlog = f"{work}/binlog_z{zipf}_{n_events}"

if not os.path.isdir(binlog):
    write_binlog_keys(
        GenConfig(n_events=n_events, n_docs=max(1000, n_events // 100),
                  events_per_epoch=n_events, seed=42, zipf_s=zipf),
        binlog, parts=32,
    )

batch = read_changes(spark, sorted(g.glob(f"{binlog}/segment-*.parquet")))
events = resolve_cross_key(spark, normalize_fetch(batch), []).persist()
n_rows = events.count()

# hot-key profile (sampled, same job the tree fold uses)
hot = sample_key_profile(events, n_rows)[0]
from pyspark.sql import functions as F

top = (
    events.groupBy("doc_id").count().orderBy(F.desc("count")).limit(3).collect()
)
profile = {r["doc_id"]: r["count"] for r in top}

out = {"cores": int(cores), "zipf": zipf, "events": n_rows,
       "hot_sampled": len(hot), "top_key_events": profile}
seq_s, tree_s = [], []
seq_rows = tree_rows = None
for rep in range(reps):
    t0 = time.monotonic()
    seq_rows = fetch_winners(events, [], n_events=n_rows).count()
    seq_s.append(round(time.monotonic() - t0, 2))
    t0 = time.monotonic()
    # timed with its profile job, as the dispatch in `_winners` pays it
    tree_hot = sample_key_profile(events, n_rows)[0]
    tree_rows = fetch_winners_tree(events, [], n_rows, tree_hot).count()
    tree_s.append(round(time.monotonic() - t0, 2))
    print(f"rep{rep}: seq={seq_s[-1]}s tree={tree_s[-1]}s", file=sys.stderr)
out.update({
    "seq_sec": seq_s, "tree_sec": tree_s,
    "seq_best": min(seq_s), "tree_best": min(tree_s),
    "rows_equal_count": seq_rows == tree_rows,
    "winner": "tree" if min(tree_s) < min(seq_s) else "seq",
})
print(json.dumps(out))
spark.stop()
