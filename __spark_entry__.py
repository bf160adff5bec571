"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry re-expresses one operator from SURVEY.md §2 (or
a training-data-pipeline operator) over the driver's pre-generated
tables; ``oracle_sql()`` gives the ANSI-SQL twin DuckDB runs on the same
parquet. Column names and types are aligned on both sides (the driver
hash-compares values after sorting columns by name).

CDC-semantics queries run over `events` (user_id ≈ doc_id primary key,
event_id ≈ lsn, 'purchase' ≈ delete op) — per FIXTURES.md "Driver
testdata alignment". The full CDC engine itself is exercised by
``entry`` and the rows-only ``cdc_replay_final_state`` (binlog replay is
not expressible as a single SQL statement; pytest covers it against the
single-threaded oracle applier).
"""

from __future__ import annotations

import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

_T = ["region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings"]


def _load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# flagship: full CDC replay (engine end-to-end)
# ---------------------------------------------------------------------------

def _replay_flagship(spark: SparkSession, sf_dir: str, n_events: int = 10_000) -> DataFrame:
    """Generate a deterministic binlog sized off the documents table,
    replay it through the engine (normalize → LWW dedupe → exactly-once
    merge with schema evolution), return the final tokens table."""
    from cdc_spark.genlog import GenConfig, write_binlog
    from cdc_spark.streaming.pipeline import replay

    n_docs = _load(spark, sf_dir, "documents").count()
    work = tempfile.mkdtemp(prefix="cdc_entry_")
    try:
        cfg = GenConfig(
            n_events=n_events, n_docs=max(int(n_docs), 50),
            events_per_epoch=max(n_events // 10, 1), seed=42,
        )
        write_binlog(cfg, f"{work}/binlog")
        table = replay(spark, f"{work}/binlog", f"{work}/table", lineage=False)
        out = table.read_resolved(spark)
        # materialize executor-side before the tmpdir vanishes (no
        # driver-side collect of data rows)
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return _replay_flagship(spark, "/root/testdata/sf0.001", n_events=5_000)


# ---------------------------------------------------------------------------
# CDC operator queries (events table; DuckDB-oracled)
# ---------------------------------------------------------------------------

_SQL_LWW = """
SELECT user_id, event_id AS last_event_id, event_type AS last_event_type,
       value AS last_value
FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) rn
      FROM events) t
WHERE rn = 1
"""


def _q_lww_agg(spark, sf):
    ev = _load(spark, sf, "events")
    return (
        ev.groupBy("user_id")
        .agg(F.max_by(F.struct("event_id", "event_type", "value"), F.col("event_id")).alias("r"))
        .select(
            "user_id",
            F.col("r.event_id").alias("last_event_id"),
            F.col("r.event_type").alias("last_event_type"),
            F.col("r.value").alias("last_value"),
        )
    )


def _q_merge_apply(spark, sf):
    ev = _load(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("event_id").desc())
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("event_type") != "purchase"))
        .select("user_id", F.col("event_id").alias("last_event_id"),
                F.col("value").alias("last_value"))
    )


def _q_mask_merge(spark, sf):
    ev = _load(spark, sf, "events")
    return ev.groupBy("user_id").agg(
        F.expr("max_by(value, event_id) FILTER (WHERE event_type <> 'error')").alias("merged_value"),
        F.max("event_id").alias("last_event_id"),
    )


def _q_pk_split(spark, sf):
    ev = _load(spark, sf, "events").filter(F.col("event_type") == "signup")
    pair = F.array(
        F.struct(F.lit("D").alias("op")), F.struct(F.lit("I").alias("op"))
    )
    return ev.select("event_id", "user_id", F.explode(pair).alias("e")).select(
        "event_id", "user_id", F.col("e.op").alias("op")
    )


def _q_schema_dedup(spark, sf):
    ev = _load(spark, sf, "events")
    return ev.groupBy("user_id", "event_type").agg(F.min("event_id").alias("first_seen"))


def _q_metrics(spark, sf):
    ev = _load(spark, sf, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("event_id").alias("min_lsn"),
        F.max("event_id").alias("max_lsn"),
        F.round(F.sum("value"), 3).alias("sum_value"),
    )


def _q_watermark(spark, sf):
    ev = _load(spark, sf, "events")
    return ev.agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("event_id").alias("min_lsn"),
        F.max("event_id").alias("max_lsn"),
    )


def _q_range_scan(spark, sf):
    ev = _load(spark, sf, "events")
    return ev.filter(
        (F.col("event_id") > 2000) & (F.col("event_id") <= 5000)
        & F.col("event_type").isin("click", "view")
    ).select("event_id", "user_id", "event_type", "value")


def _q_sort_barrier(spark, sf):
    ev = _load(spark, sf, "events")
    kind = F.when(F.col("event_type") == "signup", 0).otherwise(1)
    return (
        ev.select("event_id", "user_id", "event_type", kind.alias("barrier"))
        .orderBy("barrier", "event_id")
        .limit(200)
    )


def _q_union(spark, sf):
    ev = _load(spark, sf, "events")
    a = ev.filter(F.col("event_type") == "signup").select(
        "event_id", "user_id", F.lit("ddl").alias("kind")
    )
    b = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.lit("dml").alias("kind")
    )
    return a.unionByName(b)


def _q_hot_keys(spark, sf):
    ev = _load(spark, sf, "events")
    return (
        ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("user_id").asc())
        .limit(10)
    )


def _q_epoch_lineage(spark, sf):
    ev = _load(spark, sf, "events")
    epoch = F.floor(F.col("event_id") / F.lit(1000.0)).cast("long").alias("epoch")
    return (
        ev.select(epoch, "event_id", "event_type")
        .groupBy("epoch")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("event_id").alias("min_lsn"),
            F.max("event_id").alias("max_lsn"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("n_delete"),
        )
    )


# ---------------------------------------------------------------------------
# training-data pipeline queries (documents / embeddings)
# ---------------------------------------------------------------------------

def _q_doc_fingerprint(spark, sf):
    from cdc_spark.functions.text import fingerprint

    d = _load(spark, sf, "documents")
    return d.select("doc_id", fingerprint(F.col("text")).alias("fp"))


def _q_doc_exact_dedup(spark, sf):
    d = _load(spark, sf, "documents")
    return d.groupBy(F.md5("text").alias("fp")).agg(
        F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("dup_count")
    )


def _q_doc_token_count(spark, sf):
    from cdc_spark.functions.text import token_count

    d = _load(spark, sf, "documents")
    return d.select("doc_id", token_count(F.col("text")).cast("long").alias("n_words"))


def _q_doc_quality(spark, sf):
    from cdc_spark.functions.text import quality_metrics

    d = _load(spark, sf, "documents")
    out = quality_metrics(d)
    return out.select(
        "doc_id",
        F.col("n_words").cast("long").alias("n_words"),
        "avg_word_len", "stopword_ratio", "punct_ratio", "quality_ok",
    )


def _q_doc_lang_id(spark, sf):
    from cdc_spark.functions.text import lang_id

    d = _load(spark, sf, "documents")
    return d.select("doc_id", lang_id(F.col("text")).alias("pred_lang"))


def _q_emb_norm(spark, sf):
    from cdc_spark.functions.similarity import l2_norm

    e = _load(spark, sf, "embeddings")
    return e.select("vec_id", F.round(l2_norm(F.col("embedding")), 4).alias("l2_norm"))


def _query_vec(spark, sf) -> list[float]:
    e = _load(spark, sf, "embeddings")
    return [float(x) for x in e.filter(F.col("vec_id") == 0).first()["embedding"]]


def _q_emb_topk(spark, sf):
    from cdc_spark.functions.similarity import brute_force_topk

    e = _load(spark, sf, "embeddings")
    return brute_force_topk(e, _query_vec(spark, sf), k=10)


def _q_emb_topk_lsh(spark, sf):
    from cdc_spark.functions.similarity import lsh_topk

    e = _load(spark, sf, "embeddings")
    return lsh_topk(e, _query_vec(spark, sf), k=10)


def _q_emb_topk_ivf_indexed(spark, sf):
    """P12 persisted-index form: embeddings written parquet-partitioned
    by frozen-quantizer cluster, then probed via PartitionFilters-pruned
    scans (the on-disk 100-TB layout; pruning pinned in
    tests/test_similarity.py). Same frozen centroids as the in-memory
    IVF query, so the same SQL oracle applies exactly."""
    from cdc_spark.functions.ivf_centroids import FIXED_CENTROIDS
    from cdc_spark.functions.similarity import build_ivf_index, ivf_index_topk

    e = _load(spark, sf, "embeddings")
    work = tempfile.mkdtemp(prefix="cdc_ivf_idx_")
    try:
        build_ivf_index(e, f"{work}/index", centroids=FIXED_CENTROIDS)
        out = ivf_index_topk(spark, f"{work}/index", _query_vec(spark, sf), k=10)
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _q_emb_topk_ivf_inc(spark, sf):
    """P12 × CDC: incrementally-maintained IVF index. Build the index
    from HALF the corpus, append the other half as two delta
    generations under the frozen quantizer (append_ivf_delta), then
    probe base+deltas with partition pruning on every side. Because the
    per-vector assignment is append-time-invariant, the result is
    identical to indexing the full corpus — so the SAME frozen-quantizer
    SQL oracle pins it exactly."""
    from cdc_spark.functions.ivf_centroids import FIXED_CENTROIDS
    from cdc_spark.functions.similarity import (
        append_ivf_delta, build_ivf_index, ivf_index_topk,
    )

    e = _load(spark, sf, "embeddings")
    work = tempfile.mkdtemp(prefix="cdc_ivf_inc_")
    try:
        build_ivf_index(
            e.filter(F.col("vec_id") % 4 < 2), f"{work}/index",
            centroids=FIXED_CENTROIDS,
        )
        for m in (2, 3):
            rep = append_ivf_delta(
                e.filter(F.col("vec_id") % 4 == m), f"{work}/index"
            )
            assert rep["gen"] == m - 2 and rep["n_appended"] > 0
        out = ivf_index_topk(spark, f"{work}/index", _query_vec(spark, sf), k=10)
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _q_emb_topk_ivf(spark, sf):
    from cdc_spark.functions.ivf_centroids import FIXED_CENTROIDS
    from cdc_spark.functions.similarity import ivf_topk

    e = _load(spark, sf, "embeddings")
    # frozen quantizer artifact (100-TB shape: trained offline once);
    # also what makes this approximate path exactly SQL-oracle-able.
    # n_probe=4/16 keeps the 75% scan-prune demo; on the synthetic
    # near-random vectors that yields recall@10 ≈ 4-5/10 (6-7/10 at
    # n_probe 6-8 — measured via the oracles) — real recall behavior is
    # pinned on clustered fixtures in tests/test_similarity.py, where
    # ≥8/10 holds, because ANN recall on unclustered random data is
    # information-theoretically poor for ANY pruning method.
    return ivf_topk(e, _query_vec(spark, sf), k=10, centroids=FIXED_CENTROIDS)


def _docs_with_variants(spark, sf) -> DataFrame:
    """documents ∪ a deterministic near-dup variant of each doc (first
    word dropped, doc_id offset by 1,000,000) — gives the near-dup
    operators real positives to find on purely synthetic data. The SQL
    twin is _SQL_DOC_VARIANTS."""
    d = _load(spark, sf, "documents").select("doc_id", "text")
    words = F.split(F.trim(F.col("text")), r"\s+")
    variant = d.select(
        (F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"),
        F.concat_ws(" ", F.slice(words, 2, F.greatest(F.size(words) - 1, F.lit(0)))).alias("text"),
    )
    return d.unionByName(variant)


_SQL_DOC_VARIANTS = """
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id,
           array_to_string((regexp_split_to_array(trim(text), '\\s+'))[2:], ' ') AS text
    FROM documents
"""


def _q_minhash_dedup(spark, sf):
    from cdc_spark.functions.dedup import minhash_candidate_pairs

    return minhash_candidate_pairs(_docs_with_variants(spark, sf))


def _q_simhash(spark, sf):
    from cdc_spark.functions.dedup import simhash_signatures

    return simhash_signatures(_load(spark, sf, "documents"))


def _q_ngram_jaccard(spark, sf):
    from cdc_spark.functions.dedup import jaccard_pairs

    return jaccard_pairs(_docs_with_variants(spark, sf), threshold=0.5)


def _q_dup_clusters(spark, sf):
    """P2 follow-through: near-dup candidate pairs → connected-component
    clusters with min-id representatives (the keep/drop decision of a
    dedup pipeline). Iterative min-label propagation; DuckDB oracle is a
    recursive-CTE reachability query over the same pair set."""
    from cdc_spark.functions.dedup import dup_clusters, minhash_candidate_pairs

    docs = _docs_with_variants(spark, sf)
    pairs = minhash_candidate_pairs(docs)
    return dup_clusters(docs.select("doc_id"), pairs)


def _q_dup_clusters_inc(spark, sf):
    """Incremental near-dup cluster maintenance (the CDC × dedup op):
    the corpus is split deterministically into an existing part C and an
    append delta Δ (pmod(doc_id,7)=3 — originals and their +1M variants
    land on DIFFERENT sides, so real Δ×C edges exist); C is clustered
    once, then Δ arrives and only Δ's signatures, Δ-touching candidate
    pairs, and the contracted delta-scale graph are computed. The oracle
    is the FULL-corpus recursive-CTE clustering — passing means the
    incremental path is exactly split-invariant."""
    from cdc_spark.caching import track_persist
    from cdc_spark.functions.dedup import (
        band_index, dup_clusters, dup_clusters_incremental, pairs_from_index,
    )

    docs = _docs_with_variants(spark, sf)
    is_delta = F.pmod(F.col("doc_id"), F.lit(7)) == F.lit(3)
    base, delta = docs.filter(~is_delta), docs.filter(is_delta)
    base_idx = track_persist(band_index(base))
    prev = dup_clusters(
        base.select("doc_id"), pairs_from_index(base_idx, base_idx)
    )
    return dup_clusters_incremental(prev, base_idx, band_index(delta))


def _q_stratified_sample(spark, sf):
    """Deterministic content-keyed stratified sampling per source —
    rerun/partitioning-invariant (unlike seeded df.sample), exact SQL
    twin via the cross-engine md5-prefix hash."""
    from cdc_spark.functions.sampling import stratified_sample

    d = _load(spark, sf, "documents")
    out = stratified_sample(d, id_col="doc_id", stratum_col="source")
    return out.select("doc_id", "source", "lang", "rate_permille")


def _q_rolling_fp(spark, sf):
    from cdc_spark.functions.dedup import rolling_fingerprint

    d = _load(spark, sf, "documents")
    return d.select("doc_id", rolling_fingerprint(F.col("text")).alias("rolling_fp"))


_BPE_PATTERN = "[A-Za-z0-9_]+|[^A-Za-z0-9_ ]"


def _q_bpe_tokens(spark, sf):
    d = _load(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_BPE_PATTERN), F.lit(0)))
        .cast("long").alias("n_bpe_tokens"),
    )


def _q_vocab_top_k(spark, sf):
    """P19: corpus token-frequency table (the tokenizer-fitting input).
    Two-level partial aggregation so a corpus-scale stopword collapses
    map-side; top-k via TakeOrderedAndProject, never a global sort."""
    from cdc_spark.functions.text import vocab_top_k

    return vocab_top_k(_load(spark, sf, "documents"), k=100)


def _q_pack_manifest(spark, sf):
    """P17: training-sequence packing manifest (concat-and-chunk) —
    global token offsets via a two-phase distributed prefix sum (no
    SinglePartition window; see functions/packing.py's scale notes).
    The oracle is the plain global-window cumsum."""
    from cdc_spark.functions.packing import pack_manifest
    from cdc_spark.functions.text import token_count

    d = _load(spark, sf, "documents").select(
        "doc_id", token_count(F.col("text")).cast("long").alias("n_tok")
    )
    return pack_manifest(d, seq_len=256, n_buckets=16)


def _q_decontaminate(spark, sf):
    """P18: benchmark decontamination — training docs sharing an
    8-gram with the eval set. Eval texts are deterministic 40-word
    snippets of every 23rd doc (planted contamination: the sources
    themselves must surface; chance 8-gram collisions are the noise
    floor the operator is meant to ignore)."""
    from cdc_spark.functions.contamination import contaminated

    d = _load(spark, sf, "documents")
    words = F.split(F.trim(F.col("text")), r"\s+")
    ev = d.filter(F.col("doc_id") % 23 == 0).select(
        F.concat_ws(" ", F.slice(words, 1, 40)).alias("text")
    )
    return contaminated(d, ev, k=8)


def _q_pack_sequences(spark, sf):
    """P17 end-to-end: materialize the packed training sequences from
    the manifest (explode overlaps → shuffle by seq_id → ordered
    flatten; groups perfectly balanced at seq_len tokens by
    construction). Per-sequence content is pinned through the driver's
    scalar hash as a polynomial fingerprint of the token array (the
    contract surface stays scalar; the arrays themselves are compared
    row-exactly in tests/test_packing.py)."""
    from cdc_spark.functions.dedup import str_hash60
    from cdc_spark.functions.packing import emit_sequences
    from cdc_spark.functions.text import word_array

    from cdc_spark.caching import track_persist

    # persist the tokenized corpus: the packer's bounds/totals jobs and
    # the windowed emit would otherwise each re-evaluate the interpreted
    # md5 token transform (CLAUDE.md: md5-heavy array exprs go behind a
    # barrier or persist)
    d = track_persist(
        _load(spark, sf, "documents").select(
            "doc_id",
            F.transform(
                word_array(F.col("text")),
                lambda w: F.pmod(str_hash60(w), F.lit(32768)),
            ).alias("tokens"),
        )
    )
    out = emit_sequences(d, seq_len=256, n_buckets=16)
    fp = F.aggregate(
        F.col("tokens"),
        F.lit(0).cast("long"),
        lambda acc, x: (acc * 31 + x) % F.lit(1_000_000_007),
    )
    return out.select("seq_id", "n_tok", fp.alias("tok_fp"))


def _q_emb_near_dup_exact(spark, sf):
    from cdc_spark.functions.similarity import exact_pairs_blocked

    e = _load(spark, sf, "embeddings").select("vec_id", "embedding")
    # exact twin of emb_near_dup_lsh: O(n²) compute is inherent to exact
    # all-pairs, but grid blocking turns it into B(B+1)/2 evenly-sized
    # equi-join tasks — no CartesianProduct node anywhere in the contract.
    # n_blocks derives from the row count (bounded pair-dots per task at
    # any sf; blocking never changes the result set)
    return exact_pairs_blocked(e, threshold=0.4)


def _q_emb_near_dup_lsh(spark, sf):
    from cdc_spark.functions.similarity import all_pairs_above

    e = _load(spark, sf, "embeddings")
    return all_pairs_above(e, threshold=0.4)


def _q_media_features(spark, sf):
    from cdc_spark.functions.multimodal import documents_as_media, extract_features

    media = documents_as_media(_load(spark, sf, "documents"))
    out = extract_features(media, fake=True)
    return out.select(
        "asset_id", "media_type", "n_bytes",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
    )


def _q_media_resize(spark, sf):
    from cdc_spark.functions.multimodal import documents_as_media, resize_images

    media = documents_as_media(_load(spark, sf, "documents"))
    return resize_images(media, max_side=32, fake=True)


def _q_media_frame_sample(spark, sf):
    from cdc_spark.functions.multimodal import documents_as_media, frame_sample

    media = documents_as_media(_load(spark, sf, "documents"), media_type="video")
    out = frame_sample(media, every_n=30, fake=True)
    return out.select(
        "asset_id",
        F.col("frame_idx").cast("long").alias("frame_idx"),
        F.col("ts_ms").cast("long").alias("ts_ms"),
    )


def _q_enrich_broadcast(spark, sf):
    """Dimension-enrichment join: fact orders against broadcast customer
    and nation dims — the engine's broadcast-join surface (at 100 TB the
    fact side streams, dims broadcast; no fact shuffle for the join)."""
    o = _load(spark, sf, "orders")
    c = _load(spark, sf, "customer")
    n = _load(spark, sf, "nation")
    # money summed as exact cents (longs) — double-sum association order
    # differs between engines, so rounded double sums can hash-mismatch
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    return (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(cents).alias("sum_price_cents"),
        )
    )


def _q_lineitem_pricing(spark, sf):
    """TPC-H Q1-shaped wide aggregation over the largest table — the
    map-side-combining groupBy Catalyst plans for free."""
    li = _load(spark, sf, "lineitem")
    # exact-integer sums (cents / 1e-4 units): per-row scalar doubles are
    # bit-identical across engines, only aggregate association order is
    # not — so round per row, sum longs
    base_cents = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    disc_e4 = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000, 0).cast("long")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
            F.sum(base_cents).alias("sum_base_price_cents"),
            F.sum(disc_e4).alias("sum_disc_price_e4"),
            F.round(F.sum(F.col("l_quantity").cast("long")) / F.count(F.lit(1)), 4).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def _read_binlog_rows(binlog_dir: str) -> list[dict]:
    """All segment rows as plain dicts via pyarrow (no Spark) — the
    input to in-process oracle digests."""
    import glob as _glob

    import pyarrow.parquet as _pq

    rows: list[dict] = []
    for seg in sorted(_glob.glob(f"{binlog_dir}/segment-*.parquet")):
        rows.extend(_pq.read_table(seg).to_pylist())
    return rows


def _q_streaming_stats(spark, sf):
    """P13: applyInPandasWithState running per-source stats, driven as a
    real Structured Streaming query (availableNow) over a generated
    change feed; returns the final cumulative row per source."""
    from cdc_spark.genlog import GenConfig, write_binlog
    from cdc_spark.streaming.stateful import running_source_stats

    work = tempfile.mkdtemp(prefix="cdc_stateful_")
    out: list = []
    try:
        write_binlog(GenConfig(n_events=5_000, n_docs=500, events_per_epoch=1_000, seed=42),
                     f"{work}/binlog")
        from cdc_spark.schema import CHANGE_SCHEMA

        changes = (
            spark.readStream.schema(CHANGE_SCHEMA)
            .option("maxFilesPerTrigger", 2)
            .parquet(f"{work}/binlog")
        )
        q = (
            running_source_stats(changes)
            .writeStream.foreachBatch(lambda bdf, _b: out.extend(bdf.collect()))
            .option("checkpointLocation", f"{work}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        feed_rows = _read_binlog_rows(f"{work}/binlog")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    final: dict = {}
    for r in out:  # cumulative emissions; keep the max per source
        cur = final.get(r["source"])
        if cur is None or r["n_events"] > cur["n_events"]:
            final[r["source"]] = r.asDict()
    # in-process oracle digest (VERDICT r3 item #5): recompute the same
    # per-source totals single-threaded from the generated feed with
    # pyarrow — no Spark — so the stateful stream's result carries its
    # own equivalence pin under the driver's rows-only check
    exp: dict[str, dict] = {}
    for row in feed_rows:
        if row["op_type"] not in ("I", "U", "D"):
            continue
        src = (
            (row.get("after") or {}).get("source")
            or (row.get("before") or {}).get("source")
            or "?"
        )
        s = exp.setdefault(src, {"n_events": 0, "n_deletes": 0, "last_lsn": -1})
        s["n_events"] += 1
        s["n_deletes"] += row["op_type"] == "D"
        s["last_lsn"] = max(s["last_lsn"], row["lsn"])
    matches = set(exp) == set(final) and all(
        final[k]["n_events"] == v["n_events"]
        and final[k]["n_deletes"] == v["n_deletes"]
        and final[k]["last_lsn"] == v["last_lsn"]
        for k, v in exp.items()
    )
    rows = [
        {**d, "oracle_rows": len(exp), "matches_oracle": matches}
        for d in sorted(final.values(), key=lambda d: d["source"])
    ]
    return spark.createDataFrame(rows)


def _q_windowed_agg(spark, sf):
    """Event-time tumbling-window rollup (the streaming watermark
    operator's aggregation, exercised batch-side where it is exactly
    SQL-oracle-able; the watermark/late-data behavior is pinned by
    tests/test_windowed.py)."""
    from cdc_spark.streaming.windowed import windowed_event_stats

    return windowed_event_stats(_load(spark, sf, "events"))


def _q_multi_table_route(spark, sf):
    """Multi-table routing semantics on the events table (event_type as
    the routed table): per-table LWW-resolved row count + lsn watermark —
    the per-table summary apply_batch_multi maintains, SQL-oracled."""
    ev = _load(spark, sf, "events")
    resolved = ev.groupBy("event_type", "user_id").agg(
        F.max("event_id").alias("last_event_id")
    )
    return resolved.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.max("last_event_id").alias("max_lsn"),
    )


_MT_SCHEDULE = (
    (0.20, "add_column", {"name": "quality", "type": "float"}, 0),
    (0.40, "add_column", {"name": "rating", "type": "int"}, 1),
    (0.60, "drop_column", {"name": "rating"}, 1),
    (0.80, "add_column", {"name": "rating", "type": "long"}, 1),
)


def _q_multi_table_replay(spark, sf):
    """Engine drive: a 2-table binlog (with a drop+re-add on one table)
    replayed through apply_batch_multi; returns per-table final summary."""
    from cdc_spark.genlog import GenConfig, write_binlog
    from cdc_spark.streaming.pipeline import replay_multi

    tables = ("corpus.tokens", "corpus.aux")
    work = tempfile.mkdtemp(prefix="cdc_mt_")
    try:
        cfg = GenConfig(
            n_events=6_000, n_docs=400, events_per_epoch=1_500, seed=42,
            tables=tables, ddl_schedule=_MT_SCHEDULE,
        )
        write_binlog(cfg, f"{work}/binlog")
        router = replay_multi(spark, f"{work}/binlog", f"{work}/root", lineage=False)
        # per-table oracle digest literals: the row itself carries the
        # comparison, so a drifted engine mismatches visibly even under
        # the driver's rows-only check
        from cdc_spark import oracle as _oracle

        by_table = _oracle.replay_tables(f"{work}/binlog/segment-*.parquet")
        per = []
        for name in tables:
            state, _reg = by_table.get(name, ({}, None))
            o_n = len(state)
            o_max = max((r["last_lsn"] for r in state.values()), default=None)
            o_sum = sum(r["n_tok"] for r in state.values() if r["n_tok"] is not None)
            per.append(
                router.get(name).read_resolved(spark).agg(
                    F.count(F.lit(1)).alias("n_rows"),
                    F.max("last_lsn").alias("max_lsn"),
                    F.sum("n_tok").alias("sum_n_tok"),
                ).withColumn("table", F.lit(name)).withColumn(
                    "matches_oracle",
                    (F.col("n_rows") == F.lit(o_n))
                    & (F.col("max_lsn") == F.lit(o_max))
                    & (F.col("sum_n_tok") == F.lit(o_sum)),
                )
            )
        out = per[0].unionByName(per[1])
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _digest_columns(out: DataFrame, oracle_rows: list[dict]) -> DataFrame:
    """Append self-verifying digest columns to an engine-drive result:
    the single-threaded oracle applier's digest (row count + summed
    per-row md5 prefix) is computed in-process and compared against the
    SAME digest computed by Spark over the result — a drifted engine
    mismatches visibly in the returned rows (`matches_oracle=false`),
    upgrading the driver's rows-only check to a real equivalence pin."""
    import hashlib

    # per-row hash reduced mod 10^12 so the int64 sum cannot overflow
    # under ANSI mode before ~10^6 rows-per-partition × 10^12
    def py_h(r: dict) -> int:
        parts = [str(r[c]) for c in ("doc_id", "tokens_sum", "n_tok", "source", "last_lsn")
                 if r[c] is not None]
        return int(hashlib.md5("|".join(parts).encode()).hexdigest()[:15], 16) % 10**12

    o_n = len(oracle_rows)
    o_sum = sum(py_h(r) for r in oracle_rows)
    h = F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat_ws("|", "doc_id", "tokens_sum", "n_tok", "source", "last_lsn")),
                1, 15,
            ),
            16, 10,
        ).cast("long"),
        F.lit(10**12),
    )
    got = out.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("s")).first()
    matches = bool(got["n"] == o_n and got["s"] == o_sum)
    return out.withColumn("oracle_rows", F.lit(o_n)).withColumn(
        "matches_oracle", F.lit(matches)
    )


def _summary_cols(df: DataFrame) -> DataFrame:
    # token arrays hashed as their sum+len to keep the rows-only check light
    return df.select(
        "doc_id", "n_tok", "source", "last_lsn",
        F.aggregate("tokens", F.lit(0).cast("long"), lambda a, x: a + x).alias("tokens_sum"),
    )


def _oracle_summary_rows(state, reg) -> list[dict]:
    from cdc_spark import oracle as _oracle

    return [
        {
            "doc_id": r["doc_id"], "n_tok": r["n_tok"], "source": r["source"],
            "last_lsn": r["last_lsn"],
            "tokens_sum": sum(r["tokens"]) if r["tokens"] is not None else None,
        }
        for r in _oracle.final_rows(state, reg)
    ]


def _q_replay_final(spark, sf):
    """Engine drive + oracle digest: replay a generated binlog, return
    per-doc summaries carrying `matches_oracle` derived from the
    in-process single-threaded applier (cdc_spark/oracle.py)."""
    from cdc_spark import oracle as _oracle
    from cdc_spark.genlog import GenConfig, write_binlog
    from cdc_spark.streaming.pipeline import replay

    n_docs = _load(spark, sf, "documents").count()
    work = tempfile.mkdtemp(prefix="cdc_entry_")
    try:
        cfg = GenConfig(
            n_events=10_000, n_docs=max(int(n_docs), 50),
            events_per_epoch=1_000, seed=42,
        )
        write_binlog(cfg, f"{work}/binlog")
        table = replay(spark, f"{work}/binlog", f"{work}/table", lineage=False)
        out = _summary_cols(table.read_resolved(spark))
        state, reg = _oracle.replay(f"{work}/binlog/segment-*.parquet")
        out = _digest_columns(out, _oracle_summary_rows(state, reg))
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _q_replay_final_honest(spark, sf):
    """State-honest twin of cdc_replay_final_state (VERDICT r4 #7): the
    generator's default feed synthesizes U/D before-images independent
    of accumulated state; `state_honest=True` rewrites them to the
    oracle applier's OWN state at each lsn, so this drive exercises real
    inter-event correlations (carry merges against values EARLIER events
    actually established) under the same in-process oracle digest."""
    from cdc_spark import oracle as _oracle
    from cdc_spark.genlog import GenConfig, write_binlog
    from cdc_spark.streaming.pipeline import replay

    n_docs = _load(spark, sf, "documents").count()
    work = tempfile.mkdtemp(prefix="cdc_entry_sh_")
    try:
        cfg = GenConfig(
            n_events=10_000, n_docs=max(int(n_docs), 50),
            events_per_epoch=1_000, seed=42, state_honest=True,
        )
        write_binlog(cfg, f"{work}/binlog")
        table = replay(spark, f"{work}/binlog", f"{work}/table", lineage=False)
        out = _summary_cols(table.read_resolved(spark))
        state, reg = _oracle.replay(f"{work}/binlog/segment-*.parquet")
        out = _digest_columns(out, _oracle_summary_rows(state, reg))
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _q_fetch_replay_final(spark, sf):
    """Engine drive of the KEY-ONLY feed path (reference CT shape,
    CTInputDStream.java:112-131): generate the keys twin, fetch-replay
    it (images come from earlier events + the engine's own state), and
    digest-pin against the fetch-mode oracle."""
    from cdc_spark import oracle as _oracle
    from cdc_spark.genlog import GenConfig, write_binlog_keys
    from cdc_spark.streaming.pipeline import replay

    n_docs = _load(spark, sf, "documents").count()
    work = tempfile.mkdtemp(prefix="cdc_fetch_")
    try:
        cfg = GenConfig(
            n_events=10_000, n_docs=max(int(n_docs), 50),
            events_per_epoch=1_000, seed=42,
        )
        write_binlog_keys(cfg, f"{work}/binlog")
        table = replay(spark, f"{work}/binlog", f"{work}/table", images="fetch",
                       lineage=False)
        out = _summary_cols(table.read_resolved(spark))
        state, reg = _oracle.replay(f"{work}/binlog/segment-*.parquet", images="fetch")
        out = _digest_columns(out, _oracle_summary_rows(state, reg))
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _q_hot_key_fetch_final(spark, sf):
    """Engine drive of the DOMINANT-TIMELINE regime (round 5): a
    zipf-2.2 key-only feed whose top key holds ~2/3 of the epoch trips
    the sampled dispatch in `fetch._winners` (top-share ≥0.30 at ≥250k
    DML events) into the parallel-prefix tree fold — the driver-visible
    pin that the TREE path, through the unmodified production replay,
    reproduces the fetch-mode oracle (the other fetch entries stay
    under the dispatch gates and pin the sequential kernel). Reference
    shape: CTInputDStream.java:112-131; a mass re-key/rewrite feed is
    the 100-TB case where one entity dominates an epoch."""
    from cdc_spark import oracle as _oracle
    from cdc_spark.genlog import GenConfig, write_binlog_keys
    from cdc_spark.streaming.pipeline import replay

    work = tempfile.mkdtemp(prefix="cdc_hotfetch_")
    try:
        cfg = GenConfig(
            n_events=260_000, n_docs=20_000, events_per_epoch=260_000,
            seed=42, zipf_s=2.2,
        )
        write_binlog_keys(cfg, f"{work}/binlog", parts=8)
        table = replay(spark, f"{work}/binlog", f"{work}/table",
                       images="fetch", lineage=False)
        out = _summary_cols(table.read_resolved(spark))
        state, reg = _oracle.replay(f"{work}/binlog/segment-*.parquet",
                                    images="fetch")
        out = _digest_columns(out, _oracle_summary_rows(state, reg))
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _q_multi_table_fetch_replay(spark, sf):
    """Engine drive: a 2-table KEY-ONLY binlog (reference CT shape,
    routed per table — CTInputDStream.java:65-99 × 112-131) replayed
    with --multi-table --images fetch; per-table summary rows carry
    `matches_oracle` digests from the fetch-mode multi-table oracle."""
    from cdc_spark import oracle as _oracle
    from cdc_spark.genlog import GenConfig, write_binlog_keys
    from cdc_spark.streaming.pipeline import replay_multi

    tables = ("corpus.tokens", "corpus.aux")
    work = tempfile.mkdtemp(prefix="cdc_mtf_")
    try:
        cfg = GenConfig(
            n_events=6_000, n_docs=400, events_per_epoch=1_500, seed=42,
            tables=tables, ddl_schedule=_MT_SCHEDULE,
            p_pk_change=0.10, p_missing_tokens=0.4, p_missing_source=0.4,
        )
        write_binlog_keys(cfg, f"{work}/binlog")
        router = replay_multi(
            spark, f"{work}/binlog", f"{work}/root", lineage=False,
            images="fetch",
        )
        by_table = _oracle.replay_tables(
            f"{work}/binlog/segment-*.parquet", images="fetch"
        )
        per = []
        for name in tables:
            state, _reg = by_table.get(name, ({}, None))
            o_n = len(state)
            o_max = max((r["last_lsn"] for r in state.values()), default=None)
            o_sum = sum(r["n_tok"] for r in state.values() if r["n_tok"] is not None)
            per.append(
                router.get(name).read_resolved(spark).agg(
                    F.count(F.lit(1)).alias("n_rows"),
                    F.max("last_lsn").alias("max_lsn"),
                    F.sum("n_tok").alias("sum_n_tok"),
                ).withColumn("table", F.lit(name)).withColumn(
                    "matches_oracle",
                    (F.col("n_rows") == F.lit(o_n))
                    & (F.col("max_lsn") == F.lit(o_max))
                    & (F.col("sum_n_tok") == F.lit(o_sum)),
                )
            )
        out = per[0].unionByName(per[1])
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _q_image_fetch_join(spark, sf):
    """S2's image-fetch join shape on the events table: change KEYS from
    the tail range fetch the LWW base image built from the head range
    (reference: CHANGETABLE keys RIGHT-OUTER-⋈ base table,
    CTInputDStream.java:112-131). Scale shape: the (small) change-key
    set broadcast-semi-filters the base scan BEFORE any aggregation —
    the 100-TB base never fully aggregates and never shuffles; work is
    O(changed keys). The outer join preserves every change key (the
    reference's RIGHT OUTER), expressed as change-side LEFT join so the
    small side streams and the fetched images broadcast."""
    from cdc_spark.caching import track_persist

    ev = _load(spark, sf, "events")
    chg = track_persist(
        ev.filter(F.col("event_id") > 7000)
        .groupBy("user_id")
        .agg(F.max_by(F.struct("event_id", "event_type"), F.col("event_id")).alias("r"))
        .select("user_id", F.col("r.event_id").alias("change_event_id"),
                F.col("r.event_type").alias("change_type"))
    )
    base = (
        ev.filter(F.col("event_id") <= 7000)
        .join(F.broadcast(chg.select("user_id")), "user_id", "left_semi")
        .groupBy("user_id")
        .agg(F.max_by(F.struct("event_id", "value"), F.col("event_id")).alias("r"))
        .select("user_id", F.col("r.event_id").alias("base_event_id"),
                F.col("r.value").alias("base_value"))
    )
    return chg.join(F.broadcast(base), "user_id", "left").select(
        "user_id", "change_event_id", "change_type", "base_event_id", "base_value"
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (+ the
    training-data ops the 100-TB pipeline needs)."""
    return {
        # CDC operators (§2) over the events table
        "cdc_lww_dedupe_agg": _q_lww_agg,            # O3 (max_by partial-agg form)
        "cdc_merge_apply": _q_merge_apply,           # K4/K5 final-state semantics
        "cdc_missing_mask_merge": _q_mask_merge,     # T7 before-image fill analogue
        "cdc_pk_change_split": _q_pk_split,          # T8 1→2 expansion
        "cdc_schema_dedup": _q_schema_dedup,         # T2 first-seen dedupe
        "cdc_metrics_agg": _q_metrics,               # lineage counts (F3)
        "cdc_offset_watermark": _q_watermark,        # S6 offset range
        "cdc_range_scan": _q_range_scan,             # S2 lsn-range scan w/ pushdown
        "cdc_sort_barrier": _q_sort_barrier,         # O2 DDL-before-DML ordering
        "cdc_union": _q_union,                       # O1 DDL∪DML
        "cdc_hot_keys": _q_hot_keys,                 # §4.3 skew histogram
        "cdc_epoch_lineage": _q_epoch_lineage,       # F3 per-epoch lineage
        "cdc_multi_table_route": _q_multi_table_route,  # per-table dispatch semantics
        "cdc_windowed_agg": _q_windowed_agg,         # event-time window rollup
        "cdc_image_fetch_join": _q_image_fetch_join,  # S2 CT keys ⋈ base image fetch
        # training-data pipeline ops
        "doc_fingerprint": _q_doc_fingerprint,
        "doc_exact_dedup": _q_doc_exact_dedup,
        "doc_token_count": _q_doc_token_count,
        "doc_quality": _q_doc_quality,
        "doc_lang_id": _q_doc_lang_id,
        "doc_minhash_dedup": _q_minhash_dedup,
        "doc_simhash": _q_simhash,
        "doc_ngram_jaccard": _q_ngram_jaccard,
        "doc_rolling_fp": _q_rolling_fp,
        "doc_bpe_tokens": _q_bpe_tokens,
        "doc_dup_clusters": _q_dup_clusters,
        "doc_dup_clusters_inc": _q_dup_clusters_inc,
        "corpus_stratified_sample": _q_stratified_sample,
        "corpus_vocab_top_k": _q_vocab_top_k,        # P19 vocab frequency table
        "corpus_pack_manifest": _q_pack_manifest,    # P17 sequence packing
        "corpus_pack_sequences": _q_pack_sequences,  # P17 materialized sequences
        "doc_decontaminate": _q_decontaminate,       # P18 eval-overlap scrub
        "emb_l2_norm": _q_emb_norm,
        "emb_cosine_topk": _q_emb_topk,
        "emb_near_dup_exact": _q_emb_near_dup_exact,
        "media_features": _q_media_features,
        "media_frame_sample": _q_media_frame_sample,
        "media_resize": _q_media_resize,
        "enrich_broadcast_join": _q_enrich_broadcast,
        "lineitem_pricing_agg": _q_lineitem_pricing,
        # non-SQL-expressible / approximate (rows-only checks)
        "emb_cosine_topk_lsh": _q_emb_topk_lsh,
        "emb_cosine_topk_ivf": _q_emb_topk_ivf,
        "emb_cosine_topk_ivf_indexed": _q_emb_topk_ivf_indexed,
        "emb_cosine_topk_ivf_inc": _q_emb_topk_ivf_inc,
        "emb_near_dup_lsh": _q_emb_near_dup_lsh,
        "cdc_streaming_source_stats": _q_streaming_stats,
        "cdc_replay_final_state": _q_replay_final,
        "cdc_replay_final_state_honest": _q_replay_final_honest,
        "cdc_fetch_replay_final_state": _q_fetch_replay_final,
        "cdc_hot_key_fetch_final_state": _q_hot_key_fetch_final,
        "cdc_multi_table_replay": _q_multi_table_replay,
        "cdc_multi_table_fetch_replay": _q_multi_table_fetch_replay,
    }


def oracle_sql() -> dict[str, str]:
    from cdc_spark.functions.dedup import sql_rolling_fingerprint, sql_simhash_query
    from cdc_spark.functions.ivf_centroids import FIXED_CENTROIDS as _FIXED_CENTROIDS
    from cdc_spark.functions.similarity import (
        sql_all_pairs_lsh,
        sql_ivf_topk,
        sql_lsh_topk,
    )

    sw = lambda w: f"len(list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t = '{w}'))"  # noqa: E731
    langs = {
        "en": "(t = 'the' OR t = 'and')",
        "de": "(t = 'der' OR t = 'und')",
        "fr": "(t = 'le' OR t = 'et')",
        "es": "(t = 'el' OR t = 'y')",
    }
    lang_counts = ", ".join(
        f"len(list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> {cond})) AS s_{l}"
        for l, cond in langs.items()
    )
    return {
        "cdc_lww_dedupe_agg": _SQL_LWW,
        "cdc_merge_apply": """
            SELECT user_id, event_id AS last_event_id, value AS last_value
            FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) rn
                  FROM events) t
            WHERE rn = 1 AND event_type <> 'purchase'
        """,
        "cdc_missing_mask_merge": """
            SELECT user_id,
                   arg_max(value, event_id) FILTER (WHERE event_type <> 'error') AS merged_value,
                   max(event_id) AS last_event_id
            FROM events GROUP BY user_id
        """,
        "cdc_pk_change_split": """
            SELECT event_id, user_id, 'D' AS op FROM events WHERE event_type = 'signup'
            UNION ALL
            SELECT event_id, user_id, 'I' AS op FROM events WHERE event_type = 'signup'
        """,
        "cdc_schema_dedup": """
            SELECT user_id, event_type, min(event_id) AS first_seen
            FROM events GROUP BY user_id, event_type
        """,
        "cdc_metrics_agg": """
            SELECT event_type, count(*) AS n_events, min(event_id) AS min_lsn,
                   max(event_id) AS max_lsn, round(sum(value), 3) AS sum_value
            FROM events GROUP BY event_type
        """,
        "cdc_offset_watermark": """
            SELECT count(*) AS n_events, min(event_id) AS min_lsn, max(event_id) AS max_lsn
            FROM events
        """,
        "cdc_range_scan": """
            SELECT event_id, user_id, event_type, value FROM events
            WHERE event_id > 2000 AND event_id <= 5000 AND event_type IN ('click', 'view')
        """,
        "cdc_sort_barrier": """
            SELECT event_id, user_id, event_type,
                   CASE WHEN event_type = 'signup' THEN 0 ELSE 1 END AS barrier
            FROM events
            ORDER BY barrier, event_id
            LIMIT 200
        """,
        "cdc_union": """
            SELECT event_id, user_id, 'ddl' AS kind FROM events WHERE event_type = 'signup'
            UNION ALL
            SELECT event_id, user_id, 'dml' AS kind FROM events WHERE event_type = 'purchase'
        """,
        "cdc_hot_keys": """
            SELECT user_id, count(*) AS n FROM events
            GROUP BY user_id ORDER BY n DESC, user_id ASC LIMIT 10
        """,
        "cdc_epoch_lineage": """
            SELECT CAST(floor(event_id / 1000.0) AS BIGINT) AS epoch,
                   count(*) AS n_events, min(event_id) AS min_lsn, max(event_id) AS max_lsn,
                   CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_delete
            FROM events GROUP BY 1
        """,
        "doc_fingerprint": "SELECT doc_id, md5(text) AS fp FROM documents",
        "doc_exact_dedup": """
            SELECT md5(text) AS fp, min(doc_id) AS keep_id, count(*) AS dup_count
            FROM documents GROUP BY md5(text)
        """,
        "doc_token_count": """
            SELECT doc_id,
                   CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_words
            FROM documents
        """,
        "doc_quality": f"""
            SELECT doc_id,
                   CAST(n_words AS BIGINT) AS n_words,
                   round((len(trim(text)) - (n_words - 1)) / n_words, 4) AS avg_word_len,
                   round({sw('the')} / n_words, 4) AS stopword_ratio,
                   round((len(text) - len(replace(replace(text, '.', ''), ',', ''))) * 1.0 / len(text), 4) AS punct_ratio,
                   (n_words >= 5
                    AND (len(trim(text)) - (n_words - 1)) / n_words >= 2.0
                    AND (len(trim(text)) - (n_words - 1)) / n_words <= 12.0) AS quality_ok
            FROM (SELECT *, len(regexp_split_to_array(trim(text), '\\s+')) AS n_words
                  FROM documents) d
        """,
        "doc_lang_id": f"""
            SELECT doc_id,
                   CASE WHEN s_en > 0 AND s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
                        WHEN s_de > 0 AND s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
                        WHEN s_fr > 0 AND s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
                        WHEN s_es > 0 AND s_es = greatest(s_en, s_de, s_fr, s_es) THEN 'es'
                        ELSE 'unk' END AS pred_lang
            FROM (SELECT doc_id, {lang_counts} FROM documents) s
        """,
        "emb_l2_norm": """
            SELECT vec_id,
                   round(sqrt(list_aggregate(
                       list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                       'sum')), 4) AS l2_norm
            FROM embeddings
        """,
        "emb_cosine_topk": """
            WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
            scored AS (
                SELECT e.vec_id,
                       round(
                         list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(q.qe AS DOUBLE[]))
                         / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
                            * sqrt(list_dot_product(CAST(q.qe AS DOUBLE[]), CAST(q.qe AS DOUBLE[])))),
                       4) AS cos_sim
                FROM embeddings e CROSS JOIN q
            )
            SELECT vec_id, cos_sim FROM scored ORDER BY cos_sim DESC, vec_id ASC LIMIT 10
        """,
        "doc_minhash_dedup": _sql_minhash_pairs_over_variants(),
        "doc_dup_clusters": _sql_dup_clusters_over_variants(),
        # the incremental path must land on the same clusters as a full
        # re-cluster: same oracle, split-invariance IS the check
        "doc_dup_clusters_inc": _sql_dup_clusters_over_variants(),
        "corpus_stratified_sample": _sql_stratified_sample_docs(),
        "corpus_vocab_top_k": _sql_vocab_top_k_docs(),
        "corpus_pack_manifest": _sql_pack_manifest_docs(),
        "corpus_pack_sequences": _sql_pack_sequences_docs(),
        "doc_decontaminate": _sql_decontaminate_docs(),
        "doc_simhash": sql_simhash_query(),
        "doc_ngram_jaccard": _sql_jaccard_over_variants(),
        "doc_rolling_fp": f"""
            SELECT doc_id, {sql_rolling_fingerprint("text")} AS rolling_fp
            FROM documents
        """,
        "doc_bpe_tokens": f"""
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text, '{_BPE_PATTERN}')) AS BIGINT) AS n_bpe_tokens
            FROM documents
        """,
        "emb_near_dup_exact": """
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(
                     list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
                     / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
                        * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))),
                   4) AS cos_sim
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE round(
                     list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
                     / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
                        * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))),
                   4) >= 0.4
        """,
        "media_features": """
            SELECT CAST(doc_id AS VARCHAR) AS asset_id,
                   'image' AS media_type,
                   CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                   CAST(16 + octet_length(encode(text)) % 64 AS BIGINT) AS width,
                   CAST(16 + (octet_length(encode(text)) // 64) % 64 AS BIGINT) AS height
            FROM documents
        """,
        "media_resize": """
            WITH dims AS (
                SELECT CAST(doc_id AS VARCHAR) AS asset_id,
                       16 + octet_length(encode(text)) % 64 AS w,
                       16 + (octet_length(encode(text)) // 64) % 64 AS h
                FROM documents
            ),
            scaled AS (
                SELECT asset_id, w, h,
                       CASE WHEN greatest(w, h) <= 32 THEN w
                            ELSE greatest(1, (w * 32) // greatest(w, h)) END AS wo,
                       CASE WHEN greatest(w, h) <= 32 THEN h
                            ELSE greatest(1, (h * 32) // greatest(w, h)) END AS ho
                FROM dims
            )
            SELECT asset_id,
                   CAST(w AS INT) AS width_in, CAST(h AS INT) AS height_in,
                   CAST(wo AS INT) AS width_out, CAST(ho AS INT) AS height_out,
                   CAST(wo * ho * 3 AS BIGINT) AS n_bytes_out
            FROM scaled
        """,
        "media_frame_sample": """
            SELECT CAST(doc_id AS VARCHAR) AS asset_id,
                   CAST(u.idx AS BIGINT) AS frame_idx,
                   CAST(u.idx * 33 AS BIGINT) AS ts_ms
            FROM (SELECT doc_id, 1 + octet_length(encode(text)) % 240 AS nf FROM documents) t,
                 UNNEST(range(0, nf, 30)) AS u(idx)
        """,
        "enrich_broadcast_join": """
            SELECT n.n_name, count(*) AS n_orders,
                   CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents
            FROM orders o
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            GROUP BY n.n_name
        """,
        "lineitem_pricing_agg": """
            SELECT l_returnflag, l_linestatus,
                   CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
                   CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_price_cents,
                   CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS BIGINT) AS sum_disc_price_e4,
                   round(CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) / count(*), 4) AS avg_qty,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "cdc_windowed_agg": """
            SELECT CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT)
                       AS window_start_s,
                   event_type,
                   count(*) AS n_events,
                   round(CAST(sum(value) AS DOUBLE), 3) AS sum_value
            FROM events
            GROUP BY 1, 2
        """,
        "cdc_multi_table_route": """
            SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
                   max(last_event_id) AS max_lsn
            FROM (SELECT event_type, user_id, max(event_id) AS last_event_id
                  FROM events GROUP BY event_type, user_id) t
            GROUP BY event_type
        """,
        "cdc_image_fetch_join": """
            WITH base AS (
                SELECT user_id, event_id AS base_event_id, value AS base_value
                FROM (SELECT *, row_number() OVER (
                          PARTITION BY user_id ORDER BY event_id DESC) rn
                      FROM events WHERE event_id <= 7000) t
                WHERE rn = 1
            ),
            chg AS (
                SELECT user_id, event_id AS change_event_id,
                       event_type AS change_type
                FROM (SELECT *, row_number() OVER (
                          PARTITION BY user_id ORDER BY event_id DESC) rn
                      FROM events WHERE event_id > 7000) t
                WHERE rn = 1
            )
            SELECT c.user_id, c.change_event_id, c.change_type,
                   b.base_event_id, b.base_value
            FROM base b RIGHT OUTER JOIN chg c ON b.user_id = c.user_id
        """,
        # approximate ANN paths: deterministic given the seeded
        # hyperplanes / frozen centroids, so exactly oracle-able — the
        # SQL embeds the same literals the Spark plans use
        "emb_cosine_topk_lsh": sql_lsh_topk(dim=64, k=10, n_planes=12, max_hamming=2),
        "emb_near_dup_lsh": sql_all_pairs_lsh(dim=64, threshold=0.4, n_planes=8),
        "emb_cosine_topk_ivf": sql_ivf_topk(_FIXED_CENTROIDS, k=10, n_probe=4),
        # persisted-index form probes the same frozen quantizer, so the
        # oracle is identical
        "emb_cosine_topk_ivf_indexed": sql_ivf_topk(_FIXED_CENTROIDS, k=10, n_probe=4),
        # incremental maintenance is assignment-invariant under the
        # frozen quantizer, so the full-corpus IVF oracle pins it exactly
        "emb_cosine_topk_ivf_inc": sql_ivf_topk(_FIXED_CENTROIDS, k=10, n_probe=4),
        # cdc_replay_final_state (full engine replay) and
        # cdc_streaming_source_stats (stateful stream): rows-only
    }


def _with_variants(sql: str) -> str:
    """Prepend the docs_v CTE to a generated query that itself starts
    with WITH — merge into one WITH clause."""
    body = sql.lstrip()
    assert body.startswith("WITH "), body[:40]
    return f"WITH docs_v AS ({_SQL_DOC_VARIANTS}), " + body[len("WITH "):]


def _sql_minhash_pairs_over_variants() -> str:
    from cdc_spark.functions.dedup import sql_minhash_pairs

    return _with_variants(sql_minhash_pairs(table="docs_v"))


def _sql_jaccard_over_variants() -> str:
    from cdc_spark.functions.dedup import sql_jaccard_pairs

    return _with_variants(sql_jaccard_pairs(table="docs_v", threshold=0.5))


def _sql_dup_clusters_over_variants() -> str:
    from cdc_spark.functions.dedup import sql_dup_clusters

    return sql_dup_clusters(
        pairs_sql=_sql_minhash_pairs_over_variants(),
        nodes_sql=f"SELECT doc_id FROM ({_SQL_DOC_VARIANTS}) v",
    )


def _sql_stratified_sample_docs() -> str:
    from cdc_spark.functions.sampling import sql_stratified_sample

    return sql_stratified_sample(
        table="documents", select="doc_id, source, lang"
    )


def _sql_vocab_top_k_docs() -> str:
    from cdc_spark.functions.text import sql_vocab_top_k

    return sql_vocab_top_k(k=100, table="documents")


def _sql_pack_manifest_docs() -> str:
    from cdc_spark.functions.packing import sql_pack_manifest

    return sql_pack_manifest(seq_len=256, table="documents")


def _sql_pack_sequences_docs() -> str:
    from cdc_spark.functions.dedup import sql_hash60

    L = 256
    return f"""
        WITH toks AS (
          SELECT doc_id,
                 list_transform(regexp_split_to_array(trim(text), '\\s+'),
                                w -> ({sql_hash60('w')} % 32768)) AS tokens
          FROM documents
        ),
        man AS (
          SELECT doc_id, tokens, n_tok,
                 CAST(sum(n_tok) OVER (ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      - n_tok AS BIGINT) AS tok_offset
          FROM (SELECT doc_id, tokens, CAST(len(tokens) AS BIGINT) AS n_tok
                FROM toks) t0
        ),
        contrib AS (
          SELECT seq_id, tok_offset,
                 tokens[CAST(greatest(seq_id * {L} - tok_offset, 0) AS BIGINT) + 1 :
                        CAST(least((seq_id + 1) * {L} - tok_offset, n_tok) AS BIGINT)] AS chunk
          FROM (
            SELECT tokens, n_tok, tok_offset,
                   UNNEST(generate_series(
                     CAST(floor(tok_offset / {L}) AS BIGINT),
                     CAST(floor((tok_offset + greatest(n_tok, 1) - 1) / {L}) AS BIGINT)
                   )) AS seq_id
            FROM man
          ) g
        ),
        seqs AS (
          SELECT seq_id, flatten(list(chunk ORDER BY tok_offset)) AS tokens
          FROM contrib WHERE len(chunk) > 0 GROUP BY seq_id
        )
        SELECT seq_id, CAST(len(tokens) AS BIGINT) AS n_tok,
               list_reduce(list_prepend(0::BIGINT, tokens),
                           (acc, x) -> (acc * 31 + x) % 1000000007) AS tok_fp
        FROM seqs
    """


def _sql_decontaminate_docs() -> str:
    from cdc_spark.functions.contamination import sql_contaminated

    ev = (
        "SELECT array_to_string("
        "(regexp_split_to_array(trim(text), '\\s+'))[1:40], ' ') AS text "
        "FROM documents WHERE doc_id % 23 = 0"
    )
    return sql_contaminated(ev, k=8, table="documents")
