"""Training-sequence packing (the GPT-style concat-and-chunk manifest).

A pre-training pipeline over the tokens table (doc_id, tokens, n_tok,
source — BASELINE.json `input_hint`) ends by packing documents into
fixed-length training sequences: concatenate every document's tokens in
a deterministic global order and cut the stream into length-L windows.
The operator here emits the packing MANIFEST — for every document its
global token offset and the first/last sequence it lands in — which is
the shuffle key for the subsequent "emit sequence k" stage and is what
makes packing restartable (the manifest is a pure function of the
corpus, so a re-run resumes at any sequence id).

Scale shape (the 100-TB reasoning): the global offset is a prefix sum
over ~10^10 rows. A single `Window.orderBy(id)` would funnel the whole
corpus through ONE partition (Spark plans an un-partitioned window as
Exchange SinglePartition) — the classic scale cliff. Instead the
offsets are computed as a textbook two-phase distributed prefix sum:

  1. range-bucket each row by id (`(id - min_id) div width` — order-
     aligned, so bucket b's rows all precede bucket b+1's);
  2. ONE map-side-combinable `groupBy(_bkt).sum(n_tok)` → collect the
     O(n_buckets) per-bucket totals to the driver and exclusive-scan
     them there (n_buckets rows, not data rows);
  3. broadcast the per-bucket base offsets back and run the cumsum
     window PARTITIONED BY bucket — every bucket scans in parallel, and
     the only data-sized exchange is hashpartitioning(_bkt).

The result is provably independent of n_buckets (pinned by tests), so
bucket count is a pure parallelism knob: size it so a bucket's rows fit
one task (at 10^10 rows, n_buckets ≈ 10^5 → 10^5-row driver scan —
trivial). `tests/test_packing.py` pins the plan: no SinglePartition
exchange, bucket-partitioned window, n_tok-only scan columns.

No reference counterpart (the reference is a pure CDC pipeline); this
is a P-series training-data operator per SURVEY.md §2.6.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _div(num: str, den: int) -> Column:
    """`num div den` for a SQL expression `num` over long columns: exact
    long division (floor, since every dividend here is non-negative).
    `/` would divide in doubles, which round above 2^53."""
    return F.expr(f"({num}) div {int(den)}")


def pack_manifest(
    df: DataFrame,
    seq_len: int,
    id_col: str = "doc_id",
    n_tok_col: str = "n_tok",
    n_buckets: int = 64,
) -> DataFrame:
    """Packing manifest: (id, n_tok, tok_offset, seq_first, seq_last,
    n_seqs) where `tok_offset` is the exclusive prefix sum of `n_tok`
    in ascending `id_col` order and sequence ids are the length-
    `seq_len` windows the doc's tokens span. `id_col` must be a unique
    numeric total order (the corpus's deterministic concat order).

    Zero-token docs are assigned the single sequence at their offset
    (seq_last = seq_first) so every doc appears in the manifest.
    """
    if seq_len <= 0:
        raise ValueError(f"seq_len must be positive, got {seq_len}")
    if n_buckets <= 0:
        raise ValueError(f"n_buckets must be positive, got {n_buckets}")
    spark = df.sparkSession
    bounds = df.agg(
        F.min(id_col).alias("lo"), F.max(id_col).alias("hi")
    ).first()
    out_schema = (
        f"{id_col} long, {n_tok_col} long, tok_offset long, "
        "seq_first long, seq_last long, n_seqs long"
    )
    if bounds is None or bounds["lo"] is None:
        return spark.createDataFrame([], out_schema)
    lo, hi = int(bounds["lo"]), int(bounds["hi"])
    width = max(1, (hi - lo) // n_buckets + 1)

    src = df.select(
        F.col(id_col).cast("long").alias(id_col),
        F.col(n_tok_col).cast("long").alias(n_tok_col),
    ).withColumn("_bkt", _div(f"`{id_col}` - ({lo})", width))

    # phase 1+2: per-bucket totals (map-side combinable) -> driver
    # exclusive scan over O(n_buckets) rows -> broadcast back
    totals = {
        int(r["_bkt"]): int(r["t"])
        for r in src.groupBy("_bkt").agg(F.sum(n_tok_col).alias("t")).collect()
    }
    bases, acc = [], 0
    for b in sorted(totals):
        bases.append((b, acc))
        acc += totals[b]
    base_df = spark.createDataFrame(bases, "_bkt long, _base long")

    # phase 3: cumsum window partitioned by bucket (parallel), shifted
    # by the bucket's base offset
    w = (
        Window.partitionBy("_bkt")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(n_tok_col).over(w)
    offs = src.withColumn("_off_in_bkt", cum - F.col(n_tok_col)).join(
        F.broadcast(base_df), "_bkt"
    ).select(
        F.col(id_col),
        F.col(n_tok_col),
        (F.col("_base") + F.col("_off_in_bkt")).alias("tok_offset"),
    )
    seq_first = _div("tok_offset", seq_len)
    seq_last = _div(f"tok_offset + greatest(`{n_tok_col}`, 1) - 1", seq_len)
    return offs.select(
        F.col(id_col),
        F.col(n_tok_col),
        F.col("tok_offset"),
        seq_first.alias("seq_first"),
        seq_last.alias("seq_last"),
        (seq_last - seq_first + 1).alias("n_seqs"),
    )


def emit_sequences(
    df: DataFrame,
    seq_len: int,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    n_buckets: int = 64,
) -> DataFrame:
    """Materialize the packed training sequences: (seq_id, tokens,
    n_tok) where every sequence holds exactly `seq_len` tokens from the
    id-ordered concatenation of all docs' tokens (the final sequence
    may be shorter; padding policy belongs to the trainer). `df` is the
    tokenized corpus — (id_col, tokens_col: array<numeric>).

    Scale shape: the prefix-sum offsets are computed INLINE on the
    corpus (the same two-phase bucket scheme as `pack_manifest`, with
    the token arrays riding the bucket window) rather than via a
    manifest self-join — a join back on id would shuffle AND sort the
    wide token data a second time for zero information gain. The emit
    is then explode(seq range) → slice the doc's overlap → ONE shuffle
    keyed by seq_id → in-group ordered flatten. Every property is
    bounded by construction: a doc spans ≤ ceil(n_tok/L)+1 sequences
    (explode fan-out is O(total_tokens/L) rows), and a sequence
    receives ≤ L contributor chunks of ≤ L tokens each — groups are
    PERFECTLY balanced at exactly seq_len tokens, so the assembling
    aggregation has zero skew by design (the rare property the LWW
    dedupe needs salting to approximate). No sequence ever concentrates
    load the way a hot doc_id does. Wide-data exchanges: exactly two
    (hashpartitioning(_bkt) into the window, hashpartitioning(seq_id)
    into the assembly) — plan-pinned.
    """
    if seq_len <= 0:
        raise ValueError(f"seq_len must be positive, got {seq_len}")
    if n_buckets <= 0:
        raise ValueError(f"n_buckets must be positive, got {n_buckets}")
    spark = df.sparkSession
    # null token arrays count as empty (F.size(null) is -1, which would
    # corrupt every downstream offset); the empty literal takes the
    # column's own type so coalesce never widens the token element type
    ttype = df.schema[tokens_col].dataType.simpleString()
    df = df.withColumn(
        tokens_col, F.coalesce(F.col(tokens_col), F.array().cast(ttype))
    )
    bounds = df.agg(F.min(id_col).alias("lo"), F.max(id_col).alias("hi")).first()
    if bounds is None or bounds["lo"] is None:
        return spark.createDataFrame(
            [], f"seq_id long, {tokens_col} {ttype}, n_tok long"
        )
    lo, hi = int(bounds["lo"]), int(bounds["hi"])
    width = max(1, (hi - lo) // n_buckets + 1)
    src = df.select(
        F.col(id_col).cast("long").alias(id_col),
        F.col(tokens_col),
        F.size(tokens_col).cast("long").alias("_nt"),
    ).withColumn("_bkt", _div(f"`{id_col}` - ({lo})", width))

    # phase 1+2: per-bucket token totals (column-pruned to _bkt/_nt) ->
    # O(n_buckets) driver exclusive scan -> broadcast back
    totals = {
        int(r["_bkt"]): int(r["t"])
        for r in src.groupBy("_bkt").agg(F.sum("_nt").alias("t")).collect()
    }
    bases, acc = [], 0
    for b in sorted(totals):
        bases.append((b, acc))
        acc += totals[b]
    base_df = spark.createDataFrame(bases, "_bkt long, _base long")

    # phase 3: cumsum window partitioned by bucket, tokens carried along
    w = (
        Window.partitionBy("_bkt")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offs = src.withColumn(
        "_off_in_bkt", F.sum("_nt").over(w) - F.col("_nt")
    ).join(F.broadcast(base_df), "_bkt")
    off = (F.col("_base") + F.col("_off_in_bkt")).alias("tok_offset")
    seq = F.explode(
        F.sequence(
            _div("tok_offset", seq_len),
            _div("tok_offset + greatest(_nt, 1) - 1", seq_len),
        )
    ).alias("seq_id")
    contrib = offs.select(F.col(tokens_col), off, F.col("_nt")).select(
        F.col(tokens_col), "tok_offset", seq
    )
    # the doc's token range is [tok_offset, tok_offset + n_tok); sequence
    # s covers [s*L, (s+1)*L) — contribute the (1-based) overlap slice
    lo = F.greatest(F.col("seq_id") * seq_len - F.col("tok_offset"), F.lit(0))
    hi = F.least(
        (F.col("seq_id") + 1) * seq_len - F.col("tok_offset"),
        F.size(tokens_col).cast("long"),
    )
    contrib = contrib.select(
        "seq_id",
        F.col("tok_offset"),
        F.slice(F.col(tokens_col), lo + 1, hi - lo).alias("_chunk"),
    ).filter(F.size("_chunk") > 0)
    # array_sort on the struct orders by tok_offset (its first field),
    # so the flatten concatenates chunks in corpus order
    out = (
        contrib.groupBy("seq_id")
        .agg(F.array_sort(F.collect_list(F.struct("tok_offset", "_chunk"))).alias("_c"))
        .select(
            "seq_id",
            F.flatten(F.transform("_c", lambda c: c["_chunk"])).alias(tokens_col),
        )
        .withColumn("n_tok", F.size(tokens_col).cast("long"))
    )
    return out


def sql_pack_manifest(
    seq_len: int,
    table: str = "documents",
    id_col: str = "doc_id",
    n_tok_expr: str = "len(regexp_split_to_array(trim(text), '\\s+'))",
) -> str:
    """DuckDB oracle twin: a plain global cumsum window (the oracle may
    single-partition; the engine may not). DuckDB window sums are
    HUGEINT — cast back to BIGINT to match the engine's long columns."""
    return f"""
        SELECT {id_col}, n_tok, tok_offset,
               CAST(floor(tok_offset / {seq_len}) AS BIGINT) AS seq_first,
               CAST(floor((tok_offset + greatest(n_tok, 1) - 1) / {seq_len}) AS BIGINT) AS seq_last,
               CAST(floor((tok_offset + greatest(n_tok, 1) - 1) / {seq_len})
                    - floor(tok_offset / {seq_len}) + 1 AS BIGINT) AS n_seqs
        FROM (
          SELECT {id_col}, n_tok,
                 CAST(sum(n_tok) OVER (ORDER BY {id_col}
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      - n_tok AS BIGINT) AS tok_offset
          FROM (SELECT {id_col}, CAST({n_tok_expr} AS BIGINT) AS n_tok
                FROM {table}) t0
        ) t1
    """
