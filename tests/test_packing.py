"""P17 sequence packing + P18 decontamination: semantics and the plan
properties their 100-TB shapes depend on (two-phase prefix sum with no
SinglePartition window; broadcast eval-side probe)."""

from __future__ import annotations

import pathlib
import re

import pyspark.sql.functions as F
import pytest

from cdc_spark.functions.contamination import contaminated
from cdc_spark.functions.packing import pack_manifest
from cdc_spark.plans.inspect import formatted_plan

_REPO = str(pathlib.Path(__file__).resolve().parents[1])


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, n_tok long")


def test_pack_offsets_are_exact_prefix_sum(spark):
    rows = [(i, (i * 7) % 13 + 1) for i in range(0, 200, 3)]
    got = {
        r["doc_id"]: r
        for r in pack_manifest(_docs(spark, rows), seq_len=32, n_buckets=8).collect()
    }
    off = 0
    for doc_id, n in rows:  # already in ascending id order
        r = got[doc_id]
        assert r["tok_offset"] == off
        assert r["seq_first"] == off // 32
        assert r["seq_last"] == (off + n - 1) // 32
        assert r["n_seqs"] == r["seq_last"] - r["seq_first"] + 1
        off += n
    assert len(got) == len(rows)


def test_pack_invariant_to_bucket_count(spark):
    """The parallelism knob must never change the answer — buckets 1
    (fully serial), 7 (uneven), 64 (more buckets than rows for the
    tail) all produce the identical manifest."""
    rows = [(i * 11 + (i % 5), (i % 17) + 1) for i in range(150)]
    ref = sorted(
        map(tuple, pack_manifest(_docs(spark, rows), 16, n_buckets=1).collect())
    )
    for b in (7, 64):
        cur = sorted(
            map(tuple, pack_manifest(_docs(spark, rows), 16, n_buckets=b).collect())
        )
        assert cur == ref


def test_pack_zero_token_doc_occupies_its_sequence(spark):
    rows = [(1, 10), (2, 0), (3, 5)]
    got = {r["doc_id"]: r for r in pack_manifest(_docs(spark, rows), 8).collect()}
    assert got[2]["tok_offset"] == 10
    assert got[2]["seq_first"] == got[2]["seq_last"] == 1
    assert got[2]["n_seqs"] == 1
    # the zero-token doc consumes no tokens: doc 3 starts where doc 2 did
    assert got[3]["tok_offset"] == 10


def test_pack_empty_input(spark):
    out = pack_manifest(_docs(spark, []), 8)
    assert out.count() == 0
    assert out.columns == [
        "doc_id", "n_tok", "tok_offset", "seq_first", "seq_last", "n_seqs"
    ]


def test_pack_plan_has_no_single_partition_window(spark):
    """The scale pin: the cumsum window partitions by the range bucket
    (parallel) and the per-bucket bases arrive via broadcast — a global
    Window.orderBy would plan Exchange SinglePartition and serialize
    the whole corpus through one task."""
    rows = [(i, i % 9 + 1) for i in range(500)]
    plan = formatted_plan(pack_manifest(_docs(spark, rows), 64, n_buckets=8))
    assert "SinglePartition" not in plan
    assert "hashpartitioning(_bkt" in plan
    assert "BroadcastExchange" in plan


def test_pack_ids_and_offsets_past_double_precision(spark):
    """Bucket and sequence ids are exact long division. Ids near 2^62
    and token offsets past 2^53 make a double quotient round across a
    bucket or sequence boundary; the manifest must still equal the
    Python packer's integer arithmetic, for any bucket count."""
    from cdc_spark.functions.packing import emit_sequences

    base = 2**62
    sizes = [2**60 + 5, 2**59 + 3, 1, 2**58 - 1, 0, 11]
    rows = [(base + 7 * i + i * i, n) for i, n in enumerate(sizes)]
    seq_len = 3
    expect, off = {}, 0
    for doc_id, n in rows:
        last = off + max(n, 1) - 1
        expect[doc_id] = (n, off, off // seq_len, last // seq_len,
                          last // seq_len - off // seq_len + 1)
        off += n
    for n_buckets in (1, 3, 64):
        got = {
            r["doc_id"]: (r["n_tok"], r["tok_offset"], r["seq_first"],
                          r["seq_last"], r["n_seqs"])
            for r in pack_manifest(_docs(spark, rows), seq_len,
                                   n_buckets=n_buckets).collect()
        }
        assert got == expect, n_buckets
    tok_rows = [(base + 3 * i, [i] * (i % 4)) for i in range(12)]
    got = {
        r["seq_id"]: list(r["tokens"])
        for r in emit_sequences(_tok_docs(spark, tok_rows), 5, n_buckets=3).collect()
    }
    assert got == _py_pack(tok_rows, 5)


def _tok_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, tokens array<long>")


def _py_pack(rows, L):
    """Trivially-correct packer: concat in id order, chop every L."""
    stream = [t for _, toks in sorted(rows) for t in toks]
    return {
        s: stream[s * L : (s + 1) * L]
        for s in range((len(stream) + L - 1) // L)
    }


def test_emit_sequences_matches_python_packer(spark):
    from cdc_spark.functions.packing import emit_sequences

    rows = [(i * 3 + i % 2, [(i * 31 + j) % 97 for j in range((i % 11) + 1)])
            for i in range(60)]
    got = {
        r["seq_id"]: list(r["tokens"])
        for r in emit_sequences(_tok_docs(spark, rows), 16, n_buckets=5).collect()
    }
    assert got == _py_pack(rows, 16)


def test_emit_sequences_exact_lengths_and_stream_equality(spark):
    """Every sequence is exactly L tokens except possibly the last, and
    re-concatenating sequences in seq_id order reproduces the corpus
    token stream exactly (the packing invariant)."""
    from cdc_spark.functions.packing import emit_sequences

    rows = [(i, [i * 100 + j for j in range(i % 7 + 1)]) for i in range(40)]
    out = sorted(
        (r["seq_id"], list(r["tokens"]), r["n_tok"])
        for r in emit_sequences(_tok_docs(spark, rows), 8).collect()
    )
    stream = [t for _, toks in sorted(rows) for t in toks]
    assert [s for s, _, _ in out] == list(range(len(out)))
    for s, toks, n in out[:-1]:
        assert len(toks) == n == 8
    assert [t for _, toks, _ in out for t in toks] == stream


def test_emit_sequences_skips_empty_docs(spark):
    from cdc_spark.functions.packing import emit_sequences

    rows = [(1, [1, 2, 3]), (2, []), (3, [4, 5])]
    got = {r["seq_id"]: list(r["tokens"])
           for r in emit_sequences(_tok_docs(spark, rows), 4).collect()}
    assert got == {0: [1, 2, 3, 4], 1: [5]}


def test_emit_sequences_null_tokens_as_empty_without_widening(spark):
    """A null token array packs as empty instead of corrupting offsets
    (F.size(null) = -1), and the guard must not widen the token element
    type (array<int> in, array<int> out)."""
    from pyspark.sql.types import ArrayType, IntegerType

    from cdc_spark.functions.packing import emit_sequences

    d = spark.createDataFrame(
        [(1, [1, 2, 3]), (2, None), (3, [4, 5])],
        "doc_id long, tokens array<int>",
    )
    out = emit_sequences(d, 4)
    assert out.schema["tokens"].dataType == ArrayType(IntegerType())
    got = {r["seq_id"]: list(r["tokens"]) for r in out.collect()}
    assert got == {0: [1, 2, 3, 4], 1: [5]}


def test_emit_sequences_plan_shuffles_by_seq_id_only(spark):
    """The wide token data crosses the wire exactly twice — into the
    bucket window and into the seq_id assembly. In particular there is
    no manifest self-join (a SortMergeJoin back on doc_id would shuffle
    AND sort the token arrays a third time)."""
    from cdc_spark.functions.packing import emit_sequences

    rows = [(i, [i, i + 1]) for i in range(100)]
    plan = formatted_plan(emit_sequences(_tok_docs(spark, rows), 8, n_buckets=4))
    assert "SinglePartition" not in plan
    assert "hashpartitioning(seq_id" in plan
    assert "hashpartitioning(_bkt" in plan
    assert "SortMergeJoin" not in plan
    # formatted mode lists nodes as "(N) Exchange" with partitioning in
    # the detail section; "(N) BroadcastExchange" (the tiny per-bucket
    # base map) deliberately doesn't count as a wide-data shuffle
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 2


def test_pack_cli_packs_resolved_table(spark, workdir, small_binlog):
    """End-to-end: CDC replay -> `job pack` CLI -> the packed parquet
    equals the trivially-correct Python packer run over the resolved
    table (the ingest->training-sequences handoff)."""
    import json
    import subprocess
    import sys

    from cdc_spark.streaming.pipeline import replay

    table_dir = f"{workdir}/pack_cli_table"
    out_dir = f"{workdir}/pack_cli_out"
    table = replay(spark, small_binlog, table_dir, lineage=False)
    rows = [
        (int(r["doc_id"][3:]), list(r["tokens"] or []))
        for r in table.read_resolved(spark).select("doc_id", "tokens").collect()
    ]
    # subprocess: job.main stops its session on exit, which must not
    # take the shared test session down with it
    res = subprocess.run(
        [sys.executable, "-m", "cdc_spark.job", "pack",
         "--table", table_dir, "--out", out_dir, "--seq-len", "64",
         "--master", "local[2]"],
        capture_output=True, text=True, cwd=_REPO, timeout=600,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    stats = json.loads(res.stdout.strip().splitlines()[-1])
    expect = _py_pack(rows, 64)
    assert stats["sequences"] == len(expect)
    assert stats["tokens"] == sum(len(v) for v in expect.values())
    got = {
        r["seq_id"]: list(r["tokens"])
        for r in spark.read.parquet(out_dir).collect()
    }
    assert got == expect


def test_pack_cli_refuses_duplicate_numeric_tails(spark, workdir):
    """Two doc ids with the same numeric tail (doc7, doc007) have no
    defined concat order: `job pack` must fail with a JSON error and
    exit code 1 instead of packing them in an arbitrary order."""
    import json
    import subprocess
    import sys

    from cdc_spark.sinks.target import TargetTable

    table_dir = f"{workdir}/pack_dup_table"
    table = TargetTable(table_dir)
    table.create_if_absent()
    seed = spark.createDataFrame(
        [("doc7", [1, 2], 2, "wiki"), ("doc007", [3], 1, "web"),
         ("doc8", [4], 1, "web")],
        "doc_id string, tokens array<int>, n_tok int, source string",
    ).select("*", F.lit(0).cast("long").alias("last_lsn"),
             F.lit(False).alias("deleted"))
    table.commit_delta(seed, epoch=-1, stats=None)
    res = subprocess.run(
        [sys.executable, "-m", "cdc_spark.job", "pack",
         "--table", table_dir, "--out", f"{workdir}/pack_dup_out",
         "--seq-len", "4", "--master", "local[2]"],
        capture_output=True, text=True, cwd=_REPO, timeout=600,
    )
    assert res.returncode == 1, res.stdout + res.stderr[-2000:]
    out = json.loads(res.stdout.strip().splitlines()[-1])
    assert out == {"error": "duplicate numeric doc_id tail", "rows": 1}


def _texts(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


_EVAL = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"


def test_contaminated_finds_planted_overlap(spark):
    train = _texts(
        spark,
        [
            # doc 1 embeds 9 eval words -> two overlapping 8-grams
            (1, "zzz " + " ".join(_EVAL.split()[:9]) + " yyy"),
            (2, "completely unrelated words nothing shared here at all ok"),
            # doc 3 shares only 7 consecutive words: below k=8, clean
            (3, "pre " + " ".join(_EVAL.split()[:7]) + " post"),
        ],
    )
    ev = _texts(spark, [(100, _EVAL)]).select("text")
    got = {r["doc_id"]: r["n_hits"] for r in contaminated(train, ev, k=8).collect()}
    assert got == {1: 2}


def test_contaminated_counts_distinct_grams_once(spark):
    """A doc repeating the same eval 8-gram twice counts it once."""
    g = " ".join(_EVAL.split()[:8])
    train = _texts(spark, [(1, g + " xxx " + g)])
    ev = _texts(spark, [(0, _EVAL)]).select("text")
    got = contaminated(train, ev, k=8).collect()
    assert [(r["doc_id"], r["n_hits"]) for r in got] == [(1, 1)]


def test_contaminated_plan_broadcasts_eval_side(spark):
    """100-TB shape: the eval gram set broadcasts; the corpus streams
    through a BroadcastHashJoin with no corpus-sized sort-merge."""
    train = _texts(spark, [(i, f"w{i} w{i + 1} w{i + 2}") for i in range(50)])
    ev = _texts(spark, [(0, _EVAL)]).select("text")
    plan = formatted_plan(contaminated(train, ev, k=2))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pack_property_random_corpora(spark):
    """Property sweep: arbitrary id spacings (huge gaps, dense runs),
    token lengths incl. zeros, and adversarial bucket counts all pack
    identically to the Python packer. One Spark job per example, so the
    example budget stays small; the fixed-fixture tests cover the rest."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from cdc_spark.functions.packing import emit_sequences

    docs = st.lists(
        st.tuples(st.integers(min_value=0, max_value=10**12),
                  st.lists(st.integers(min_value=0, max_value=99),
                           max_size=7)),
        min_size=1, max_size=20, unique_by=lambda t: t[0],
    )

    @settings(max_examples=8, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    @given(docs=docs, seq_len=st.integers(min_value=1, max_value=9),
           n_buckets=st.sampled_from([1, 3, 64]))
    def run(docs, seq_len, n_buckets):
        got = {
            r["seq_id"]: list(r["tokens"])
            for r in emit_sequences(
                _tok_docs(spark, docs), seq_len, n_buckets=n_buckets
            ).collect()
        }
        assert got == _py_pack(docs, seq_len)

    run()
