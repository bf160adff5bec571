"""Unit tests for operators.normalize (T7/T8/T10 semantics)."""

from cdc_spark.operators.normalize import normalize
from cdc_spark.schema import CHANGE_SCHEMA


def _mk(spark, rows):
    return spark.createDataFrame(rows, CHANGE_SCHEMA)


def _payload(doc, tokens=None, source="wiki", extra=None):
    return {
        "doc_id": doc,
        "tokens": tokens,
        "n_tok": len(tokens) if tokens is not None else None,
        "source": source,
        "extra": extra or {},
    }


def _ev(lsn, op, doc, before=None, after=None, mask=None):
    return {
        "lsn": lsn,
        "epoch": 0,
        "table": "corpus.tokens",
        "op_type": op,
        "primary_keys": ["doc_id"],
        "doc_id": doc,
        "before": before,
        "after": after,
        "missing_mask": mask,
        "ddl_kind": None,
        "ddl_payload": None,
    }


def test_missing_mask_takes_before(spark):
    df = _mk(
        spark,
        [
            _ev(
                1, "U", "a",
                before=_payload("a", [1, 2, 3], source="old"),
                after=_payload("a", [9], source="new"),
                mask=["tokens"],
            )
        ],
    )
    out = normalize(df).collect()
    assert len(out) == 1
    r = out[0]
    assert r["tokens"] == [1, 2, 3] and r["n_tok"] == 3  # n_tok follows tokens mask
    assert r["source"] == "new" and not r["deleted"]


def test_pk_change_splits_to_delete_plus_insert(spark):
    df = _mk(
        spark,
        [
            _ev(
                7, "U", "b",
                before=_payload("a", [1], source="s"),
                after=_payload("b", [2], source="s"),
                mask=[],
            )
        ],
    )
    out = sorted(normalize(df).collect(), key=lambda r: r["deleted"])
    assert len(out) == 2
    ins, dele = out
    assert dele["deleted"] and dele["doc_id"] == "a" and dele["lsn"] == 7
    assert not ins["deleted"] and ins["doc_id"] == "b" and ins["tokens"] == [2]


def test_delete_emits_tombstone(spark):
    df = _mk(spark, [_ev(3, "D", "x", before=_payload("x", [1, 2]))])
    out = normalize(df).collect()
    assert len(out) == 1
    assert out[0]["deleted"] and out[0]["doc_id"] == "x" and out[0]["tokens"] is None


def test_ddl_rows_dropped(spark):
    rows = [_ev(1, "I", "a", after=_payload("a", [1]))]
    ddl = _ev(2, "DDL", None)
    ddl["ddl_kind"], ddl["ddl_payload"] = "add_column", '{"name":"q","type":"float"}'
    out = normalize(_mk(spark, rows + [ddl]))
    assert out.count() == 1


def test_extra_merge_after_wins(spark):
    df = _mk(
        spark,
        [
            _ev(
                1, "U", "a",
                before=_payload("a", [1], extra={"q": "0.1", "r": "5"}),
                after=_payload("a", [1], extra={"q": "0.9"}),
                mask=[],
            )
        ],
    )
    r = normalize(df).collect()[0]
    assert r["extra"] == {"q": "0.9", "r": "5"}
