"""Property-based check: for ARBITRARY small event sequences, the
engine's normalize → LWW-dedupe pipeline produces exactly the state a
sequential dict applier produces (oracle semantics) — beyond the fixed
seeds of the golden replays (PK-change chains, overlapping extra keys,
masked updates of null images, deletes of absent docs, heartbeats).

Each example runs one small Spark job, so examples are capped low."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from cdc_spark import oracle
from cdc_spark.operators.dedupe import lww_dedupe
from cdc_spark.operators.normalize import normalize
from cdc_spark.schema import CHANGE_SCHEMA

_DOCS = [f"d{i}" for i in range(4)]
_KEYS = ["q", "r"]

_img = st.fixed_dictionaries(
    {
        "tokens": st.none() | st.lists(st.integers(0, 99), max_size=4),
        "source": st.none() | st.sampled_from(["wiki", "web"]),
        "extra": st.dictionaries(st.sampled_from(_KEYS), st.sampled_from(["1", "2"]), max_size=2),
    }
)

_op = st.one_of(
    st.tuples(st.just("I"), st.sampled_from(_DOCS), st.none(), _img, st.none()),
    st.tuples(
        st.just("U"), st.sampled_from(_DOCS), st.none() | st.sampled_from(_DOCS),
        _img, st.lists(st.sampled_from(["tokens", "source"]), max_size=2, unique=True),
    ),
    st.tuples(st.just("D"), st.sampled_from(_DOCS), st.just(None), st.none(), st.none()),
    st.tuples(st.just("H"), st.just(None), st.none(), st.none(), st.none()),
)


def _payload(doc_id, img):
    if img is None:
        return None
    toks = img["tokens"]
    return {
        "doc_id": doc_id,
        "tokens": toks,
        "n_tok": len(toks) if toks is not None else None,
        "source": img["source"],
        "extra": img["extra"],
    }


def _mk_events(ops, mk_img):
    """ops → CHANGE_SCHEMA row dicts with dense lsns."""
    rows = []
    for lsn, (op, doc, before_doc, img, mask) in enumerate(ops, start=1):
        if op == "I":
            before, after, doc_id = None, _payload(doc, img), doc
        elif op == "U":
            bdoc = before_doc or doc
            before = _payload(bdoc, mk_img(lsn))
            after = _payload(doc, img)
            doc_id = doc
        elif op == "D":
            before, after, doc_id = _payload(doc, mk_img(lsn)), None, doc
        else:  # H
            before = after = doc_id = None
        rows.append(
            {
                "lsn": lsn, "epoch": 0, "table": "t", "op_type": op,
                "primary_keys": None if op == "H" else ["doc_id"],
                "doc_id": doc_id, "before": before, "after": after,
                "missing_mask": mask if op == "U" else None,
                "ddl_kind": None, "ddl_payload": None,
            }
        )
    return rows


def _py_apply(rows):
    state: dict = {}
    for ev in rows:
        op = ev["op_type"]
        if op == "H":
            continue
        if op == "D":
            state.pop(ev["before"]["doc_id"], None)
            continue
        img = oracle._merged_image(ev)
        if op == "U":
            b, a = ev["before"] or {}, ev["after"] or {}
            if b.get("doc_id") is not None and b["doc_id"] != a["doc_id"]:
                state.pop(b["doc_id"], None)
        state[(ev["after"] or {})["doc_id"]] = {**img, "last_lsn": ev["lsn"]}
    return state


@given(st.lists(_op, min_size=1, max_size=15), st.data())
@settings(max_examples=25, deadline=None)
def test_engine_matches_sequential_applier(spark, ops, data):
    mk_img = lambda _lsn: data.draw(_img)  # noqa: E731
    rows = _mk_events(ops, mk_img)
    df = spark.createDataFrame(rows, CHANGE_SCHEMA)
    events = normalize(df)
    resolved = (
        lww_dedupe(events, key="doc_id", order="lsn")
        .filter(~F.col("deleted"))
        .collect()
    )
    got = {
        r["doc_id"]: {
            "tokens": list(r["tokens"]) if r["tokens"] is not None else None,
            "n_tok": r["n_tok"],
            "source": r["source"],
            "extra": dict(r["extra"]) if r["extra"] is not None else {},
            "last_lsn": r["lsn"],
        }
        for r in resolved
    }
    want = {
        k: {
            "tokens": list(v["tokens"]) if v["tokens"] is not None else None,
            "n_tok": v["n_tok"],
            "source": v["source"],
            "extra": dict(v["extra"]),
            "last_lsn": v["last_lsn"],
        }
        for k, v in _py_apply(rows).items()
    }
    assert got == want
