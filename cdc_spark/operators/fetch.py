"""Key-only change feeds: row-image fetch against the engine's own state.

The reference's PRIMARY source ships change keys, not images: SQL Server
Change Tracking yields PKs + op per change and the pipeline fetches row
images by RIGHT-OUTER-joining the base table on the PK
(source/sqlserver/CTInputDStream.java:112-131). This module is that
operator re-expressed Spark-first, with the engine's own resolved table
as the image source (`apply_batch(images="fetch")`): an update that did
not supply a field (missing_mask) takes the field's CURRENT value —
from an earlier event in the same epoch if one set it, else from the
pre-epoch table state — and `extra` values accumulate onto the stored
row instead of riding full before-images.

Dataflow (per epoch):

1. `normalize_fetch` — change rows → setter-flagged apply events, pure
   column expressions (PK-change still explodes to D+I, T8).
2. Cross-key chains — a PK-change copies unsupplied fields from the
   OLD key's image: resolved in ONE distributed pass. Only the tiny
   (doc_id, base_key) edge set is driver-collected (capped); the
   driver union-finds it into chain components and each component's
   timelines + queries co-partition, so even transitive chains resolve
   with cheap local refolds inside the partition kernel — no
   per-round Spark jobs, no driver re-injection. Zero extra state
   reads. An epoch whose stats prove zero PK-changes skips the pass
   (and even its probe job) entirely.
3. `fetch_winners` — per-key sequential replay as ONE Arrow-batched
   `mapInPandas` pass per hash partition of doc_id (one shuffle — the
   same exchange the LWW dedupe pays in carry mode; partition-level
   batching instead of a per-key UDF, whose per-group pandas overhead
   dominates at 10^5 keys/epoch). Emits each key's winning image plus
   need-from-state flags. (Per-key order is a sequential fold, so hot
   keys cannot salt here — but the dispatch in `_winners` sends a
   DOMINANT timeline (sampled top-key share ≥30%) to the parallel-
   prefix tree fold `fetch_winners_tree`, which composes segmented
   partial transitions instead of serializing the hot key in one
   task. Both folds run the one `_fold_kernel` loop.)
4. `fetch_delta` — winners needing pre-epoch state LEFT-join the
   resolved table filtered through a broadcast semi-join of the needy
   keys: the 100-TB table streams, never shuffles, exactly like the
   reference's per-batch base-table join. Typed column merge (no
   string round-trips), then the standard delta commit.

Caps: only the cross-key EDGE pairs (two strings per PK-change) are
ever driver-collected; timelines, answers, and resolved literal events
all stay distributed. PK-change chains are a tiny fraction of real
feeds; an epoch above `_PENDING_MAX` edges DEGRADES with a logged note
(the union-find is O(pendings) short strings — a mass re-key migration
at 0.05% of a 100M-event epoch is legitimate), and only a feed above
`_PENDING_HARD_MAX` (where the edge set itself threatens driver
memory) fails loudly rather than OOMing the driver.
"""

from __future__ import annotations

import logging
from functools import reduce
from itertools import groupby

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cdc_spark.caching import track_persist
from cdc_spark.plans.template import template
from cdc_spark.sinks.target import extra_value, registry_key

_LOG = logging.getLogger(__name__)

#: SOFT cap — above this many cross-key (PK-change) edges in one epoch
#: the resolver logs a degradation warning (driver union-find time and
#: edge-collect volume grow linearly) but keeps going: refusing a mass
#: re-key migration outright (the round-4 behavior) turned 0.05% of a
#: 100M-event epoch into a dead stream
_PENDING_MAX = 50_000
#: HARD cap — the edge set is two short strings per pending (~100 B);
#: 5M edges ≈ hundreds of MB of driver heap, the honest refusal point
#: for a feed whose "PK changes" are clearly not PK changes
_PENDING_HARD_MAX = 5_000_000

#: queried keys per resolve-kernel partition: the chain-resolve shuffle
#: is sized to the PENDING workload, not the session's shuffle default —
#: a handful of pendings must not fan out into (cluster-default) mostly
#: empty mapInPandas tasks, each paying a Python-worker round trip
#: (measured: on a host with degraded fork/IPC, 32 near-empty kernel
#: tasks for 10k pendings cost ~30% of a 500k-event epoch). Small
#: enough that a hot queried key's (inherently serial) fold does not
#: also serialize unrelated components behind it; grows with the
#: pending set, capped at the session parallelism.
_QUERIED_PER_PART = 128

#: epoch DML rows per winners-fold partition: the fold exchange is
#: likewise sized to the epoch (ceil(n_events/this), uncapped — a
#: 100M-event epoch legitimately wants more folds than the session
#: default, bounding each task's pandas slice; a 500k-event epoch
#: wants ~8, not a cluster-sized fan-out of tiny Python tasks).
_EVENTS_PER_FOLD_PART = 65_536

#: above this many needy keys, the fetched-image set (full rows with
#: token arrays) may not fit an executor broadcast — the image join
#: degrades to a shuffled join of O(needy) state rows (the broadcast
#: semi still prunes the state scan; the full table never shuffles)
_IMAGE_BROADCAST_CAP = 200_000
#: above this many needy keys, even the keys-only semi filter is too
#: big to broadcast; the state-pruning semi join then shuffles too —
#: an epoch touching that many distinct keys pays a state exchange
#: proportional to itself, which is the honest floor for a fetch feed
_SEMI_BROADCAST_CAP = 4_000_000

#: phase-A/B event shape consumed by the per-key replay
FETCH_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("lsn", T.LongType()),
        T.StructField("epoch", T.IntegerType()),
        T.StructField("doc_id", T.StringType()),
        T.StructField("deleted", T.BooleanType()),
        T.StructField("tokens", T.ArrayType(T.IntegerType())),
        T.StructField("n_tok", T.IntegerType()),
        T.StructField("source", T.StringType()),
        T.StructField("extra", T.MapType(T.StringType(), T.StringType())),
        T.StructField("set_tokens", T.BooleanType()),
        T.StructField("set_source", T.BooleanType()),
        T.StructField("reset", T.BooleanType()),
        T.StructField("base_key", T.StringType()),
    ]
)

#: FETCH_EVENT_SCHEMA field names, in order
_NAMES = [f.name for f in FETCH_EVENT_SCHEMA.fields]

#: resolve_cross_key's queried key → chain component map
_COMP_SCHEMA = T.StructType(
    [T.StructField("doc_id", T.StringType()), T.StructField("_comp", T.IntegerType())]
)

WINNER_SCHEMA = T.StructType(
    [
        T.StructField("lsn", T.LongType()),
        T.StructField("epoch", T.IntegerType()),
        T.StructField("doc_id", T.StringType()),
        T.StructField("deleted", T.BooleanType()),
        T.StructField("tokens", T.ArrayType(T.IntegerType())),
        T.StructField("n_tok", T.IntegerType()),
        T.StructField("source", T.StringType()),
        T.StructField("extra", T.MapType(T.StringType(), T.StringType())),
        T.StructField("need_tokens", T.BooleanType()),
        T.StructField("need_source", T.BooleanType()),
        T.StructField("need_extra", T.BooleanType()),
        T.StructField("state_key", T.StringType()),
    ]
)

_EMPTY_MAP = "cast(map() as map<string,string>)"


def _fetch_events() -> Column:
    """One change row's setter-flagged fetch events: null (no rows) for
    anything but I/U/D."""
    op = F.col("op_type")
    masked = lambda f: (op == "U") & F.array_contains(  # noqa: E731
        F.coalesce(F.col("missing_mask"), F.array().cast("array<string>")), f
    )
    pk_changed = (
        (op == "U")
        & F.col("before.doc_id").isNotNull()
        & (F.col("before.doc_id") != F.col("after.doc_id"))
    )

    def delete_evt(key):
        return F.struct(
            F.col("lsn"), F.col("epoch"), key.alias("doc_id"),
            F.lit(True).alias("deleted"),
            F.lit(None).cast("array<int>").alias("tokens"),
            F.lit(None).cast("int").alias("n_tok"),
            F.lit(None).cast("string").alias("source"),
            F.lit(None).cast("map<string,string>").alias("extra"),
            F.lit(False).alias("set_tokens"), F.lit(False).alias("set_source"),
            F.lit(True).alias("reset"),
            F.lit(None).cast("string").alias("base_key"),
        )

    set_tok = ~masked("tokens")
    set_src = ~masked("source")
    upsert = F.struct(
        F.col("lsn"), F.col("epoch"), F.col("after.doc_id").alias("doc_id"),
        F.lit(False).alias("deleted"),
        F.when(set_tok, F.col("after.tokens")).alias("tokens"),
        F.when(set_tok, F.col("after.n_tok")).alias("n_tok"),
        F.when(set_src, F.col("after.source")).alias("source"),
        F.coalesce(F.col("after.extra"), F.expr(_EMPTY_MAP)).alias("extra"),
        set_tok.alias("set_tokens"), set_src.alias("set_source"),
        # an INSERT restarts the row image; a PK-change's I-half restarts
        # it FROM the old key's image
        ((op == "I") | pk_changed).alias("reset"),
        F.when(pk_changed, F.col("before.doc_id")).alias("base_key"),
    )
    return (
        F.when(op == "D", F.array(delete_evt(F.col("before.doc_id"))))
        .when(pk_changed, F.array(delete_evt(F.col("before.doc_id")), upsert))
        .when(op.isin("I", "U"), F.array(upsert))
    )


def normalize_fetch(changes: DataFrame, keep: tuple[str, ...] = ()) -> DataFrame:
    """CHANGE_SCHEMA rows (key-only wire) → setter-flagged fetch events.

    set_tokens/set_source mark fields the event SUPPLIES; reset marks a
    row-image restart (I, or the I-half of a PK-change split, whose
    image base is the OLD key — base_key). `keep` carries extra
    top-level columns through (the multi-table router keeps `table` so
    one staging job can partition the whole epoch's events). One
    `select(*keep, inline(events))`, a plan template per `keep`."""
    keep = tuple(keep)
    cols = template(("normalize_fetch", keep),
                    lambda: [*map(F.col, keep), F.inline(_fetch_events())])
    return changes.select(*cols)


def _is_pending() -> Column:
    return F.col("reset") & F.col("base_key").isNotNull()


def _needs_state() -> Column:
    return F.col("need_tokens") | F.col("need_source") | F.col("need_extra")


class _Marker:
    """Chain value still rooted in pre-epoch state (of `origin`)."""

    __slots__ = ("origin",)

    def __init__(self, origin):
        self.origin = origin


#: the WINNER_SCHEMA fields of a key whose last event deletes it
_DELETED = {
    "deleted": True, "tokens": None, "n_tok": None, "source": None,
    "extra": {}, "need_tokens": False, "need_source": False,
    "need_extra": False, "state_key": None,
}


def _winner_of(ch: dict, drops: list[tuple[int, str]]) -> dict:
    """Final winner row of a chain replayed by the sequential fold."""
    last = ch["last"]
    if last["deleted"]:
        return {"lsn": last["lsn"], "epoch": last["epoch"],
                "doc_id": last["doc_id"], **_DELETED}
    tv, sv = ch["tokens"], ch["source"]
    need_t = isinstance(tv, _Marker)
    need_s = isinstance(sv, _Marker)
    return {
        "lsn": last["lsn"], "epoch": last["epoch"], "doc_id": last["doc_id"],
        "deleted": False,
        "tokens": None if need_t else tv,
        "n_tok": None if need_t else ch["n_tok"],
        "source": None if need_s else sv,
        "extra": _folded(ch["fold"], drops),
        "need_tokens": need_t, "need_source": need_s,
        "need_extra": ch["origin"] is not None,
        "state_key": ch["origin"],
    }


def _folded(fold: dict, drops: list[tuple[int, str]], at_lsn: int | None = None) -> dict:
    """fold {key: (set_lsn, val)} → {key: val} with drop-DDL purges
    applied (a drop kills values set before it; bounded-list scan —
    DDL volume is tiny)."""
    if not drops:
        return {k: v for k, (_l, v) in fold.items()}
    out = {}
    for k, (l, v) in fold.items():
        if not any(sk == k and l < dl and (at_lsn is None or dl <= at_lsn)
                   for dl, sk in drops):
            out[k] = v
    return out


def _new_chain(key: str) -> dict:
    m = _Marker(key)
    return {"tokens": m, "n_tok": m, "source": m, "fold": {}, "origin": key,
            "last": None}


def _chain_apply(ch: dict, ev: dict) -> None:
    """Advance a chain by one event (one oracle-equivalent transition
    per event, O(1) each)."""
    ch["last"] = ev
    if ev["deleted"]:
        ch["tokens"] = ch["n_tok"] = ch["source"] = None
        ch["fold"] = {}
        ch["origin"] = None
        return
    if ev["reset"]:
        origin = ev["base_key"]
        ch["origin"] = origin
        ch["fold"] = {k: (ev["lsn"], v) for k, v in (ev["extra"] or {}).items()}
        if ev["set_tokens"]:
            ch["tokens"], ch["n_tok"] = ev["tokens"], ev["n_tok"]
        else:
            ch["tokens"] = ch["n_tok"] = _Marker(origin)
        ch["source"] = ev["source"] if ev["set_source"] else _Marker(origin)
        return
    if ev["set_tokens"]:
        ch["tokens"], ch["n_tok"] = ev["tokens"], ev["n_tok"]
    if ev["set_source"]:
        ch["source"] = ev["source"]
    for k, v in (ev["extra"] or {}).items():
        ch["fold"][k] = (ev["lsn"], v)


class _Unknown:
    """Pickle-stable singleton sentinel. A bare ``object()`` loses
    identity when a kernel closure and the module functions it calls
    are pickled to executors separately — ``is _UNK`` then silently
    fails across the function boundary. ``__reduce__`` funnels every
    unpickle through the singleton, so identity holds per-process."""

    _inst = None

    def __new__(cls):
        if cls._inst is None:
            cls._inst = super().__new__(cls)
        return cls._inst

    def __reduce__(self):
        return (_Unknown, ())


#: sentinel: chain component whose value depends on a not-yet-resolved
#: cross-key pending (resolved in a later round)
_UNK = _Unknown()


def _apply_stream_ev(ch: dict, ev: dict, subs: dict) -> None:
    """Advance a chain by one timeline row (kind 0 event or kind 1
    pending placeholder, the latter substituted by its resolved literal
    twin once `subs` holds one)."""
    if int(ev["kind"]) == 1:
        lit = subs.get(ev["lsn"])
        if lit is not None:
            _chain_apply(ch, lit)
            return
        # unresolved pending placeholder: its OWN supplied fields are
        # known; everything it inherits from its (unresolved) base is
        # UNKNOWN until a later setter/barrier overrides
        ch["last"] = ev
        ch["origin"] = _UNK
        ch["fold"] = _UNK
        if ev["set_tokens"]:
            ch["tokens"], ch["n_tok"] = ev["tokens"], ev["n_tok"]
        else:
            ch["tokens"] = ch["n_tok"] = _UNK
        ch["source"] = ev["source"] if ev["set_source"] else _UNK
        return
    # normal event — but an UNKNOWN fold must absorb updates without
    # forgetting it is unknown-based
    if not ev["deleted"] and not ev["reset"] and ch["fold"] is _UNK:
        if ev["set_tokens"]:
            ch["tokens"], ch["n_tok"] = ev["tokens"], ev["n_tok"]
        if ev["set_source"]:
            ch["source"] = ev["source"]
        ch["last"] = ev
        return  # fold/origin stay UNKNOWN
    _chain_apply(ch, ev)


def _snapshot_answer(ch: dict, q: dict, drops: list[tuple[int, str]]):
    """Chain snapshot answering query `q` (strictly-before its lsn), or
    None while the snapshot still depends on an unresolved pending."""
    need_t = not q["set_tokens"]
    need_s = not q["set_source"]
    if (
        (need_t and ch["tokens"] is _UNK)
        or (need_s and ch["source"] is _UNK)
        or ch["origin"] is _UNK
        or ch["fold"] is _UNK
    ):
        return None
    tv, sv = ch["tokens"], ch["source"]
    t_marker = isinstance(tv, _Marker)
    s_marker = isinstance(sv, _Marker)
    return {
        "tokens": None if (t_marker or tv is _UNK) else tv,
        "n_tok": None if (t_marker or tv is _UNK) else ch["n_tok"],
        "tokens_is_marker": t_marker,
        "source": None if (s_marker or sv is _UNK) else sv,
        "source_is_marker": s_marker,
        "origin": ch["origin"],
        "fold": _folded(ch["fold"], drops, at_lsn=q["lsn"]),
    }


def _fold_one_key(
    evs: list[dict], qs: list[dict], want: set, subs: dict,
    drops: list[tuple[int, str]],
) -> list[tuple[dict, dict]]:
    """One linear replay of a key's timeline answering the still-wanted
    queries at their lsns (query strictly-before same-lsn events — the
    D-half of a PK-change sorts after the query, matching the oracle's
    fetch-then-delete order). Returns the (query, answer) pairs that
    resolved."""
    out = []
    ch = None
    i = 0
    for q in qs:
        if q["lsn"] not in want:
            continue
        if ch is None:
            ch = _new_chain(q["doc_id"])
        while i < len(evs) and evs[i]["lsn"] < q["lsn"]:
            _apply_stream_ev(ch, evs[i], subs)
            i += 1
        a = _snapshot_answer(ch, q, drops)
        if a is not None:
            out.append((q, a))
    return out


def _rows(batches, schema: T.StructType, order: list[str] | None = None):
    """A mapInPandas partition's rows as dicts, merge-sorted by `order`
    when given — THE Arrow-row decoder of every fetch kernel. `schema`'s
    arrays become lists, maps (pair lists from Arrow) dicts, booleans bool."""
    import pandas as pd

    pdfs = [p for p in batches if not p.empty]
    if not pdfs:
        return
    pdf = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
    if order:
        pdf = pdf.sort_values(order, kind="mergesort")
    lists = [f.name for f in schema.fields if isinstance(f.dataType, T.ArrayType)]
    maps = [f.name for f in schema.fields if isinstance(f.dataType, T.MapType)]
    bools = [f.name for f in schema.fields if isinstance(f.dataType, T.BooleanType)]
    cols = list(pdf.columns)
    for tup in pdf.itertuples(index=False):
        r = dict(zip(cols, tup))
        for c in lists:
            if r[c] is not None:
                r[c] = list(r[c])
        for c in maps:
            if r[c] is not None and not isinstance(r[c], dict):
                r[c] = dict(r[c])
        for c in bools:
            r[c] = bool(r[c])
        yield r


def _chain_resolve_kernel(drops: list[tuple[int, str]]):
    """Partition kernel resolving ENTIRE cross-key chains locally.

    Input rows carry `kind`: 0 = normal event, 1 = PLACEHOLDER for a
    pending (in its own key's timeline), 2 = QUERY (keyed by the
    pending's base_key; `_orig` holds the pending's own doc_id). Every
    key of a chain component is co-partitioned (resolve_cross_key's
    union-find routing), so resolution iterates HERE: answer what round
    0 can, substitute each resolved pending's literal twin into its own
    key's timeline, refold just the keys that gained a substitution,
    repeat. Each local round resolves ≥1 pending or the feed is cyclic
    (fails loudly — a task error surfaces the message). Output = the
    resolved literal twin events (FETCH_EVENT_SCHEMA) — nothing ever
    returns to the driver."""
    import pandas as pd

    def run_partition(batches):
        timelines: dict[str, list[dict]] = {}
        queries: dict[str, list[dict]] = {}
        for ev in _rows(batches, FETCH_EVENT_SCHEMA):
            if int(ev["kind"]) == 2:
                queries.setdefault(ev["doc_id"], []).append(ev)
            else:
                timelines.setdefault(ev["doc_id"], []).append(ev)
        for evs in timelines.values():
            evs.sort(key=lambda e: e["lsn"])
        for qs in queries.values():
            qs.sort(key=lambda e: e["lsn"])
        # want[key] = lsns of this key's still-unanswered queries
        want = {k: {q["lsn"] for q in qs} for k, qs in queries.items()}
        subs: dict[int, dict] = {}
        out_rows: list[dict] = []
        n_left = sum(len(s) for s in want.values())
        todo = set(queries)
        while n_left:
            progress = False
            next_todo: set[str] = set()
            for key in sorted(todo):
                w = want.get(key)
                if not w:
                    continue
                for q, a in _fold_one_key(
                    timelines.get(key, []), queries[key], w, subs, drops
                ):
                    lit = _make_resolved(q, a)
                    lit["doc_id"] = q["_orig"]
                    subs[q["lsn"]] = lit
                    w.discard(q["lsn"])
                    n_left -= 1
                    progress = True
                    out_rows.append({n: lit[n] for n in _NAMES})
                    # the resolved pending's own timeline just gained a
                    # substitution — queries targeting it can now refold
                    if want.get(lit["doc_id"]):
                        next_todo.add(lit["doc_id"])
            if n_left and not progress:
                raise RuntimeError(
                    "cross-key fetch chains did not progress (cyclic or "
                    "malformed feed)"
                )
            todo = next_todo
        if out_rows:
            yield pd.DataFrame(out_rows, columns=_NAMES)

    return run_partition


def resolve_cross_key(
    spark: SparkSession, events: DataFrame, drops: list[tuple[int, str]],
    n_pk_change: int | None = None,
) -> DataFrame:
    """Replace cross-key reset events (PK-change I-halves) with
    literal/marker-resolved twins so the per-key replay becomes fully
    key-local.

    SINGLE-PASS DISTRIBUTED (round 4): the only thing ever collected is
    the pending EDGE set — one (doc_id, base_key) string pair per
    PK-change, capped by `_PENDING_MAX`. The driver union-finds those
    edges into chain components (a pending can only depend on another
    pending reachable through the edge graph), broadcasts the
    key→component map, and routes every queried key's timeline, pending
    placeholder, and image query into its component's partition. The
    kernel (`_chain_resolve_kernel`) then iterates WITHIN the partition
    until every chain is resolved — depth-k chains cost k cheap local
    refolds of just the affected keys, not k driver-blocking Spark jobs
    — and emits the resolved literal twins directly, so there is no
    driver collect of answers and no driver-built injection frame at
    all. The round-3 design ran up to 8 full jobs with
    a driver collect + Arrow re-injection between each; that serial
    driver share was the engine's one sub-0.8 scaling surface
    (BENCH_scaling_fetch_r3.md). Timelines nobody queries cannot affect
    any answer, so the component join also prunes the fold to queried
    keys only. State lookups stay SYMBOLIC (origin markers) and are
    satisfied by fetch_delta's one typed state join.

    `n_pk_change`: the epoch's PK-change event count when the caller's
    probe already counted it (`pipeline._probe`, pk_change=True). 0 skips
    even the edge-probe job — the common no-PK-change epoch then pays
    nothing here."""
    if n_pk_change == 0:
        return events
    is_pending, not_pending, edge_cols = template("resolve_cross_key.edges", lambda: (
        _is_pending(), ~_is_pending(), [F.col("doc_id"), F.col("base_key")]))
    edges = (
        events.filter(is_pending)
        .select(*edge_cols)
        .limit(_PENDING_HARD_MAX + 1)
        .collect()
    )
    if not edges:
        return events
    if len(edges) > _PENDING_HARD_MAX:
        raise ValueError(
            f"more than {_PENDING_HARD_MAX} cross-key (PK-change) fetch "
            "events in one epoch; the edge set alone threatens driver "
            "memory — refusing to resolve a pathological feed"
        )
    if len(edges) > _PENDING_MAX:
        _LOG.warning(
            "fetch cross-key resolve degrading: %d PK-change edges in one "
            "epoch (> soft cap %d) — driver union-find and edge collect "
            "scale linearly; resolution stays distributed and correct",
            len(edges), _PENDING_MAX,
        )

    # union-find over the driver-known pending edges → chain components.
    # The dependency is DIRECTED: a pending on key X querying key B
    # needs B's folded timeline, and folding B in turn needs answers for
    # B's OWN pendings — so X–B must co-locate only when X's timeline is
    # itself folded here, i.e. when X is a QUERIED key. Sibling
    # dependents of the same base key need B but not each other; a
    # non-queried dependent's twin is emitted straight from its query
    # row in B's partition (its kind-1 placeholder is dropped by the
    # comp join below, and the kernel never refolds an unqueried key).
    # Unioning every edge undirected would glue all siblings of a hub
    # key into one component — measured on a Zipf-1.2 500k-event epoch:
    # 9,920 edges collapse into one 7,606-key component (one serial
    # kernel task); the chain-edge-restricted union yields 1,520
    # components, largest 213 (only 395 edges have a queried dependent).
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    # only QUERIED keys (base_keys) ever appear in the resolve stream:
    # timelines nobody queries cannot affect any answer
    queried_set = {e["base_key"] for e in edges}
    for e in edges:
        if e["doc_id"] in queried_set:  # true chain edge
            parent[find(e["doc_id"])] = find(e["base_key"])
    queried = sorted(queried_set)
    roots: dict[str, int] = {}
    comp_df = spark.createDataFrame(
        [(k, roots.setdefault(find(k), len(roots))) for k in queried], _COMP_SCHEMA,
    )

    rows, comp = template("resolve_cross_key.stream", lambda: (
        _resolve_stream(), F.col("_comp")))
    # inner broadcast join = queried-key filter + component tag in one
    stream = events.select(rows).join(F.broadcast(comp_df), "doc_id")
    n_parts = max(1, min(
        int(spark.conf.get("spark.sql.shuffle.partitions")),
        -(-len(queried) // _QUERIED_PER_PART),
    ))
    resolved_events = stream.repartition(n_parts, comp).mapInPandas(
        _chain_resolve_kernel(drops), FETCH_EVENT_SCHEMA
    )
    # structural filter: EVERY cross-key reset row resolves in the pass,
    # so drop that shape wholesale and union the literal twins back in
    return events.filter(not_pending).unionByName(resolved_events)


def _resolve_stream() -> Column:
    """resolve_cross_key's stream rows of one event: the event itself
    (kind 0), or for a pending its placeholder (kind 1) plus its image
    query re-keyed to its base key (kind 2, `_orig` = its own key)."""

    def row(kind: int, doc_id: str = "doc_id", orig: Column | None = None) -> Column:
        fields = [F.col(doc_id if n == "doc_id" else n).alias(n) for n in _NAMES]
        orig = F.lit(None).cast("string") if orig is None else orig
        return F.struct(*fields, F.lit(kind).cast("int").alias("kind"), orig.alias("_orig"))

    return F.inline(
        F.when(_is_pending(), F.array(row(1), row(2, "base_key", F.col("doc_id"))))
        .otherwise(F.array(row(0)))
    )


def _make_resolved(p: dict, a: dict) -> dict:
    out = dict(p)
    if not p["set_tokens"]:
        if a["tokens_is_marker"]:
            out["tokens"], out["n_tok"] = None, None
        else:
            out["tokens"], out["n_tok"] = a["tokens"], a["n_tok"]
            out["set_tokens"] = True
    if not p["set_source"]:
        out["source"] = None if a["source_is_marker"] else a["source"]
        out["set_source"] = not a["source_is_marker"]
    fold = dict(a["fold"] or {})
    fold.update(p["extra"] or {})
    out["extra"] = fold
    # the chain has exactly ONE state root (its origin — any field
    # markers carry the same one); None => fully absolute
    out["base_key"] = a["origin"]
    return out


def _fold_parts(n_events: int | None) -> int:
    """Both folds' exchange width: ceil(n_events/_EVENTS_PER_FOLD_PART), 1 without a count."""
    return max(1, -(-(n_events or 0) // _EVENTS_PER_FOLD_PART))


def _fold_kernel(drops: list[tuple[int, str]], segments: bool):
    """THE per-key fold loop of both winner folds: rows sorted by
    (doc_id, chunk, lsn), a missing chunk counting as 0, replay through
    `_chain_apply` as one fresh chain per (doc_id, chunk). `segments`
    emits each chain's net transition and whether it restarted
    (fetch_winners_tree stage A); otherwise each key's winner row."""
    import pandas as pd

    schema = _TRANSITION_SCHEMA if segments else WINNER_SCHEMA
    order = ["doc_id", "chunk", "lsn"] if segments else ["doc_id", "lsn"]

    def run_partition(batches):
        out = []
        for (key, chunk), evs in groupby(_rows(batches, FETCH_EVENT_SCHEMA, order),
                                         lambda e: (e["doc_id"], e.get("chunk", 0))):
            ch, restarted = _new_chain(key), False
            for ev in evs:
                restarted = restarted or ev["deleted"] or ev["reset"]
                _chain_apply(ch, ev)
            out.append(_chain_to_transition(key, chunk, ch, restarted) if segments
                       else _winner_of(ch, drops))
        if out:
            yield pd.DataFrame(out, columns=schema.fieldNames())

    return run_partition


def fetch_winners(
    events: DataFrame, drops: list[tuple[int, str]],
    n_events: int | None = None,
) -> DataFrame:
    """Hash-partition by doc_id → ONE sequential pass per partition
    (sort by (doc_id, lsn), fold each key's chain, emit one winner row
    per key).

    mapInPandas over whole partitions, not applyInPandas per key: a
    per-key UDF pays pandas-DataFrame construction per GROUP (~ms), which
    at 10^5 keys/epoch dominates the epoch. Here the per-partition cost
    is one concat + one sort + one linear python fold; partition memory
    is bounded by the doc_id hash partitioning.

    `n_events` (the epoch's DML count — fetch mode always runs the
    stats pre-pass, so callers have it for free) sizes the fold
    exchange to the DATA, ceil(n_events/_EVENTS_PER_FOLD_PART)
    partitions, uncapped: a big epoch gets more folds than the session
    default (bounding per-task pandas memory), a small one gets fewer
    Python-worker round trips. AQE cannot do this here — coalescing
    skips user repartitions and a REBALANCE hint may split one key's
    timeline across tasks, which the fold cannot tolerate. Without the
    count, one partition.

    n_events is a SIZING HEURISTIC, not an exact row count: callers pass
    the raw feed's DML count, which over-counts by heartbeats/DDL in the
    multi-table path and under-counts PK-change splits (each explodes to
    two events) plus resolved twins — small constant factors that only
    nudge the partition count, never correctness."""
    doc_id = template("doc_id", lambda: F.col("doc_id"))
    return events.repartition(_fold_parts(n_events), doc_id).mapInPandas(
        _fold_kernel(drops, segments=False), WINNER_SCHEMA
    )


#: serialized segment transition (fetch_winners_tree kernel A → B): the
#: net effect of one contiguous-lsn slice of one key's timeline applied
#: to an UNKNOWN prior state — field markers become *_mark flags, the
#: extra fold keeps its per-key set-lsn stamps (drop purge happens at
#: winner emission, exactly like the sequential kernel)
_TRANSITION_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        # long, not int: lsns can be byte offsets (WAL positions) far
        # above the chunk width × 2^31 — an int32 chunk would wrap negative
        # and compose later lsn ranges BEFORE earlier ones
        T.StructField("chunk", T.LongType()),
        T.StructField("restarted", T.BooleanType()),
        T.StructField("tokens", T.ArrayType(T.IntegerType())),
        T.StructField("n_tok", T.IntegerType()),
        T.StructField("t_mark", T.BooleanType()),
        T.StructField("source", T.StringType()),
        T.StructField("s_mark", T.BooleanType()),
        T.StructField("fold_v", T.MapType(T.StringType(), T.StringType())),
        T.StructField("fold_l", T.MapType(T.StringType(), T.LongType())),
        T.StructField("origin", T.StringType()),
        T.StructField("last_lsn", T.LongType()),
        T.StructField("last_epoch", T.IntegerType()),
        T.StructField("last_deleted", T.BooleanType()),
    ]
)


def _chain_to_transition(key: str, chunk: int, ch: dict, restarted: bool) -> dict:
    tv, sv = ch["tokens"], ch["source"]
    t_mark = isinstance(tv, _Marker)
    s_mark = isinstance(sv, _Marker)
    last = ch["last"]
    return {
        "doc_id": key, "chunk": chunk, "restarted": restarted,
        "tokens": None if t_mark else tv,
        "n_tok": None if t_mark else ch["n_tok"],
        "t_mark": t_mark,
        "source": None if s_mark else sv,
        "s_mark": s_mark,
        "fold_v": {k: v for k, (_l, v) in ch["fold"].items()},
        "fold_l": {k: l for k, (l, _v) in ch["fold"].items()},
        "origin": ch["origin"],
        "last_lsn": last["lsn"], "last_epoch": last["epoch"],
        "last_deleted": bool(last["deleted"]),
    }


def _compose_transitions(a: dict, b: dict) -> dict:
    """a ∘ b for consecutive segments (a earlier). A restarted b (its
    slice saw a delete or reset) discards a entirely — its unsupplied
    fields root in PRE-EPOCH state of its own origin, never in a."""
    if b["restarted"]:
        return b
    out = dict(b)
    if b["t_mark"]:
        out["tokens"], out["n_tok"], out["t_mark"] = (
            a["tokens"], a["n_tok"], a["t_mark"],
        )
    if b["s_mark"]:
        out["source"], out["s_mark"] = a["source"], a["s_mark"]
    out["fold_v"] = {**a["fold_v"], **b["fold_v"]}
    out["fold_l"] = {**a["fold_l"], **b["fold_l"]}
    out["origin"] = a["origin"]
    out["restarted"] = a["restarted"]
    return out


def _transition_winner(t: dict, drops: list[tuple[int, str]]) -> dict:
    if t["last_deleted"]:
        return {"lsn": t["last_lsn"], "epoch": t["last_epoch"],
                "doc_id": t["doc_id"], **_DELETED}
    fold = {k: (t["fold_l"][k], v) for k, v in t["fold_v"].items()}
    return {
        "lsn": t["last_lsn"], "epoch": t["last_epoch"], "doc_id": t["doc_id"],
        "deleted": False,
        "tokens": t["tokens"], "n_tok": t["n_tok"], "source": t["source"],
        "extra": _folded(fold, drops),
        "need_tokens": bool(t["t_mark"]), "need_source": bool(t["s_mark"]),
        "need_extra": t["origin"] is not None,
        "state_key": t["origin"],
    }


#: `_winners` dispatch gates (interleaved best-of-3 A/B at 8 pinned
#: cores, BENCH.md «tree fold»): below ~250k events the serial fold
#: costs a few seconds at worst and the profile job + extra shuffle eat
#: the win; the tree fold starts winning between a 20% top-key share
#: (wash: 4.25 s seq vs 4.38 s tree at 1M events) and a 38% share
#: (1.34×: 5.21 vs 3.88 s), so dispatch at ≥30%.
_TREE_MIN_EVENTS = 250_000
_TREE_TOP_SHARE = 0.30

#: key profile: a seeded sample of about _SAMPLE_ROWS rows; a key above
#: _HOT_SHARE of it is hot (the top key alone holds ~18% at Zipf-1.2
#: skew; everything below 2% folds fine in one task)
_SAMPLE_ROWS, _SAMPLE_SEED, _HOT_SHARE = 50_000, 7, 0.02
#: narrowest lsn chunk a hot key's timeline is split into
_MIN_CHUNK = 4096


def sample_key_profile(events: DataFrame, n_events: int) -> tuple[list[str], float]:
    """(hot keys, estimated top-key share) from ONE bounded-sample job —
    `_winners`' dispatch signal and fetch_winners_tree's split set.
    collect_list skips the when()'s nulls, so the single aggregate row
    carries the sampled total, the max timeline, and the hot set."""
    frac = min(1.0, _SAMPLE_ROWS / float(n_events))
    thr = max(4.0, _HOT_SHARE * n_events * frac)
    r = (
        events.sample(fraction=frac, seed=_SAMPLE_SEED)
        .groupBy("doc_id").count()
        .agg(
            F.sum("count").alias("n"),
            F.max("count").alias("top"),
            F.collect_list(
                F.when(F.col("count") >= F.lit(thr), F.col("doc_id"))
            ).alias("hot"),
        )
        .collect()[0]
    )
    if not r["n"]:
        return [], 0.0
    return list(r["hot"]), float(r["top"]) / float(r["n"])


def fetch_winners_tree(events: DataFrame, drops: list[tuple[int, str]],
                       n_events: int, hot_keys: list[str]) -> DataFrame:
    """Parallel-prefix twin of `fetch_winners` (VERDICT r4 #6): hot
    keys' timelines fold as SEGMENTED partial transitions composed in
    chunk order, breaking the "hottest key serializes one task" bound
    of the sequential kernel.

    `_chain_apply`'s transition family (field-wise set-if-present merge
    + delete/reset restart) is closed under composition: a segment
    folded from a fresh chain IS its net transition, with Markers
    meaning "inherit" — from the previous segment mid-timeline, from
    pre-epoch state at the head (exactly `_winner_of`'s need flags).
    Stage A (`_fold_kernel` with segments) folds (key, lsn-chunk)
    slices into transition rows (`hot_keys` get real chunks; everyone
    else is chunk 0); stage B re-shuffles the TINY transition set by
    key and composes. Cost vs the sequential kernel: the same event
    shuffle + one extra O(keys + hot×chunks) shuffle + the sampling job
    that finds the hot set — only worth paying when one timeline
    dominates the epoch. Row-equality with `fetch_winners` is
    test-pinned; `_winners` dispatches here when a sampled key profile
    shows a dominant timeline (measured crossover in BENCH.md: wash at
    a 20% top-key share, 1.34–1.63× wins at 38–60%)."""
    import pandas as pd

    n_parts = _fold_parts(n_events)
    width = max(_MIN_CHUNK, n_events // (4 * n_parts))
    # integer division: a double quotient drops lsn bits past 2^53
    chunk_col = (
        F.when(F.col("doc_id").isin(list(hot_keys)), F.expr(f"lsn div {width}"))
        .otherwise(F.lit(0)).cast("long")
    )
    transitions = (
        events.select(*_NAMES, chunk_col.alias("chunk"))
        .repartition(n_parts, F.col("doc_id"), F.col("chunk"))
        .mapInPandas(_fold_kernel(drops, segments=True), _TRANSITION_SCHEMA)
    )

    def compose_partition(batches):
        out = [
            _transition_winner(reduce(_compose_transitions, ts), drops)
            for _k, ts in groupby(_rows(batches, _TRANSITION_SCHEMA, ["doc_id", "chunk"]),
                                  lambda t: t["doc_id"])
        ]
        if out:
            yield pd.DataFrame(out, columns=WINNER_SCHEMA.fieldNames())

    # transitions are one row per (key, chunk) — tiny; the compose
    # exchange sizes to keys, not events
    comp_parts = max(1, min(n_parts, 64))
    return transitions.repartition(comp_parts, F.col("doc_id")).mapInPandas(
        compose_partition, WINNER_SCHEMA
    )


def fetch_delta(
    spark: SparkSession,
    winners: DataFrame,
    state: DataFrame,
    registry: list[dict],
    n_needy: int | None = None,
    needy_bound: int | None = None,
) -> DataFrame:
    """Winners + pre-epoch resolved state → phys delta rows.

    The state side is filtered through a broadcast semi-join of the
    needy keys and then broadcast-LEFT-joined onto the winners: the big
    table streams with zero exchanges (the scale property the
    reference's per-batch CT base join also has); all merging is typed
    (no string round-trips through the extra map). Epochs whose needy
    set exceeds the broadcast caps degrade incrementally: past
    `_IMAGE_BROADCAST_CAP` the image join shuffles O(needy) state rows
    (semi still prunes the scan); past `_SEMI_BROADCAST_CAP` the semi
    shuffles too. The winners side is persisted by the caller, so the
    guard count is a cached scan.

    The guard count job is SKIPPED whenever a cheaper bound already
    decides the join strategy (per-epoch blocking jobs are the fetch
    path's scaling limiter — BENCH_scaling_fetch_uniform_r4.md):
    `n_needy` passes an exact count a prefetch already paid for;
    `needy_bound` passes any upper bound on the needy-key count (the
    epoch's DML count works: needy keys ⊆ winner keys ⊆ DML events) —
    a bound under `_IMAGE_BROADCAST_CAP` proves both broadcasts safe
    without counting anything."""
    needs, needy_key, semi_on, ssub_cols, img_on, sel = template(
        ("fetch_delta", registry_key(registry)), lambda: _fetch_delta_selects(registry))
    needy = winners.filter(needs).select(needy_key).distinct()
    if n_needy is None:
        if needy_bound is not None and needy_bound <= _IMAGE_BROADCAST_CAP:
            n_needy = needy_bound
        else:
            n_needy = needy.count()
    bc_semi = F.broadcast if n_needy <= _SEMI_BROADCAST_CAP else (lambda x: x)
    bc_img = F.broadcast if n_needy <= _IMAGE_BROADCAST_CAP else (lambda x: x)
    ssub = state.join(bc_semi(needy), semi_on, "left_semi").select(*ssub_cols)
    return winners.join(bc_img(ssub), img_on, "left").select(*sel)


def _fetch_delta_selects(registry: list[dict]):
    """fetch_delta's plan template under one registry: the needy-winner
    filter and key, the state semi-join condition, the pruned state
    image, the image join condition and the typed merge into phys delta
    columns."""
    ssub = [
        F.col("doc_id").alias("_sk"),
        F.col("tokens").alias("_s_tokens"),
        F.col("n_tok").alias("_s_n_tok"),
        F.col("source").alias("_s_source"),
        *[F.col(c["target"]).alias(f"_s_{c['phys']}") for c in registry],
    ]
    sel = [
        F.col("doc_id"),
        F.when(F.col("need_tokens"), F.col("_s_tokens")).otherwise(F.col("tokens")).alias("tokens"),
        F.when(F.col("need_tokens"), F.col("_s_n_tok")).otherwise(F.col("n_tok")).alias("n_tok"),
        F.when(F.col("need_source"), F.col("_s_source")).otherwise(F.col("source")).alias("source"),
    ]
    for c in registry:
        v_f = extra_value(c)
        merged = F.when(
            F.col("need_extra"), F.coalesce(v_f, F.col(f"_s_{c['phys']}"))
        ).otherwise(v_f)
        sel.append(merged.alias(c["phys"]))
    sel += [F.col("lsn").alias("last_lsn"), F.col("deleted")]
    return (_needs_state(), F.col("state_key").alias("_nk"),
            F.col("doc_id") == F.col("_nk"), ssub,
            F.col("state_key") == F.col("_sk"), sel)


def build_fetch_delta(
    spark: SparkSession,
    table,
    batch: DataFrame,
    drops: list[tuple[int, str]],
    n_pk_change: int | None = None,
    n_events: int | None = None,
) -> DataFrame:
    """Full fetch pipeline for one epoch: normalize → cross-key resolve
    → per-key replay → typed state join. Returns phys delta rows ready
    for commit_delta (hash-partitioned by doc_id via the replay's
    groupBy exchange). The persisted winners (used by both the needy-key
    probe and the main join) are registered with caching.track_persist;
    the caller releases them after the delta write action."""
    # persisted: the pendings probe, the closure join, and the winners
    # pass would otherwise each recompute the normalize explode over the
    # raw batch (cache is epoch-scoped, released with the winners)
    events = track_persist(normalize_fetch(batch))
    return fetch_delta_from_events(
        spark, table, events, drops, n_pk_change=n_pk_change,
        n_events=n_events,
    )


def fetch_delta_from_events(
    spark: SparkSession,
    table,
    events: DataFrame,
    drops: list[tuple[int, str]],
    n_pk_change: int | None = None,
    n_events: int | None = None,
) -> DataFrame:
    """resolve → per-key replay → typed state join, over ALREADY
    normalized fetch events (FETCH_EVENT_SCHEMA). The multi-table router
    enters here: one staging job normalizes the whole epoch partitioned
    by table, and each table's slice (a cheap parquet re-read, which is
    why the slice needs no persist) flows through this per-table tail
    against that table's own resolved state.

    A FUSED variant (round-0 answers emitted from the winners fold,
    pendings' keys re-folded after resolution) was built and measured
    a wash — interleaved best-of-3 on 500k-event epochs: 8.77 s
    unfused vs 8.86 s fused at the default mix, 10.51 vs 10.74 s at
    8% PK-change (40k pendings, near the cap). The queried-key round
    filter already minimizes the round-0 fold; the fused pass's
    tainted-key patch fold and larger persisted frame offset the saved
    fold, so the simpler unfused pipeline stays."""
    winners = track_persist(_winners(spark, events, drops, n_pk_change, n_events))
    state = table.read_resolved(spark)
    return fetch_delta(spark, winners, state, table.state()["registry"],
                       needy_bound=n_events)


def _winners(spark: SparkSession, events: DataFrame, drops: list[tuple[int, str]],
             n_pk_change: int | None, n_events: int | None) -> DataFrame:
    """Cross-key resolve → winner fold, THE dispatch between the folds:
    an epoch of ≥ _TREE_MIN_EVENTS samples a key profile, and a top-key
    share ≥ _TREE_TOP_SHARE takes `fetch_winners_tree`; all else folds
    sequentially (`fetch_winners`). The profile samples the PRE-resolve
    frame (persisted by the caller, or a pruned parquet slice re-read in
    the multi-table tail): the resolved frame would recompute the whole
    resolve lineage for one tiny aggregate (6.8 s vs 0.63 s measured on
    a 500k-event epoch), and resolved PK-change twins shift key shares
    only second-order."""
    hot, top = [], 0.0
    if n_events and n_events >= _TREE_MIN_EVENTS:
        hot, top = sample_key_profile(events, n_events)
    resolved = resolve_cross_key(spark, events, drops, n_pk_change=n_pk_change)
    if hot and top >= _TREE_TOP_SHARE:
        _LOG.info(
            "winner fold dispatch: tree (top-key share %.2f >= %.2f, "
            "%d hot keys, %d events)", top, _TREE_TOP_SHARE, len(hot), n_events,
        )
        return fetch_winners_tree(resolved, drops, n_events, hot)
    return fetch_winners(resolved, drops, n_events=n_events)


def prepare_fetch_epoch(
    spark: SparkSession,
    batch: DataFrame,
    drops: list[tuple[int, str]],
    n_pk_change: int | None = None,
    n_events: int | None = None,
) -> dict:
    """Commit-independent half of the fetch pipeline: normalize →
    cross-key resolve → per-key replay, MATERIALIZED (the winners cache
    is computed by the exact needy-key count, which fetch_delta then
    reuses instead of re-counting).

    Nothing here reads the target table — winners depend only on the
    epoch's own events (state lookups stay symbolic `state_key`
    markers) — so a driver thread can run this for epoch N+1 while
    epoch N's state join, delta write, journal commit, and compaction
    tick are still in flight: the per-epoch blocking jobs that cap the
    fetch path's N→4N scaling (BENCH_scaling_fetch_uniform_r4.md)
    overlap instead of serializing. Callers own the returned persisted
    frames (`persisted`) and must unpersist them after the epoch's
    write action; caching.track_persist is deliberately NOT used — its
    global release would let epoch N's cleanup drop epoch N+1's
    in-flight prefetch caches."""
    events = normalize_fetch(batch).persist()
    winners = None
    try:
        winners = _winners(spark, events, drops, n_pk_change, n_events).persist()
        needs, key = template("prepare_fetch_epoch", lambda: (
            _needs_state(), F.col("state_key")))
        n_needy = winners.filter(needs).select(key).distinct().count()
    except BaseException:
        # a raise between persist() and return would pin the caches for
        # the session's lifetime (callers only release what we return)
        for df in (events, winners):
            if df is not None:
                try:
                    df.unpersist()
                except Exception:
                    _LOG.warning("releasing a prepare_fetch_epoch cache failed",
                                 exc_info=True)
        raise
    return {
        "winners": winners,
        "n_needy": n_needy,
        "persisted": [events, winners],
    }
