"""Exactly-once, schema-evolving target table (SURVEY.md §7.1 M2).

An Iceberg-shaped snapshot table implemented on plain parquet + an atomic
JSON commit journal, because the sandbox has no Iceberg runtime jar. The
engine codes against this class only; on a real cluster the same calls
map 1:1 to Iceberg operations:

| here                          | Iceberg                                   |
|-------------------------------|-------------------------------------------|
| journal file vNNNNNNNN.json   | snapshot + metadata.json (atomic swap)    |
| commit_delta(epoch=E)         | MERGE INTO … with snapshot summary        |
|                               | property cdc.epoch=E (idempotency guard)  |
| merge-on-read resolution      | equality-delete files + MoR scan          |
| compact()                     | rewrite_data_files (dirty partitions only)|
| apply_ddl (all four kinds)    | ALTER TABLE — metadata-only, like Iceberg |
| registry `phys` ids           | Iceberg field IDs (name-independent)      |
| _prune_journal (at compact)   | expireSnapshots (bounded metadata growth) |

The reference has none of this: offsets live in driver memory
(CTInputDStream.java:60-62,96-97 — restart rereads from 0) and sinks are
at-least-once with idempotent row upserts (CDCHBase.java:75-126). We fix
that debt: the journal rename is the single atomic commit point; a
re-delivered epoch is a no-op (has_epoch guard), so replay from any
checkpoint converges to the same state.

Schema evolution is METADATA-ONLY (round-3 redesign): every DDL-added
column gets a stable physical name (`phys`, unique per add-DDL lsn — the
moral equivalent of an Iceberg field ID), and rename/widen/drop mutate
only the registry mapping: rename changes the logical `target` name,
widen changes the read/write type (Spark 4's parquet readers upcast
int→long, int→double and float→double in place — exactly the WIDENINGS
set), drop removes the mapping (the
stale phys column simply stops being read). No DDL ever rewrites data —
the reference's Kudu sink likewise alters and continues without a data
rewrite (CDCKudu.java:68-126); at 100 TB an inline O(table) rewrite
inside the DDL-before-DML barrier would stall the stream for hours.
Stale phys columns are physically dropped whenever their bucket is next
compacted.

Write amplification: each micro-batch appends O(batch) delta bytes (the
merge-on-read choice — a copy-on-write MERGE would rewrite O(table)
bytes per batch, which cannot work at 10^10 events). The base is written
parquet-partitioned by `_bucket = pmod(xxhash64(doc_id), buckets)`;
compaction rewrites ONLY buckets that have delta rows (clean buckets are
carried forward as hard links — the file-manifest reuse Iceberg's
rewrite_data_files does), and the read-side LWW resolve takes a
broadcast-join fast path (base streams unshuffled; only the small delta
set aggregates) whenever the journal proves every delta lsn exceeds
`base_max_lsn` — the steady-state streaming case. A late-delivered
epoch below the compaction watermark invalidates that proof and falls
back to the full hash-aggregate resolve.

One journal format: every entry carries exactly the keys
`create_if_absent` writes, every registry column its `phys` and
`add_lsn`, every uncompacted delta epoch its recorded size, and a
non-empty base lives in `_bucket=` dirs under a journaled
`base_max_lsn`. Every journal load goes through one reader that checks
this, so an older journal (a shape no current writer produces) raises
ValueError naming the table and the shape before any Spark job runs; a
base is checked with one listdir when compaction starts. Such a table
is not migrated: rebuild it by replaying its feed into a new path
(`job replay --binlog <feed> --table <new path>`) — the journal's
exactly-once guard makes that replay converge to the same state.
"""

from __future__ import annotations

import itertools
import json
import logging
import os
import shutil
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cdc_spark.plans.template import template
from cdc_spark.schema import APPLY_SCHEMA, SPARK_TYPE, WIDENINGS

BASE_FIELDS = [
    ("doc_id", T.StringType()),
    ("tokens", T.ArrayType(T.IntegerType())),
    ("n_tok", T.IntegerType()),
    ("source", T.StringType()),
]

_NEG_INF = -(10**18)

#: the keys of every journal entry (`create_if_absent` writes them all)
_ENTRY_KEYS = frozenset({
    "version", "kind", "registry", "base_version", "delta_epochs",
    "delta_refs", "delta_bytes", "applied_ddl", "epoch_floor",
    "epoch_watermark", "epochs", "epochs_applied", "epoch_stats", "buckets",
    "bucket_fn", "base_max_lsn", "snapshot_id",
})
#: the keys of every registry column (`apply_ddl` writes them all)
_COLUMN_KEYS = frozenset({"target", "source_key", "type", "add_lsn", "phys"})

_LOG = logging.getLogger(__name__)


def _remove(fn, path: str) -> None:
    """Cleanup after the commit point: the commit stands whatever
    happens here. A path already gone was taken by a concurrent remover;
    any other failure leaks the path, so it is logged, never swallowed."""
    try:
        fn(path)
    except FileNotFoundError:
        pass
    except OSError:
        _LOG.warning("%s: could not remove; it stays on disk", path, exc_info=True)


def journal_shape_error(entry: dict) -> str | None:
    """What makes `entry` a journal shape this engine does not read, or
    None when it is the one format `TargetTable` writes."""
    missing, extra = _ENTRY_KEYS - entry.keys(), entry.keys() - _ENTRY_KEYS
    if missing or extra:
        return ", ".join([*(f"no {k!r} key" for k in sorted(missing)),
                          *(f"unknown {k!r} key" for k in sorted(extra))])
    cols = [c.get("target") for c in entry["registry"] if not _COLUMN_KEYS <= c.keys()]
    if cols:
        return f"registry columns {cols} without all of {sorted(_COLUMN_KEYS)}"
    unsized = [e for e in entry["delta_epochs"] if str(e) not in entry["delta_bytes"]]
    if unsized:
        return f"delta epochs {unsized[:5]} without a recorded size"
    return None


def registry_key(registry: list[dict]) -> str:
    """The registry's fingerprint: the plan-template key of every
    projection that depends on it."""
    return json.dumps(registry, sort_keys=True)


def extra_value(c: dict) -> Column:
    """Registry column `c`'s value in an apply-event: the event's string
    map under the column's *source* key, cast to the (possibly widened)
    registry type and masked to events NEWER than the column's add-DDL
    lsn. That mask makes a projection TIME-INVARIANT: projecting the
    same events under any later registry yields the same values for the
    columns that registry names — which is what lets ref-deltas (stored
    as raw apply-events) defer projection to read/compaction time."""
    val = F.col("extra").getItem(c["source_key"]).cast(SPARK_TYPE[c["type"]])
    return F.when(F.col("lsn") > F.lit(c["add_lsn"]), val)


def _logical_columns(registry: list[dict]) -> list[Column]:
    """Phys table columns → logical target names, bookkeeping `last_lsn`
    last (`deleted` is the caller's)."""
    return [
        *(F.col(n) for n, _ in BASE_FIELDS),
        *(F.col(c["phys"]).alias(c["target"]) for c in registry),
        F.col("last_lsn"),
    ]


def project_to_table(events: DataFrame, registry: list[dict]) -> DataFrame:
    """Apply-events (APPLY_SCHEMA) → physical table columns under the
    given registry: each registry column under its STABLE `phys` name,
    valued by `extra_value`. Unregistered keys are ignored."""

    def build():
        return [*(F.col(n) for n, _ in BASE_FIELDS),
                *(extra_value(c).alias(c["phys"]) for c in registry),
                F.col("lsn").alias("last_lsn"), F.col("deleted")]

    return events.select(*template(("project_to_table", registry_key(registry)), build))


class TargetTable:
    """PK-addressed mutable table of pre-tokenized sequences (F2)."""

    def __init__(
        self,
        path: str,
        compact_every: int = 16,
        buckets: int = 32,
        resolve_join_max_bytes: int = 64 << 20,
        journal_keep: int = 64,
    ):
        self.path = path
        self.journal_dir = os.path.join(path, "_journal")
        self.compact_every = compact_every
        self.buckets = buckets
        #: journal versions retained past compaction (Iceberg
        #: expireSnapshots analogue). Without retention the journal dir
        #: grows one file per commit FOREVER and `state()` lists it every
        #: micro-batch — O(commits) driver cost at 10^10-event scale.
        #: 64 comfortably covers every reader of history:
        #: registry_before_ddl walks back at most one epoch's DDL count.
        self.journal_keep = journal_keep
        #: delta-volume ceiling for the broadcast-resolve fast path; above
        #: it the per-key winner set may not fit a broadcast, so resolution
        #: falls back to the full hash aggregate
        self.resolve_join_max_bytes = resolve_join_max_bytes

    # -- journal ------------------------------------------------------------

    def create_if_absent(self) -> None:
        os.makedirs(self.journal_dir, exist_ok=True)
        if not self._versions():
            self._commit(
                {
                    "version": 0,
                    "kind": "create",
                    "registry": [],
                    "base_version": 0,
                    "delta_epochs": [],
                    "delta_refs": {},
                    "delta_bytes": {},
                    "applied_ddl": [],
                    # applied epochs = [epoch_floor, epoch_watermark] plus
                    # the sparse `epochs` list; stats kept only for the
                    # sparse tail. Compaction folds the contiguous prefix
                    # into the watermark so journal entries stay O(deltas),
                    # not O(all epochs ever) — at 10^10-event scale the
                    # journal is parsed on every micro-batch. epoch_floor
                    # (min epoch ever applied) bounds the fold from below:
                    # without it a table whose feed starts at epoch N>0
                    # would treat every epoch < N as already-applied and
                    # silently no-op a late delivery of one.
                    "epoch_floor": None,
                    "epoch_watermark": _NEG_INF,
                    "epochs": [],
                    "epochs_applied": 0,
                    "epoch_stats": {},
                    # bucket layout spec (fixed at create; the mapping is
                    # persisted in directory names, so it must never change
                    # over the table's lifetime)
                    "buckets": self.buckets,
                    "bucket_fn": "pmod(xxhash64(doc_id), buckets)",
                    # max last_lsn folded into the base by compaction; the
                    # proof obligation of the broadcast-resolve fast path
                    "base_max_lsn": None,
                }
            )

    def _versions(self) -> list[int]:
        if not os.path.isdir(self.journal_dir):
            return []
        return sorted(
            int(f[1:9]) for f in os.listdir(self.journal_dir) if f.endswith(".json")
        )

    def _read(self, version: int) -> dict:
        """The one journal reader: every load of a journal entry comes
        through here and is refused unless it is the one format this
        module writes (`journal_shape_error`)."""
        with open(os.path.join(self.journal_dir, f"v{version:08d}.json")) as f:
            entry = json.load(f)
        shape = journal_shape_error(entry)
        if shape:
            raise self._refusal(f"journal v{version}", shape)
        return entry

    def _refusal(self, what: str, shape: str) -> ValueError:
        return ValueError(
            f"{self.path}: {what} is in a legacy journal format ({shape}); this "
            "engine reads only its current format — rebuild the table by "
            "replaying its feed into a new path"
        )

    def state(self) -> dict:
        vs = self._versions()
        if not vs:
            raise FileNotFoundError(f"no table at {self.path}; call create_if_absent")
        return self._read(vs[-1])

    def state_at(self, version: int) -> dict:
        """Journal entry for an EXACT historical version (Iceberg
        time-travel: `VERSION AS OF`). Raises ValueError when the
        version was never committed or has been expired by
        `_prune_journal`; a retained entry whose data dirs were since
        garbage-collected by compaction fails loudly downstream in
        `_require_dirs` (the expireSnapshots analogue — history is
        readable back to the last compaction)."""
        if not os.path.isfile(os.path.join(self.journal_dir, f"v{version:08d}.json")):
            vs = self._versions()
            have = f"{vs[0]}..{vs[-1]}" if vs else "none"
            raise ValueError(
                f"{self.path}: version {version} not in journal "
                f"(never committed, or expired); retained: {have}"
            )
        return self._read(version)

    def history(self) -> list[dict]:
        """One summary row per retained journal version, oldest first —
        the Iceberg `snapshots` metadata-table analogue (version, kind,
        epochs applied so far, uncompacted delta count, highest applied
        epoch, snapshot id)."""
        out = []
        for v in self._versions():
            e = self._read(v)
            out.append({
                "version": v,
                "kind": e["kind"],
                "epochs_applied": e["epochs_applied"],
                "n_delta_epochs": len(e["delta_epochs"]),
                "max_epoch": self.max_epoch(e),
                "snapshot_id": e["snapshot_id"],
            })
        return out

    def registry_before_ddl(self, ddl_id: str) -> list[dict]:
        """Registry as of just BEFORE `ddl_id` was applied (journal
        version walk). DDL-dependent captures need this to be
        redelivery-safe: fetch-mode drop purging reads the dropped
        column's source_key, but after a crash between the drop's
        journal commit and the epoch's delta commit, the LIVE registry
        has already removed the mapping — the prior journal entry still
        carries it. Cost: O(1) reads in the common case (the DDL is in
        the latest entries); the walk only runs for already-applied
        ddl_ids."""
        st = self.state()
        if ddl_id not in st["applied_ddl"]:
            return st["registry"]
        for v in reversed(self._versions()[:-1]):
            e = self._read(v)
            if ddl_id not in e["applied_ddl"]:
                return e["registry"]
        # v0 always has an empty applied_ddl, so falling through means
        # the pre-DDL entry was pruned — possible only if one in-flight
        # epoch applied more DDL events than the whole retention window
        # (journal_keep) before crashing; fail loudly over guessing
        raise RuntimeError(
            f"journal history pruned past {ddl_id!r}; raise journal_keep "
            "or re-create the table from the feed"
        )

    def _commit(self, entry: dict) -> dict:
        """Atomic commit point: write tmp + rename (POSIX atomic)."""
        entry["snapshot_id"] = uuid.uuid4().hex[:16]
        tmp = os.path.join(self.journal_dir, f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump(entry, f)
            f.flush()
            os.fsync(f.fileno())
        final = os.path.join(self.journal_dir, f"v{entry['version']:08d}.json")
        os.rename(tmp, final)
        return entry

    # -- epoch idempotency (exactly-once) ------------------------------------

    def has_epoch(self, epoch: int, state: dict | None = None) -> bool:
        floor, w, sparse = self.applied_epochs(state)
        return epoch in sparse or (floor is not None and floor <= epoch <= w)

    def applied_epochs(self, state: dict | None = None) -> tuple[int | None, int, set[int]]:
        """(floor, watermark, sparse): applied ⇔ floor <= e <= watermark
        or e in the sparse set."""
        st = state or self.state()
        return st["epoch_floor"], st["epoch_watermark"], set(st["epochs"])

    def max_epoch(self, state: dict | None = None) -> int | None:
        st = state or self.state()
        _, w, sparse = self.applied_epochs(st)
        if sparse:
            return max(sparse)
        return None if w <= _NEG_INF else w

    def epoch_stats(self, epoch: int) -> dict | None:
        """(n_events, min_lsn, max_lsn) recorded when the epoch committed —
        lets a redelivery be told apart from a PARTIAL delivery (an epoch
        split across micro-batches by a file-source trigger limit).
        Returns None for epochs folded below the compaction watermark."""
        return self.state()["epoch_stats"].get(str(epoch))

    # -- schema -------------------------------------------------------------

    def _fields(self, registry: list[dict] | None, name: str) -> T.StructType:
        reg = self.state()["registry"] if registry is None else registry
        return T.StructType([
            *(T.StructField(n, t) for n, t in BASE_FIELDS),
            *(T.StructField(c[name], SPARK_TYPE[c["type"]]) for c in reg),
            T.StructField("last_lsn", T.LongType()),
            T.StructField("deleted", T.BooleanType()),
        ])

    def schema(self, registry: list[dict] | None = None) -> T.StructType:
        """LOGICAL schema (target column names) + bookkeeping columns."""
        return self._fields(registry, "target")

    def phys_schema(self, registry: list[dict] | None = None) -> T.StructType:
        """PHYSICAL file-read schema: stable `phys` column names at the
        CURRENT (possibly widened) registry types. Files written before a
        widen hold the narrower parquet type; Spark 4's parquet readers
        upcast in place when handed the wider read schema, so a widen
        never needs a rewrite. Files written before an add lack the
        column entirely → nulls."""
        return self._fields(registry, "phys")

    # -- DDL (K2/K3: reference sink/CDCKudu.java:68-126 alter-before-DML) ----

    def apply_ddl(self, spark: SparkSession, kind: str, payload: str, ddl_id: str) -> None:
        """Apply one schema-evolution event transactionally — METADATA-ONLY.

        All four kinds commit a new journal entry and write zero data
        files (pinned by tests/test_schema_evolution.py): the registry's
        stable `phys` ids decouple logical names/types from the bytes on
        disk. rename flips `target`; widen flips `type` (read-side
        upcast); drop removes the mapping — a later re-add of the same
        name mints a fresh phys id, so pre-drop values can never leak
        into the re-added column (data loss on drop is reference
        behavior, CDCKudu.java:103-106, and ours starts re-adds from
        nulls). The reference's rename-as-drop+add *loses data*
        (CDCKudu.java:91-102, symmetric set diff); ours preserves it —
        deliberate, test-pinned divergence (SURVEY.md §7.3)."""
        # ddl_id = "epoch:lsn"; the lsn mints the add's phys id and mask
        try:
            lsn = int(ddl_id.rsplit(":", 1)[1])
        except (IndexError, ValueError):
            raise ValueError(f"ddl_id {ddl_id!r} has no integer lsn after its "
                             "last ':' (expected 'epoch:lsn')") from None
        st = self.state()
        if ddl_id in st["applied_ddl"]:
            return
        p = json.loads(payload)
        reg = [dict(c) for c in st["registry"]]
        if kind == "add_column":
            if p["type"] not in SPARK_TYPE:
                raise ValueError(f"unsupported column type {p['type']}")
            # add_lsn: only events newer than the add may supply values.
            # Without it, the two-phase DDL-before-DML barrier lets a
            # mid-epoch drop+re-add leak pre-drop values into the
            # re-added column (`extra_value` masks on it) — the
            # set-based equivalent of the reference's strict in-epoch
            # DDL/DML ordering (CTSQLServer.java:108-114).
            reg.append({
                "target": p["name"], "source_key": p["name"], "type": p["type"],
                "add_lsn": lsn,
                # stable physical id: unique because each DDL event owns a
                # unique lsn
                "phys": f"{p['name']}_x{lsn}",
            })
        elif kind == "rename_column":
            hit = [c for c in reg if c["target"] == p["from"]]
            if not hit:
                raise KeyError(f"rename: no column {p['from']}")
            hit[0]["target"] = p["to"]
        elif kind == "widen_column":
            hit = [c for c in reg if c["target"] == p["name"]]
            if not hit:
                raise KeyError(f"widen: no column {p['name']}")
            if (hit[0]["type"], p["to"]) not in WIDENINGS:
                raise ValueError(f"illegal widening {hit[0]['type']}→{p['to']}")
            hit[0]["type"] = p["to"]
        elif kind == "drop_column":
            hit = [c for c in reg if c["target"] == p["name"]]
            if not hit:
                raise KeyError(f"drop: no column {p['name']}")
            reg.remove(hit[0])
        else:
            raise ValueError(f"unknown ddl_kind {kind}")
        self._commit(
            {
                **st,
                "version": st["version"] + 1,
                "kind": "ddl",
                "registry": reg,
                "applied_ddl": st["applied_ddl"] + [ddl_id],
            }
        )

    # -- read (merge-on-read resolution) --------------------------------------

    def _base_dir(self, st: dict) -> str | None:
        if not st["base_version"]:
            return None
        d = os.path.join(self.path, "base", f"v{st['base_version']:08d}")
        return self._require_dirs([d], "base")[0]

    def _delta_dirs(self, st: dict) -> list[str]:
        paths = [
            os.path.join(self.path, "delta", f"epoch={e:08d}")
            for e in st["delta_epochs"]
            if str(e) not in st["delta_refs"]
        ]
        return self._require_dirs(paths, "delta")

    def _ref_dirs(self, st: dict) -> list[str]:
        return self._require_dirs(list(st["delta_refs"].values()), "ref-delta")

    def _require_dirs(self, paths: list[str], kind: str) -> list[str]:
        """Journal-referenced directories MUST exist: commit_delta always
        writes its dir (even for an empty epoch) and commit_delta_ref only
        references staged slices that existed at commit time. A missing
        path means committed data vanished (bad sweep, manual cleanup,
        partial restore) — silently skipping it would return state missing
        a committed epoch and the next compaction would fold that loss
        into the base permanently. Fail loudly instead."""
        missing = [p for p in paths if not os.path.isdir(p)]
        if missing:
            raise FileNotFoundError(
                f"{self.path}: journal references {len(missing)} {kind} "
                f"dir(s) that do not exist on disk — committed data is "
                f"missing: {missing[:5]}"
            )
        return paths

    def _data_paths(self, st: dict) -> list[str]:
        base = self._base_dir(st)
        return ([base] if base else []) + self._delta_dirs(st)

    def _base_bucketed(self, st: dict) -> bool:
        """True iff the base holds `_bucket=` dirs; False for no base or
        an empty one (no live rows). One listdir, run when
        compaction starts: data files outside `_bucket=` dirs, or bucket
        dirs under a null `base_max_lsn`, are a base this engine never
        writes and are refused before any Spark job."""
        base = self._base_dir(st)
        names = os.listdir(base) if base else []
        # Spark's own markers (_SUCCESS, .crc) start with "_" or "."
        loose = [n for n in names if not n.startswith(("_", "."))]
        if loose:
            raise self._refusal(f"base v{st['base_version']}",
                                f"data files outside _bucket= dirs: {loose[:3]}")
        bucketed = any(n.startswith("_bucket=") for n in names)
        if bucketed and st["base_max_lsn"] is None:
            raise self._refusal(f"base v{st['base_version']}",
                                "bucketed base without base_max_lsn")
        return bucketed

    def _bucket_col(self, st: dict) -> F.Column:
        return F.pmod(F.xxhash64(F.col("doc_id")), F.lit(st["buckets"])).cast("int")

    def read_base(self, spark: SparkSession, st: dict, keep_bucket: bool = False) -> DataFrame | None:
        base = self._base_dir(st)
        if base is None:
            return None
        df = spark.read.schema(self.phys_schema(st["registry"])).parquet(base)
        # the _bucket partition column auto-appends on a non-empty base
        if "_bucket" in df.columns and not keep_bucket:
            df = df.drop("_bucket")
        return df

    def read_deltas(self, spark: SparkSession, st: dict) -> DataFrame | None:
        """All uncompacted delta rows in PHYS-column form.

        Two storage kinds union here: owned delta dirs (phys columns,
        written by commit_delta) and REF deltas (raw apply-events in a
        shared multi-table staging dir, committed journal-only by
        commit_delta_ref) — the latter are projected to phys columns on
        read, which project_to_table's add-lsn masking makes equivalent
        to having projected them at commit time."""
        parts = []
        paths = self._delta_dirs(st)
        if paths:
            parts.append(
                spark.read.schema(self.phys_schema(st["registry"])).parquet(*paths)
            )
        refs = self._ref_dirs(st)
        if refs:
            events = spark.read.schema(APPLY_SCHEMA).parquet(*refs)
            parts.append(project_to_table(events, st["registry"]))
        if not parts:
            return None
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    @staticmethod
    def _dir_bytes(path: str) -> int:
        total = 0
        for root, _dirs, files in os.walk(path):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        return total

    def _fast_resolve_ok(self, st: dict) -> bool:
        """The broadcast fast path is sound iff the journal PROVES every
        delta row's lsn exceeds every base row's lsn (then a delta winner
        unconditionally supersedes its base row). Steady-state streaming
        always satisfies this; a late epoch delivered below the
        compaction watermark or an epoch committed without stats falls
        back to the full aggregate. The delta volume comes from the sizes
        the writer recorded at commit: a per-read filesystem walk would
        be an object-store LIST per query at scale."""
        if not st["delta_epochs"]:
            return True
        if st["base_version"]:
            base_max = st["base_max_lsn"]
            if base_max is None:
                return False
            for e in st["delta_epochs"]:
                s = st["epoch_stats"].get(str(e))
                if not s or s.get("min_lsn") is None or s["min_lsn"] <= base_max:
                    return False
        size = sum(st["delta_bytes"][str(e)] for e in st["delta_epochs"])
        return size <= self.resolve_join_max_bytes

    @staticmethod
    def _lww(df: DataFrame) -> DataFrame:
        """One hash aggregate (max_by over (last_lsn, deleted)) — map-side
        partial aggregation keeps hot doc_ids from skewing the shuffle."""
        cols = tuple(c for c in df.columns if c != "doc_id")

        def build():
            won = F.max_by(F.struct(*map(F.col, cols)), F.struct("last_lsn", "deleted"))
            return (F.col("doc_id"), won.alias("_r"),
                    [F.col("doc_id"), *(F.col("_r").getField(c).alias(c) for c in cols)])

        key, agg, out = template(("target._lww", cols), build)
        return df.groupBy(key).agg(agg).select(*out)

    def _to_logical(self, df: DataFrame, registry: list[dict]) -> DataFrame:
        """phys column names → logical target names (live rows only)."""

        def build():
            return ~F.col("deleted"), _logical_columns(registry)

        live, sel = template(("target._to_logical", registry_key(registry)), build)
        return df.filter(live).select(*sel)

    def read_resolved(
        self, spark: SparkSession, state: dict | None = None,
        version: int | None = None,
    ) -> DataFrame:
        """Current table contents: LWW-resolved, tombstones dropped.
        `version` time-travels: the read plans against that journal
        entry's base/delta refs and registry (`state_at`), so a past
        epoch's exact table state — schema included — reproduces as
        long as compaction hasn't garbage-collected its files.

        Fast path (steady state, `_fast_resolve_ok`): the base — one row
        per key by construction, it IS a resolved snapshot — streams
        through a broadcast LeftAnti join against the delta winners' keys
        with NO exchange; only the (small) delta set pays a shuffle for
        its per-key max_by. This is the plan that survives 100 TB: the
        full-table exchange of the naive groupBy never happens.
        Fallback: one hash aggregate over base ∪ deltas."""
        if version is not None:
            if state is not None:
                raise ValueError("pass state= or version=, not both")
            state = self.state_at(version)
        st = state or self.state()
        base = self.read_base(spark, st)
        deltas = self.read_deltas(spark, st)
        if base is None and deltas is None:
            return spark.createDataFrame([], self.schema(st["registry"])).drop("deleted")
        if deltas is None:
            resolved = base  # base is already one-row-per-key, tombstone-free
        elif base is None:
            resolved = self._lww(deltas)
        elif self._fast_resolve_ok(st):
            winners = self._lww(deltas)
            key = template("doc_id", lambda: F.col("doc_id"))
            kept = base.join(F.broadcast(winners.select(key)), "doc_id", "left_anti")
            resolved = kept.unionByName(winners)
        else:
            resolved = self._lww(base.unionByName(deltas))
        return self._to_logical(resolved, st["registry"])

    def read_changes_between(
        self, spark: SparkSession, v_from: int, v_to: int | None = None,
    ) -> DataFrame:
        """Incremental changelog scan (Iceberg incremental read): every
        apply-row committed AFTER version `v_from`, up to `v_to`
        (default: latest) — upserts AND delete tombstones, in the
        CURRENT logical schema, tagged `_change_type` ('upsert' |
        'delete') and `_epoch`. This makes the engine a CDC *source*
        for downstream consumers: its own output re-feeds as a change
        stream keyed identically to the input feed.

        Scale shape: the scan reads ONLY the named epochs' delta dirs
        (no base, no resolve — O(changed rows), never O(table)).
        Epochs whose delta dirs compaction already consumed fail
        loudly — an incremental read must never silently return a
        partial changelog (Iceberg likewise refuses to span expired
        snapshots)."""
        st_from = self.state_at(v_from)
        st_to = self.state() if v_to is None else self.state_at(v_to)
        if st_to["version"] < st_from["version"]:
            raise ValueError(
                f"v_to {st_to['version']} precedes v_from {st_from['version']}"
            )
        # applied(st) is [floor, watermark] ∪ sparse (compaction folds
        # the contiguous prefix into the watermark and consumes those
        # epochs' delta dirs). New epochs still in the sparse set have
        # readable dirs; new epochs already folded are exactly the ones
        # compaction destroyed — fail loudly, never return a partial
        # changelog. O(epochs between the versions) driver work.
        f_from, w_from, s_from = self.applied_epochs(st_from)
        f_to, w_to, s_to = self.applied_epochs(st_to)

        def _applied_from(e: int) -> bool:
            return (
                f_from is not None and f_from <= e <= w_from
            ) or e in s_from

        new_eps = sorted(e for e in s_to if not _applied_from(e))
        if f_to is not None:
            # folded = [f_to, w_to] - [f_from, w_from] - s_from as
            # intervals: count the span, never walk it (it covers every
            # epoch compaction ever folded)
            spans = [(f_to, w_to)]
            if f_from is not None and f_from <= w_from:
                spans = [(f_to, min(w_to, f_from - 1)), (max(f_to, w_from + 1), w_to)]
            spans = [(a, b) for a, b in spans if a <= b]
            n_folded = sum(b - a + 1 - sum(a <= e <= b for e in s_from) for a, b in spans)
            if n_folded:
                first = list(itertools.islice(
                    (e for a, b in spans for e in range(a, b + 1) if e not in s_from), 5))
                raise FileNotFoundError(
                    f"{self.path}: incremental read {v_from}->"
                    f"{st_to['version']} spans {n_folded} epoch(s) "
                    f"already consumed by compaction (folded into the "
                    f"watermark): {first}; the changelog is readable "
                    f"back to the last compaction"
                )
        reg = st_to["registry"]
        phys = self.phys_schema(reg)
        parts, missing = [], []
        for e in new_eps:
            ref = st_to["delta_refs"].get(str(e))
            d = ref or os.path.join(self.path, "delta", f"epoch={e:08d}")
            if not os.path.isdir(d):
                missing.append((e, d))
                continue
            if ref:
                ev = spark.read.schema(APPLY_SCHEMA).parquet(d)
                p = project_to_table(ev, reg)
            else:
                p = spark.read.schema(phys).parquet(d)
            parts.append(p.withColumn("_epoch", F.lit(int(e)).cast("long")))
        if missing:
            raise FileNotFoundError(
                f"{self.path}: incremental read {v_from}->{st_to['version']} "
                f"needs {len(missing)} epoch delta dir(s) already consumed "
                f"by compaction: {missing[:5]}; the changelog is readable "
                f"back to the last compaction"
            )
        if not parts:
            out = spark.createDataFrame([], phys).withColumn(
                "_epoch", F.lit(None).cast("long")
            )
        else:
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
        change = F.when(F.col("deleted"), F.lit("delete")).otherwise(F.lit("upsert"))
        return out.select(*_logical_columns(reg), change.alias("_change_type"), F.col("_epoch"))

    # -- write ----------------------------------------------------------------

    def commit_delta(
        self, df: DataFrame, epoch: int, stats: dict | None = None,
        pre_partitioned: bool = False,
    ) -> dict | None:
        """Append one micro-batch's deduped apply-rows; idempotent per epoch.

        df columns must match self.phys_schema() (lsn already renamed
        last_lsn). `stats` ({n_events, min_lsn, max_lsn} of the raw batch)
        is stored for redelivery-vs-partial-delivery detection — and it
        feeds the resolve fast path's lsn-monotonicity proof; a CALLABLE
        stats is invoked after the data write but before the journal
        commit — the hook for Observation-folded metrics (and their
        guards): a raise there aborts the commit with only an
        unjournaled, overwrite-safe delta dir left behind.
        `pre_partitioned=True` skips the write-side repartition when the
        caller's plan already hash-partitions by doc_id (the LWW dedupe
        aggregate does) — one less shuffle per micro-batch. Returns the
        journal entry, or None if the epoch was already applied
        (exactly-once re-delivery guard)."""
        st = self.state()
        if self.has_epoch(epoch, st):
            return None
        outdir = os.path.join(self.path, "delta", f"epoch={epoch:08d}")
        if not pre_partitioned:
            df = df.repartition(st["buckets"], F.col("doc_id"))
        df.write.mode("overwrite").parquet(outdir)
        if callable(stats):
            stats = stats()
        return self._commit_epoch(df.sparkSession, st, epoch, outdir, stats)

    def commit_delta_ref(
        self, spark: SparkSession, epoch: int, ref_path: str, stats: dict | None = None,
    ) -> dict | None:
        """Commit one epoch by REFERENCE to an already-written directory
        of raw apply-events (APPLY_SCHEMA parquet) — a journal-only
        commit that runs ZERO Spark jobs.

        This is how the multi-table router gets jobs-per-epoch
        independent of table count: one staged write holds every table's
        winners partitioned by table, and each table's journal points at
        its own partition slice. The referenced dir must be immutable
        until compaction consumes it (the router's sweep deletes a
        staged epoch only once no table references it)."""
        st = self.state()
        if self.has_epoch(epoch, st):
            return None
        return self._commit_epoch(spark, st, epoch, ref_path, stats, ref=True)

    def _commit_epoch(self, spark: SparkSession, st: dict, epoch: int, data_dir: str,
                      stats: dict | None, ref: bool = False) -> dict:
        """Journal one epoch whose apply-rows sit in `data_dir` (its own
        delta dir, or a referenced staged slice when `ref`), then run the
        inline compaction tick once enough deltas piled up."""
        refs = {"delta_refs": {**st["delta_refs"], str(epoch): data_dir}}
        floor = st["epoch_floor"]
        entry = self._commit(
            {
                **st,
                "version": st["version"] + 1,
                "kind": "delta",
                "delta_epochs": st["delta_epochs"] + [epoch],
                **(refs if ref else {}),
                # measured ONCE here by the writer; read_resolved's
                # fast-path volume check reads the journal instead of
                # walking the filesystem per read
                "delta_bytes": {**st["delta_bytes"], str(epoch): self._dir_bytes(data_dir)},
                "epoch_floor": epoch if floor is None else min(floor, epoch),
                "epochs": sorted(set(st["epochs"]) | {epoch}),
                "epochs_applied": st["epochs_applied"] + 1,
                "epoch_stats": {**st["epoch_stats"],
                                **({str(epoch): stats} if stats else {})},
            }
        )
        if len(entry["delta_epochs"]) >= self.compact_every:
            entry = self._compact_to(spark, entry)
        return entry

    # -- compaction ------------------------------------------------------------

    def _compact_to(self, spark: SparkSession, st: dict) -> dict:
        """Consume deltas into a new base version — DIRTY BUCKETS ONLY.

        The base is parquet-partitioned by `_bucket=pmod(xxhash64(doc_id),
        buckets)`. Buckets with no delta rows are carried into the new
        base version as hard links (a metadata op — the local-FS analogue
        of Iceberg manifest reuse); only dirty buckets pay the
        resolve-and-rewrite. The rewrite runs under the CURRENT registry's
        phys schema, so stale phys columns (from drops) and narrow types
        (from widens) are physically normalized away bucket-by-bucket as
        buckets get dirty — never as a synchronous whole-table job. An
        empty base (every row deleted) contributes nothing."""
        bucketed = self._base_bucketed(st)
        deltas = self.read_deltas(spark, st)
        if deltas is None and bucketed:
            return st  # nothing to consume

        bcol = self._bucket_col(st)
        parts, delta_max = [], None
        if deltas is not None:
            agg = deltas.groupBy(bcol.alias("_b")).agg(F.max("last_lsn").alias("m")).collect()
            dirty = sorted(r["_b"] for r in agg)
            delta_max = max((r["m"] for r in agg), default=None)
            if bucketed:
                base = self.read_base(spark, st, keep_bucket=True)
                parts.append(base.filter(F.col("_bucket").isin(dirty)).drop("_bucket"))
            parts.append(deltas)
        new_base = st["version"] + 1
        outdir = os.path.join(self.path, "base", f"v{new_base:08d}")
        if parts:
            merged = parts[0]
            for p in parts[1:]:
                merged = merged.unionByName(p)
            resolved = self._lww(merged).filter(~F.col("deleted"))
            out = (
                resolved.withColumn("deleted", F.lit(False))
                .select(self.phys_schema(st["registry"]).fieldNames())
                .withColumn("_bucket", bcol)
            )
            # ~1 write task per dirty bucket → bounded files per bucket
            out.repartition(st["buckets"], F.col("_bucket")).write.mode(
                "overwrite"
            ).partitionBy("_bucket").parquet(outdir)
        else:
            os.makedirs(outdir, exist_ok=True)
        if bucketed:
            self._link_clean_buckets(self._base_dir(st), outdir, exclude=set(dirty))
        # every row of the new base came from the old base (bounded by
        # its base_max_lsn) or from the deltas
        new_max = max((v for v in (st["base_max_lsn"], delta_max) if v is not None),
                      default=None)

        # fold the contiguous applied prefix into the watermark so the
        # epochs list + stats stay O(epochs-since-last-gap), not O(all);
        # the fold starts at epoch_floor, never below it (a feed starting
        # at epoch N>0 must not mark epochs < N applied)
        floor, w, sparse = self.applied_epochs(st)
        if floor is not None:
            w = max(w, floor - 1)
        sparse = sorted(sparse)
        while sparse and sparse[0] <= w + 1:
            w = max(w, sparse.pop(0))
        entry = self._commit(
            {
                **st,
                "version": new_base,
                "kind": "compact",
                "base_version": new_base,
                "delta_epochs": [],
                "delta_refs": {},
                "delta_bytes": {},
                "base_max_lsn": new_max,
                "epoch_watermark": w,
                "epochs": sparse,
                "epoch_stats": {
                    k: v for k, v in st["epoch_stats"].items() if int(k) in set(sparse)
                },
            }
        )
        self._gc(entry)
        self._prune_journal()
        return entry

    @staticmethod
    def _link_clean_buckets(old_dir: str, new_dir: str, exclude: set[int]) -> None:
        """Carry clean buckets into the new base version as hard links
        (fallback: copy). The subsequent GC of the old version only
        unlinks names; the inodes stay live under the new version."""
        for child in os.listdir(old_dir):
            if not child.startswith("_bucket="):
                continue
            if int(child.split("=", 1)[1]) in exclude:
                continue
            src = os.path.join(old_dir, child)
            dst = os.path.join(new_dir, child)
            os.makedirs(dst, exist_ok=True)
            for f in os.listdir(src):
                if not os.path.isfile(os.path.join(src, f)):
                    continue
                try:
                    os.link(os.path.join(src, f), os.path.join(dst, f))
                except OSError:
                    shutil.copy2(os.path.join(src, f), os.path.join(dst, f))

    def compact(self, spark: SparkSession) -> dict:
        """Compaction outside the commit path — the maintenance entry
        point (the inline tick runs the same `_compact_to`)."""
        return self._compact_to(spark, self.state())

    def _prune_journal(self) -> None:
        """Expire journal entries older than the newest `journal_keep`
        versions (Iceberg expireSnapshots). Runs only at compaction —
        the steady-state commit path never pays the extra listdir. Only
        the LATEST entry is load-bearing for recovery (the journal
        rename is the commit point); history exists solely for
        registry_before_ddl's bounded walk and debugging."""
        if self.journal_keep <= 0:
            return
        vs = self._versions()
        for v in vs[: max(0, len(vs) - self.journal_keep)]:
            _remove(os.remove, os.path.join(self.journal_dir, f"v{v:08d}.json"))

    def _gc(self, st: dict) -> None:
        """Drop data dirs no longer reachable from the latest commit."""
        live = {os.path.abspath(p) for p in self._data_paths(st)}
        for sub in ("base", "delta"):
            d = os.path.join(self.path, sub)
            if not os.path.isdir(d):
                continue
            for child in os.listdir(d):
                p = os.path.abspath(os.path.join(d, child))
                if p not in live:
                    _remove(shutil.rmtree, p)


class TableRouter:
    """Per-table TargetTables under one root — the multi-table sink.

    The reference discovers and processes every CT-enabled table per
    batch (source/sqlserver/CTInputDStream.java:65-99, per-table schema
    state CTSQLServer.java:154-172). Here each routed table owns its own
    journal/registry/data tree at ``root/tables/<name>/`` — schema
    evolution, exactly-once epochs and compaction are all per-table, so
    a crash between two tables' commits resumes cleanly (the committed
    table no-ops, the other applies)."""

    def __init__(self, root: str, compact_every: int = 16, buckets: int = 32):
        self.root = root
        self.compact_every = compact_every
        self.buckets = buckets
        self._tables: dict[str, TargetTable] = {}

    @staticmethod
    def _safe(name: str) -> str:
        out = "".join(c if (c.isalnum() or c in "._-") else "_" for c in name)
        if not out or out.startswith("."):
            raise ValueError(f"unroutable table name {name!r}")
        if out != name:
            # sanitization can collide ("a/b" vs "a_b") — disambiguate
            # with a stable suffix derived from the original name
            import hashlib

            out += "-" + hashlib.md5(name.encode()).hexdigest()[:8]
        return out

    def path_of(self, name: str) -> str:
        return os.path.join(self.root, "tables", self._safe(name))

    def exists(self, name: str) -> bool:
        """True iff the routed table already has an on-disk journal —
        WITHOUT creating one (verification must not mutate its target)."""
        return os.path.isdir(os.path.join(self.path_of(name), "_journal"))

    def get(self, name: str) -> TargetTable:
        """TargetTable for a routed table name (created on first touch —
        the reference's create-if-absent per table, CDCKudu.java:68-126)."""
        t = self._tables.get(name)
        if t is None:
            path = self.path_of(name)
            t = TargetTable(path, compact_every=self.compact_every, buckets=self.buckets)
            t.create_if_absent()
            marker = os.path.join(path, "_table_name")
            if not os.path.isfile(marker):
                with open(marker, "w") as f:
                    f.write(name)
            self._tables[name] = t
        return t

    def names(self) -> list[str]:
        """Routed (raw) table names present on disk — read from each
        table dir's _table_name marker so sanitized directory names never
        leak into (or double-count against) the raw namespace."""
        d = os.path.join(self.root, "tables")
        found = set()
        for child in os.listdir(d) if os.path.isdir(d) else []:
            marker = os.path.join(d, child, "_table_name")
            if os.path.isfile(marker):
                with open(marker) as f:
                    found.add(f.read())
            else:
                found.add(child)  # pre-marker table dir: name == dir
        return sorted(found | set(self._tables))
