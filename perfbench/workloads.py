"""The four benchmark workloads and the traced per-layer run.

Every workload drives the engine only through its public entry points
(`replay`, `replay_multi`, `stream`, `TargetTable` reads) from one
process, on `local[nproc]`. Each run:

1. sets up: generates its feed from the seed, starts the Spark session
   and makes one full-size untimed pass, so the JIT and the Python
   workers are warm before timing (setup_s);
2. measures for `--seconds` seconds;
3. checks every timed table against the oracle digest.

NOTES.md says why each workload exists and what each metric means.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
import threading
import time
from dataclasses import dataclass, field

from eventlog import FIELDS
from stats import dir_bytes, median, percentile
from tracing import Recorder, epoch_of_paths, overlap, self_times

#: multi_route's tables, and the DDL schedule touching three of them
MULTI_TABLES = ("shop.orders", "shop.items", "crm.users", "crm.events")
MULTI_DDL = (
    (0.15, "add_column", {"name": "quality", "type": "float"}, 0),
    (0.30, "add_column", {"name": "rating", "type": "int"}, 1),
    (0.50, "rename_column", {"from": "quality", "to": "quality_score"}, 0),
    (0.70, "add_column", {"name": "tier", "type": "string"}, 2),
    (0.85, "widen_column", {"name": "rating", "to": "long"}, 1),
)
#: the default schedule's four DDL kinds, all in the first of fetch_keys'
#: two epochs: half the epochs take the strictly ordered DDL path and the
#: other half is prefetched (the default fractions put DDL in every
#: epoch of a feed shorter than five epochs, so nothing would prefetch)
FETCH_DDL = (
    (0.10, "add_column", {"name": "quality", "type": "float"}),
    (0.20, "add_column", {"name": "rating", "type": "int"}),
    (0.30, "rename_column", {"from": "quality", "to": "quality_score"}),
    (0.40, "widen_column", {"name": "rating", "to": "long"}),
)


#: timed passes at least, however short `--seconds` is; the pass rate
#: reported is their median
MIN_PASSES = 3
#: no timed pass starts after this many seconds of the run, however few
#: have run. On a normal host the third pass starts by ~45 s; in the
#: host's slow phases (1.5-5x) the cap keeps a run near a minute, so a
#: comparison's 20-odd runs per workload keep to their time budget
RUN_BUDGET_S = 55


@dataclass(frozen=True)
class ClosedSpec:
    """A closed-loop replay workload: each pass replays the whole feed
    into a fresh table, the next pass starting when the last ends."""

    events: int
    docs: int
    epoch_events: int
    parts: int
    images: str = "carry"  # "carry" | "fetch"
    multi: bool = False
    compact_every: int = 16
    ddl_schedule: tuple | None = None  # None: genlog's default (or MULTI_DDL)
    #: untimed passes before timing. A fresh JVM keeps speeding up for
    #: about four passes (a 24,000-event carry feed: 15, 5.2, 4.4, 3.7,
    #: 3.5 s), but each run also pays an ~8 s session start and must stay
    #: short enough to survive the host's slow phases, so carry makes one
    #: and the median of three timed passes reads the second. The fetch
    #: chain's timed passes still varied 5.3-8.5 s after one, so it makes two.
    warm_passes: int = 1


@dataclass(frozen=True)
class TrickleSpec:
    """Open-loop arrivals into one long-running stream. Warm segments
    arrive at once before timing; there are at least `min_warm`, and
    enough that warm plus timed epochs reach the table's `compact_every`
    deltas, so an inline compaction tick lands in the timed window."""

    segment_events: int
    docs: int
    min_warm: int
    interval_s: float


SPECS = {
    # the tick folds epochs 0-1; epoch 2 keeps the changelog read non-empty
    "carry_bulk": ClosedSpec(events=18_000, docs=1_800, epoch_events=6_000, parts=4,
                             compact_every=2),
    "fetch_keys": ClosedSpec(events=8_000, docs=800, epoch_events=4_000, parts=4,
                             images="fetch", ddl_schedule=FETCH_DDL, warm_passes=2),
    "multi_route": ClosedSpec(events=20_000, docs=2_000, epoch_events=5_000, parts=4,
                              multi=True),
    "trickle_rw": TrickleSpec(segment_events=1_000, docs=4_000, min_warm=4,
                              interval_s=1.5),
}

#: end-to-end metric → unit, reported by every workload
END_TO_END = {
    "setup_s": "s",
    "events_per_s": "events/s",
    "ok_frac": "ratio",
    "table_mb": "MB",
}


#: span buckets that executor time is attributed to
SPARK_BUCKETS = ("apply_batch", "apply_batch_multi", "stage_epoch", "commit_delta",
                 "commit_delta_ref", "prepare_fetch_epoch", "build_fetch_delta",
                 "fetch_delta", "reader", "unattributed")

PER_LAYER = {
    "traced.events_per_s": "events/s",
    "traced.freshness_s_p50": "s",
    "pipeline.epochs": "count",
    "pipeline.epoch_s_p50": "s",
    "pipeline.epoch_s_p90": "s",
    "pipeline.prefetch_overlap_frac": "ratio",
    "pipeline.backlog_epochs_max": "count",
    "pipeline.driver_other_s": "s",
    "pipeline.span_cover_frac": "ratio",
    "pipeline.stage_epoch_s": "s",
    "gen.late_s_max": "s",
    "target.state_calls_per_epoch": "count",
    "target.state_s_per_epoch": "s",
    "target.commit_delta_s_p50": "s",
    "target.compact_tick_s": "s",
    "target.compact_ticks": "count",
    "target.apply_ddl_s": "s",
    "target.commit_delta_ref_s": "s",
    "target.read_resolved_s_p50": "s",
    "target.read_changes_between_s_p50": "s",
    "target.changelog_refusals": "count",
    "target.delta_mb_per_epoch": "MB",
    "target.journal_files": "count",
    "fetch.prepare_s_p50": "s",
    "fetch.fallback_epochs": "count",
    "fetch.fetch_delta_s": "s",
    "fetch.build_fetch_delta_s": "s",
    "fetch.python_sent_mb": "MB",
    "fetch.python_recv_mb": "MB",
    "binlog.read_changes_s": "s",
    "binlog.read_changes_calls": "count",
    "normalize.plan_s": "s",
    "normalize.calls": "count",
    "dedupe.plan_s": "s",
    "dedupe.calls": "count",
    "spark.jobs_per_epoch": "count",
    "spark.unattributed_jobs_per_epoch": "count",
    "spark.tasks_per_epoch": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.spill_mb": "MB",
    "spark.shuffle_write_mb_per_epoch": "MB",
    "spark.shuffle_read_mb_per_epoch": "MB",
    **{f"spark.executor_run_s.{b}": "s" for b in SPARK_BUCKETS},
}

_MB = 1 << 20


# ---------------------------------------------------------------------------
# run context
# ---------------------------------------------------------------------------

@dataclass
class Ctx:
    name: str
    seed: int
    seconds: float
    trace: bool
    work: str
    nproc: int
    spark: object = None
    rec: Recorder | None = None
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    info: dict = field(default_factory=dict)
    started: float = field(default_factory=time.monotonic)

    def op(self, ok: bool, what: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if what:
                self.errors.append(what)


def start_session(ctx: Ctx) -> None:
    from cdc_spark.session import get_spark

    conf = {"spark.ui.showConsoleProgress": "false"}
    if ctx.trace:
        evdir = os.path.join(ctx.work, "eventlog")
        os.makedirs(evdir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + evdir,
            "spark.eventLog.compress": "false",
        })
    ctx.spark = get_spark(app=f"perfbench-{ctx.name}", master=f"local[{ctx.nproc}]",
                          shuffle_partitions=ctx.nproc, extra_conf=conf)
    ctx.spark.sparkContext.setLogLevel("ERROR")


def host_calibration(spark, nproc: int) -> dict:
    """bench.py's pure-CPU probe (xxhash64 over a range, no IO or
    shuffle): second of two runs, in seconds."""
    from pyspark.sql import functions as F

    rows = 400_000_000
    q = spark.range(0, rows, 1, nproc * 2).select(
        F.max(F.xxhash64("id", F.col("id") + 1, F.col("id") * 3)))
    q.collect()
    t0 = time.perf_counter()
    q.collect()
    return {"probe": "max(xxhash64(id,id+1,id*3))", "rows": rows,
            "seconds": time.perf_counter() - t0}


class Oracle:
    """Oracle digest of a feed, cached per generator config (seed
    included) and computed in a child process so it overlaps the session
    start."""

    def __init__(self, ctx: Ctx, feed: str, images: str, cfg) -> None:
        cache = os.path.join(os.path.dirname(ctx.work), "oracle_cache")
        os.makedirs(cache, exist_ok=True)
        key = hashlib.sha1(json.dumps([repr(cfg), images]).encode()).hexdigest()[:12]
        self.path = os.path.join(cache, f"{ctx.name}-{ctx.seed}-{key}.json")
        self.proc = None
        if not os.path.isfile(self.path):
            script = os.path.join(os.path.dirname(os.path.abspath(__file__)), "digest.py")
            self.proc = subprocess.Popen([sys.executable, script, feed, images, self.path],
                                         stdout=subprocess.DEVNULL)

    def result(self) -> dict:
        if self.proc is not None:
            if self.proc.wait() != 0:
                raise RuntimeError(f"oracle digest exited with {self.proc.returncode}")
            self.proc = None
        with open(self.path) as f:
            return json.load(f)

    def close(self) -> None:
        if self.proc is not None:
            self.proc.kill()
            self.proc.wait()


# ---------------------------------------------------------------------------
# journal observation (raw files: the harness must not show up in spans)
# ---------------------------------------------------------------------------

def journal(table_path: str) -> list[tuple[int, float, dict]]:
    """(version, commit wall time, entry) of every retained version."""
    jd = os.path.join(table_path, "_journal")
    out = []
    for f in sorted(os.listdir(jd)) if os.path.isdir(jd) else []:
        if not (f.startswith("v") and f.endswith(".json")):
            continue
        p = os.path.join(jd, f)
        try:
            mtime = os.stat(p).st_mtime_ns / 1e9
            with open(p) as fh:
                out.append((int(f[1:9]), mtime, json.load(fh)))
        except FileNotFoundError:
            continue  # pruned by a compaction between listdir and open
    return out


def _applied(entry: dict) -> set[int]:
    eps = set(entry.get("epochs") or [])
    floor, wm = entry.get("epoch_floor"), entry.get("epoch_watermark")
    if floor is not None and wm is not None and wm >= floor:
        eps |= set(range(floor, wm + 1))
    return eps


def visible_times(table_paths: list[str]) -> dict[int, float]:
    """epoch → wall time its first journal version became the head
    (for several tables: once every table that has it shows it)."""
    per_table = []
    for tp in table_paths:
        seen: dict[int, float] = {}
        for _v, mtime, entry in journal(tp):
            for e in _applied(entry):
                seen.setdefault(e, mtime)
        per_table.append(seen)
    out: dict[int, float] = {}
    for seen in per_table:
        for e, t in seen.items():
            out[e] = max(out.get(e, t), t)
    return out


def delta_mb_per_epoch(table_paths: list[str]) -> float:
    sizes: dict[tuple[str, str], int] = {}
    for tp in table_paths:
        for _v, _m, entry in journal(tp):
            for e, b in (entry.get("delta_bytes") or {}).items():
                sizes[(tp, e)] = b
    return (sum(sizes.values()) / len(sizes) / _MB) if sizes else 0.0


def journal_files(table_paths: list[str]) -> int:
    return sum(len(os.listdir(os.path.join(tp, "_journal"))) for tp in table_paths
               if os.path.isdir(os.path.join(tp, "_journal")))


# ---------------------------------------------------------------------------
# tracing: which engine names get wrapped
# ---------------------------------------------------------------------------

def install_trace(rec: Recorder) -> None:
    from cdc_spark.operators import fetch
    from cdc_spark.sinks.target import TableRouter, TargetTable
    from cdc_spark.streaming import pipeline

    def kind_of(span, _a, _k, out):
        if isinstance(out, dict):
            span["kind"] = out.get("kind")

    def note_segment_epoch(span, args, kwargs, _out):
        e = epoch_of_paths(kwargs.get("path", args[1] if len(args) > 1 else None))
        span["epoch"] = e
        rec.note_epoch(e)

    rec.patch(pipeline, "apply_batch", "pipeline.apply_batch", jobs=True, epoch_arg=3,
              on_result=lambda s, a, k, out: s.update(
                  prefetched=k.get("prepared") is not None
                  and not k["prepared"].get("fallback")))
    rec.patch(pipeline, "apply_batch_multi", "pipeline.apply_batch_multi", jobs=True,
              epoch_arg=3)
    rec.patch(pipeline, "normalize", "normalize.normalize")
    rec.patch(pipeline, "lww_dedupe", "dedupe.lww_dedupe")
    rec.patch(pipeline, "read_changes", "binlog.read_changes", on_result=note_segment_epoch)
    # private, but the only frame around the multi-table staging write
    # that replay_multi's prestage thread runs
    rec.patch(pipeline, "_stage_epoch_winners", "pipeline.stage_epoch", jobs=True)
    rec.patch(pipeline, "_stage_epoch_fetch_events", "pipeline.stage_epoch", jobs=True)
    rec.patch(fetch, "prepare_fetch_epoch", "fetch.prepare_fetch_epoch", jobs=True)
    rec.patch(fetch, "fetch_delta", "fetch.fetch_delta", jobs=True)
    rec.patch(fetch, "build_fetch_delta", "fetch.build_fetch_delta", jobs=True)
    jobful = {"commit_delta", "commit_delta_ref", "compact"}
    for attr in sorted(vars(TargetTable)):
        if attr.startswith("_") or not callable(getattr(TargetTable, attr)):
            continue
        if isinstance(vars(TargetTable)[attr], staticmethod):
            continue
        rec.patch(TargetTable, attr, f"target.{attr}", jobs=attr in jobful,
                  epoch_arg=2 if attr in ("commit_delta", "commit_delta_ref") else None,
                  on_result=kind_of if attr in ("commit_delta", "commit_delta_ref") else None)
    for attr in ("get", "names"):
        rec.patch(TableRouter, attr, f"router.{attr}")


def _bucket(name: str | None) -> str:
    if name is None:
        return "unattributed"
    if name.startswith("reader."):
        return "reader"
    short = name.split(".", 1)[-1]
    return short if short in SPARK_BUCKETS else "unattributed"


def layer_metrics(spans: list[dict], wall_s: float, n_epochs: int, spark_groups: dict,
                  extra: dict) -> dict:
    """Per-layer metrics from the spans of the timed window (`wall_s`
    long) and the event-log summary (group id → totals)."""
    by = {}
    for s in spans:
        by.setdefault(s["name"], []).append(s)

    def dur(s):
        return s["end"] - s["start"]

    def durs(name):
        return [dur(s) for s in by.get(name, [])]

    eps = max(n_epochs, 1)
    m: dict[str, float] = {}
    applies = by.get("pipeline.apply_batch", []) + by.get("pipeline.apply_batch_multi", [])
    ep_d = [dur(s) for s in applies]
    m["pipeline.epochs"] = n_epochs
    m["pipeline.epoch_s_p50"] = median(ep_d)
    m["pipeline.epoch_s_p90"] = percentile(ep_d, 90)["value"] or 0.0
    prep = by.get("fetch.prepare_fetch_epoch", [])
    prep_total = sum(dur(s) for s in prep)
    m["pipeline.prefetch_overlap_frac"] = (
        overlap([(s["start"], s["end"]) for s in prep],
                [(s["start"], s["end"]) for s in applies]) / prep_total
        if prep_total else 0.0)
    main_threads = {s["thread"] for s in applies}
    st = self_times(spans)
    main_self = sum(st[s["id"]] for s in spans if s["thread"] in main_threads)
    m["pipeline.driver_other_s"] = max(wall_s - main_self, 0.0)
    # share of the window the driving thread's spans cover; above 1 means
    # spans double-count (driver_other_s is then clipped at 0)
    m["pipeline.span_cover_frac"] = main_self / wall_s if wall_s else 0.0
    m["pipeline.stage_epoch_s"] = sum(durs("pipeline.stage_epoch"))
    m["traced.events_per_s"] = extra.get("events_per_s", 0.0)
    m["traced.freshness_s_p50"] = extra.get("freshness_s_p50", 0.0)
    m["pipeline.backlog_epochs_max"] = extra.get("backlog_max", 0)
    m["gen.late_s_max"] = extra.get("late_max", 0.0)

    m["target.state_calls_per_epoch"] = len(by.get("target.state", [])) / eps
    m["target.state_s_per_epoch"] = sum(durs("target.state")) / eps
    commits = by.get("target.commit_delta", [])
    ticks = [s for s in commits + by.get("target.commit_delta_ref", [])
             if s.get("kind") == "compact"]
    m["target.commit_delta_s_p50"] = median([dur(s) for s in commits
                                             if s.get("kind") != "compact"])
    m["target.compact_tick_s"] = median([dur(s) for s in ticks])
    m["target.compact_ticks"] = len(ticks)
    m["target.apply_ddl_s"] = sum(durs("target.apply_ddl"))
    m["target.commit_delta_ref_s"] = sum(durs("target.commit_delta_ref"))
    m["target.read_resolved_s_p50"] = median(durs("reader.snapshot"))
    m["target.read_changes_between_s_p50"] = median(durs("reader.changelog"))
    m["target.changelog_refusals"] = extra.get("refusals", 0)
    m["target.delta_mb_per_epoch"] = extra.get("delta_mb_per_epoch", 0.0)
    m["target.journal_files"] = extra.get("journal_files", 0)

    m["fetch.prepare_s_p50"] = median([dur(s) for s in prep])
    m["fetch.fallback_epochs"] = len(by.get("fetch.build_fetch_delta", []))
    m["fetch.fetch_delta_s"] = sum(durs("fetch.fetch_delta"))
    m["fetch.build_fetch_delta_s"] = sum(durs("fetch.build_fetch_delta"))
    for key, name in (("binlog.read_changes", "binlog.read_changes"),
                      ("normalize", "normalize.normalize"), ("dedupe", "dedupe.lww_dedupe")):
        m[f"{key}_s" if key.startswith("binlog") else f"{key}.plan_s"] = sum(durs(name))
        m[f"{key}_calls" if key.startswith("binlog") else f"{key}.calls"] = len(by.get(name, []))

    span_name = {f"pb{s['id']}": s["name"] for s in spans}
    tot = dict.fromkeys(FIELDS, 0)
    run_by = dict.fromkeys(SPARK_BUCKETS, 0.0)
    unattributed_jobs = 0
    for group, g in spark_groups.items():
        name = span_name.get(group)
        for k in tot:
            tot[k] += g.get(k, 0)
        run_by[_bucket(name)] += g.get("run_ms", 0) / 1000
        if name is None:
            unattributed_jobs += g.get("jobs", 0)
    m["spark.jobs_per_epoch"] = tot["jobs"] / eps
    m["spark.unattributed_jobs_per_epoch"] = unattributed_jobs / eps
    m["spark.tasks_per_epoch"] = tot["tasks"] / eps
    m["spark.executor_run_s"] = tot["run_ms"] / 1000
    m["spark.executor_cpu_s"] = tot["cpu_ns"] / 1e9
    m["spark.gc_s"] = tot["gc_ms"] / 1000
    m["spark.spill_mb"] = tot["spill_bytes"] / _MB
    m["spark.shuffle_write_mb_per_epoch"] = tot["shuffle_write_bytes"] / _MB / eps
    m["spark.shuffle_read_mb_per_epoch"] = tot["shuffle_read_bytes"] / _MB / eps
    m["fetch.python_sent_mb"] = tot["py_sent_bytes"] / _MB
    m["fetch.python_recv_mb"] = tot["py_recv_bytes"] / _MB
    for b in SPARK_BUCKETS:
        m[f"spark.executor_run_s.{b}"] = run_by[b]
    return m


# ---------------------------------------------------------------------------
# reads
# ---------------------------------------------------------------------------

def timed_read(ctx: Ctx, kind: str, fn) -> tuple[float | None, Exception | None]:
    """Run one read (`fn` returns a DataFrame; it is counted). Returns
    (seconds, None) or (None, the exception)."""
    span = ctx.rec.begin(f"reader.{kind}", jobs=True) if ctx.rec else None
    t0 = time.perf_counter()
    try:
        fn().count()
        return time.perf_counter() - t0, None
    except Exception as e:  # counted by the caller, never swallowed silently
        return None, e
    finally:
        if span is not None:
            ctx.rec.end(span)


#: the engine's loud refusal of a changelog window spanning epochs that
#: a compaction already consumed (a FileNotFoundError)
REFUSAL = "consumed by compaction"


def is_refusal(e: Exception | None) -> bool:
    return isinstance(e, FileNotFoundError) and REFUSAL in str(e)


# ---------------------------------------------------------------------------
# closed loop: carry_bulk, fetch_keys, multi_route
# ---------------------------------------------------------------------------

def gen_config(spec, seed: int, n_events: int, epoch_events: int, docs: int):
    from cdc_spark.genlog import GenConfig

    kw = dict(n_events=n_events, n_docs=docs, events_per_epoch=epoch_events, seed=seed)
    if getattr(spec, "multi", False):
        kw.update(tables=MULTI_TABLES, ddl_schedule=MULTI_DDL)
    if getattr(spec, "ddl_schedule", None) is not None:
        kw["ddl_schedule"] = spec.ddl_schedule
    return GenConfig(**kw)


def _tables_of(root: str, multi: bool) -> dict:
    from cdc_spark.sinks.target import TableRouter, TargetTable

    if not multi:
        from cdc_spark.genlog import TABLE_NAME

        return {TABLE_NAME: TargetTable(root)}
    r = TableRouter(root)
    return {n: TargetTable(r.path_of(n)) for n in r.names()}


def _read_pass(ctx: Ctx, tables: dict, snap: list, chg: list) -> None:
    """One snapshot and one changelog read of a finished table (summed
    over its tables); the changelog window starts at the last
    compaction."""
    t_snap = t_chg = 0.0
    for name, t in sorted(tables.items()):
        s, err = timed_read(ctx, "snapshot", lambda t=t: t.read_resolved(ctx.spark))
        ctx.op(err is None, f"snapshot read {name}: {err!r}")
        t_snap += s or 0.0
        versions = journal(t.path)
        cursor = max([v for v, _m, e in versions if e.get("kind") == "compact"],
                     default=versions[0][0])
        s, err = timed_read(ctx, "changelog",
                            lambda t=t, c=cursor: t.read_changes_between(ctx.spark, c))
        ctx.op(err is None, f"changelog read {name}: {err!r}")
        t_chg += s or 0.0
    snap.append(t_snap)
    chg.append(t_chg)


def run_closed(ctx: Ctx, spec: ClosedSpec) -> dict:
    from cdc_spark.genlog import write_binlog, write_binlog_keys

    t_setup = time.perf_counter()
    feed = os.path.join(ctx.work, "feed")
    cfg = gen_config(spec, ctx.seed, spec.events, spec.epoch_events, spec.docs)
    (write_binlog_keys if spec.images == "fetch" else write_binlog)(cfg, feed,
                                                                    parts=spec.parts)
    oracle = Oracle(ctx, feed, spec.images, cfg)
    try:
        start_session(ctx)
        ctx.info["session_s"] = time.perf_counter() - t_setup
        from cdc_spark.streaming.pipeline import replay, replay_multi

        def one_pass(root: str) -> None:
            if spec.multi:
                replay_multi(ctx.spark, feed, root, lineage=False,
                             compact_every=spec.compact_every, images=spec.images)
            else:
                replay(ctx.spark, feed, root, lineage=False,
                       compact_every=spec.compact_every, images=spec.images)

        ctx.info["warm_pass_s"] = []
        for i in range(spec.warm_passes):
            warm_root = os.path.join(ctx.work, f"warm{i}")
            t_warm = time.perf_counter()
            one_pass(warm_root)
            ctx.info["warm_pass_s"].append(time.perf_counter() - t_warm)
            _read_pass(ctx, _tables_of(warm_root, spec.multi), [], [])
        setup_s = time.perf_counter() - t_setup
        want = oracle.result()
        ctx.info["oracle_wait_s"] = time.perf_counter() - t_setup - setup_s
    finally:
        oracle.close()
    ctx.attempted = ctx.failed = 0  # warm-up reads are not measured
    ctx.errors.clear()
    ctx.info["host_calibration"] = host_calibration(ctx.spark, ctx.nproc)

    if ctx.trace:
        ctx.rec = Recorder(ctx.spark.sparkContext)
        install_trace(ctx.rec)
    n_epochs = cfg.n_epochs
    rates, fresh, snap, chg, roots, windows = [], [], [], [], [], []
    t_end = time.monotonic() + ctx.seconds
    try:
        while len(roots) < MIN_PASSES or time.monotonic() < t_end:
            if roots and time.monotonic() - ctx.started > RUN_BUDGET_S:
                ctx.info["stopped_by_run_budget"] = True
                break
            root = os.path.join(ctx.work, f"pass{len(roots)}")
            roots.append(root)
            w0 = time.time()
            t0 = time.perf_counter()
            try:
                one_pass(root)
            except Exception as e:
                ctx.op(False, f"pass {len(roots)}: {e!r}")
                break
            dt = time.perf_counter() - t0
            windows.append((w0 * 1000, time.time() * 1000))
            rates.append(spec.events / dt)
            tables = _tables_of(root, spec.multi)
            vis = visible_times([t.path for t in tables.values()])
            fresh += [vis[e] - w0 for e in range(n_epochs) if e in vis]
            for e in range(n_epochs):
                ctx.op(e in vis, f"epoch {e} never became visible")
            _read_pass(ctx, tables, snap, chg)
            windows[-1] = (windows[-1][0], time.time() * 1000)
    finally:
        if ctx.rec:
            ctx.rec.restore()

    ok = True
    for root in roots:
        if not os.path.isdir(root):
            continue
        got = _digest(ctx, _tables_of(root, spec.multi))
        same = got == want["digest"]
        ctx.op(same, f"{os.path.basename(root)}: digest differs from the oracle")
        ok = ok and same
    last_tables = [t.path for t in _tables_of(roots[-1], spec.multi).values()]
    e2e = {"setup_s": setup_s, "events_per_s": median(rates),
           "table_mb": dir_bytes(roots[-1]) / _MB}
    ctx.info["latency"] = {"freshness_s_p50": median(fresh), "snapshot_read_s_p50": median(snap),
                           "changelog_read_s_p50": median(chg)}
    ctx.info.update(passes=len(rates), epochs_per_pass=n_epochs, events_per_pass=spec.events,
                    pass_s=[round(spec.events / r, 3) for r in rates],
                    freshness_p90=percentile(fresh, 90), oracle_rows=want["rows"])
    layer_extra = {
        "backlog_max": n_epochs,
        "delta_mb_per_epoch": delta_mb_per_epoch(last_tables),
        "journal_files": journal_files(last_tables),
        "refusals": sum(1 for e in ctx.errors if REFUSAL in e),
    }
    return _finish(ctx, ok, e2e, n_epochs * len(rates), windows, layer_extra)


def _digest(ctx: Ctx, tables: dict) -> str:
    from digest import engine_digest

    return engine_digest(ctx.spark, tables)["digest"]


def _finish(ctx: Ctx, ok: bool, e2e: dict, n_epochs: int, windows, extra: dict) -> dict:
    e2e["ok_frac"] = (ctx.attempted - ctx.failed) / ctx.attempted if ctx.attempted else 0.0
    # a refused changelog window is the engine's documented answer, not
    # a wrong one: it counts as a failed operation but not as incorrect
    ok = ok and all(REFUSAL in e for e in ctx.errors)
    layer = None
    if ctx.trace:
        from eventlog import read_events, summarize

        spans = ctx.rec.spans
        ctx.spark.stop()
        ctx.spark = None
        groups = summarize(read_events(os.path.join(ctx.work, "eventlog")), windows)
        wall = sum(hi - lo for lo, hi in windows) / 1000
        extra = {**extra, "events_per_s": e2e["events_per_s"],
                 "freshness_s_p50": ctx.info["latency"]["freshness_s_p50"]}
        layer = layer_metrics(spans, wall, n_epochs, groups, extra)
        out = os.path.join(os.path.dirname(ctx.work), "traces")
        os.makedirs(out, exist_ok=True)
        ctx.rec.dump(os.path.join(out, f"{ctx.name}-{ctx.seed}.spans.json"))
    return {"ok": ok, "e2e": e2e, "layer": layer}


# ---------------------------------------------------------------------------
# open loop: trickle_rw
# ---------------------------------------------------------------------------

class Reader(threading.Thread):
    """Tails the journal: one changelog read per settled version (from
    the previous settled version), one snapshot read every `every`-th.
    A version is settled unless it is a delta commit whose inline
    compaction tick has not yet run, so which windows the engine
    refuses does not depend on thread timing."""

    def __init__(self, ctx: Ctx, table_path: str, every: int = 2):
        super().__init__(name="perfbench-reader", daemon=True)
        from cdc_spark.sinks.target import TargetTable

        self.ctx = ctx
        self.table = TargetTable(table_path)
        self.every = every
        self.stop_evt = threading.Event()
        self.measuring = False
        self.ops: list[tuple[str, float | None, Exception | None]] = []
        self.cursor: int | None = None
        self.n_settled = 0
        self.exc: BaseException | None = None

    def wait_caught_up(self, timeout: float) -> bool:
        """Wait until the journal head is settled and read."""
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline and self.is_alive():
            js = journal(self.table.path)
            if js and self.settled(js[-1][2]) and self.cursor == js[-1][0]:
                return True
            time.sleep(0.01)
        return False

    def settled(self, entry: dict) -> bool:
        return not (entry.get("kind") == "delta"
                    and len(entry.get("delta_epochs", [])) >= self.table.compact_every)

    def run(self) -> None:
        try:
            while not self.stop_evt.is_set():
                for v, _m, entry in journal(self.table.path):
                    if self.cursor is not None and v <= self.cursor:
                        continue
                    if self.cursor is None:
                        self.cursor = v
                        continue
                    if not self.settled(entry):
                        continue
                    self._read(v)
                self.stop_evt.wait(0.02)
        except BaseException as e:  # surfaced by the main thread after join
            self.exc = e

    def _read(self, v: int) -> None:
        c = self.cursor
        s, err = timed_read(self.ctx, "changelog",
                            lambda: self.table.read_changes_between(self.ctx.spark, c, v))
        if self.measuring:
            self.ops.append(("changelog", s, err))
        self.cursor = v
        self.n_settled += 1
        if self.n_settled % self.every == 0:
            s, err = timed_read(self.ctx, "snapshot",
                                lambda: self.table.read_resolved(self.ctx.spark, version=v))
            if self.measuring:
                self.ops.append(("snapshot", s, err))


def _max_epoch(table_path: str) -> int | None:
    js = journal(table_path)
    eps = _applied(js[-1][2]) if js else set()
    return max(eps) if eps else None


def _wait_epoch(table_path: str, epoch: int, q, timeout: float) -> bool:
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        e = _max_epoch(table_path)
        if e is not None and e >= epoch:
            return True
        if not q.isActive:
            return False
        time.sleep(0.01)
    return False


def run_trickle(ctx: Ctx, spec: TrickleSpec) -> dict:
    from cdc_spark.genlog import write_binlog
    from cdc_spark.sinks.target import TargetTable

    n_timed = max(2, round(ctx.seconds / spec.interval_s))
    n_warm = max(spec.min_warm, TargetTable("").compact_every - n_timed)
    n_all = n_warm + n_timed
    t_setup = time.perf_counter()
    src = os.path.join(ctx.work, "src")
    feed = os.path.join(ctx.work, "feed")
    os.makedirs(feed)
    cfg = gen_config(spec, ctx.seed, n_all * spec.segment_events, spec.segment_events,
                     spec.docs)
    write_binlog(cfg, src, parts=1)
    oracle = Oracle(ctx, src, "carry", cfg)

    def send(e: int) -> None:
        name = f"segment-{e:05d}.parquet"
        # a hard link arrives atomically and leaves the oracle's copy
        os.link(os.path.join(src, name), os.path.join(feed, name))

    table = os.path.join(ctx.work, "table")
    q = reader = None
    try:
        start_session(ctx)
        ctx.info["session_s"] = time.perf_counter() - t_setup
        from cdc_spark.streaming.pipeline import stream

        q = stream(ctx.spark, feed, table, os.path.join(ctx.work, "ckpt"),
                   available_now=False)
        reader = Reader(ctx, table)
        reader.start()
        for e in range(n_warm):
            send(e)
        if not _wait_epoch(table, n_warm - 1, q, 150):
            raise RuntimeError(f"warm-up did not drain: {q.exception()}")
        setup_s = time.perf_counter() - t_setup
        want = oracle.result()
        ctx.info["host_calibration"] = host_calibration(ctx.spark, ctx.nproc)

        if ctx.trace:
            ctx.rec = Recorder(ctx.spark.sparkContext)
            install_trace(ctx.rec)
        reader.measuring = True
        w_start = time.time()
        t_start = w_start + 0.05
        sent = []
        for k in range(n_timed):
            due = t_start + k * spec.interval_s
            time.sleep(max(0.0, due - time.time()))
            send(n_warm + k)
            sent.append((due, time.time()))
        drained = _wait_epoch(table, n_all - 1, q, 60) and reader.wait_caught_up(60)
        w_end = time.time()
        reader.measuring = False
    finally:
        if reader is not None:
            reader.stop_evt.set()
            reader.join(timeout=60)
        if ctx.rec:
            ctx.rec.restore()
        stream_exc = q.exception() if q is not None else None
        if q is not None:
            q.stop()
        oracle.close()
    if reader.exc is not None:
        raise reader.exc

    vis = visible_times([table])
    fresh, late = [], []
    backlog_max = 0
    for k, (due, at) in enumerate(sent):
        e = n_warm + k
        late.append(at - due)
        ctx.op(e in vis, f"epoch {e} never became visible")
        if e in vis:
            fresh.append(vis[e] - due)
        backlog_max = max(backlog_max, sum(1 for j in range(k + 1)
                                           if vis.get(n_warm + j, 1e300) > at))
    if stream_exc is not None or not drained:
        ctx.op(False, f"stream did not drain: {stream_exc}")
    snap, chg, refusals = [], [], 0
    for kind, s, err in reader.ops:
        ctx.op(err is None, f"{kind} read: {err!r}")
        refusals += kind == "changelog" and is_refusal(err)
        if s is not None:
            (snap if kind == "snapshot" else chg).append(s)
    got = _digest(ctx, _tables_of(table, False))
    ok = got == want["digest"]
    ctx.op(ok, "final table digest differs from the oracle")
    last_vis = max((vis.get(n_warm + k, w_end) for k in range(n_timed)),
                   default=w_end)
    e2e = {"setup_s": setup_s,
           "events_per_s": n_timed * spec.segment_events / (last_vis - t_start),
           "table_mb": dir_bytes(table) / _MB}
    ctx.info["latency"] = {"freshness_s_p50": median(fresh), "snapshot_read_s_p50": median(snap),
                           "changelog_read_s_p50": median(chg)}
    ctx.info.update(segments_timed=n_timed, segments_warm=n_warm,
                    freshness_p90=percentile(fresh, 90), late_s_max=max(late),
                    backlog_epochs_max=backlog_max, changelog_refusals=refusals,
                    reads=len(reader.ops), oracle_rows=want["rows"])
    extra = {"backlog_max": backlog_max, "late_max": max(late), "refusals": refusals,
             "delta_mb_per_epoch": delta_mb_per_epoch([table]),
             "journal_files": journal_files([table])}
    return _finish(ctx, ok, e2e, n_timed,
                   [(w_start * 1000, w_end * 1000)], extra)


def run(ctx: Ctx) -> dict:
    spec = SPECS[ctx.name]
    if isinstance(spec, TrickleSpec):
        return run_trickle(ctx, spec)
    return run_closed(ctx, spec)
