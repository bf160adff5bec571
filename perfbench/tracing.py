"""Span recorder for the traced benchmark run.

The engine carries no instrumentation of its own, so the traced run
wraps the engine's public functions from the outside: each name is
patched where its caller looks it up (a module global such as
`pipeline.apply_batch`, or a `TargetTable` method), and every call
records a span (name, start, end, parent, epoch, thread). Spans live in
memory and are written out once, at the end of the run.

A span that can run Spark jobs also tags its thread with a Spark job
group (`spark.jobGroup.id`, the property `SparkContext.setJobGroup`
sets). Job groups are thread-local, so jobs of the fetch prefetch
thread stay with the epoch that thread prepares. The event log parser
(eventlog.py) joins the group back to the span offline.
"""

from __future__ import annotations

import functools
import json
import re
import threading
import time

_GROUP_KEY = "spark.jobGroup.id"
_SEGMENT_EPOCH = re.compile(r"segment-(\d+)")


class Recorder:
    """Collects spans; `patch` installs wrappers, `restore` removes them."""

    def __init__(self, sc=None, clock=time.perf_counter):
        self.sc = sc
        self.clock = clock
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []
        self._next_id = 0

    # -- spans ------------------------------------------------------------

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def note_epoch(self, epoch: int | None) -> None:
        """Epoch that spans opened later on this thread belong to, when
        their own arguments do not say (set from segment paths)."""
        if epoch is not None:
            self._local.epoch = epoch

    def begin(self, name: str, epoch: int | None = None, jobs: bool = False) -> dict:
        stack = self._stack()
        parent = stack[-1] if stack else None
        if epoch is None:
            epoch = parent["epoch"] if parent else getattr(self._local, "epoch", None)
        with self._lock:
            sid = self._next_id
            self._next_id += 1
        span = {
            "id": sid, "name": name, "parent": parent["id"] if parent else None,
            "epoch": epoch, "thread": threading.get_ident(), "start": self.clock(),
            "end": None,
        }
        if jobs and self.sc is not None:
            span["_prev_group"] = self.sc.getLocalProperty(_GROUP_KEY)
            self.sc.setLocalProperty(_GROUP_KEY, f"pb{sid}")
        stack.append(span)
        return span

    def end(self, span: dict) -> None:
        span["end"] = self.clock()
        stack = self._stack()
        if stack and stack[-1] is span:
            stack.pop()
        if "_prev_group" in span:
            self.sc.setLocalProperty(_GROUP_KEY, span.pop("_prev_group"))
        with self._lock:
            self.spans.append(span)

    # -- patching ----------------------------------------------------------

    def wrap(self, fn, name: str, jobs: bool = False, epoch_arg: int | None = None,
             on_result=None):
        """Wrapper recording one span per call. `epoch_arg` is the
        positional index of an `epoch` argument; `on_result(span, args,
        kwargs, result)` may annotate the span."""
        rec = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            epoch = kwargs.get("epoch")
            if epoch is None and epoch_arg is not None and len(args) > epoch_arg:
                epoch = args[epoch_arg]
            s = rec.begin(name, epoch, jobs)
            try:
                out = fn(*args, **kwargs)
                if on_result is not None:
                    on_result(s, args, kwargs, out)
                return out
            except BaseException as e:
                s["error"] = type(e).__name__
                raise
            finally:
                rec.end(s)

        return wrapper

    def patch(self, owner, attr: str, name: str, **kw) -> None:
        orig = getattr(owner, attr)
        self._patched.append((owner, attr, orig))
        setattr(owner, attr, self.wrap(orig, name, **kw))

    def restore(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def epoch_of_paths(paths) -> int | None:
    """Epoch number of a `segment-EEEEE[-pPPPPP].parquet` path (list)."""
    if isinstance(paths, str):
        paths = [paths]
    for p in paths or []:
        m = _SEGMENT_EPOCH.search(str(p))
        if m:
            return int(m.group(1))
    return None


def self_times(spans: list[dict]) -> dict[int, float]:
    """span id → its duration minus the time its child spans cover.

    Children run on their parent's thread, nested inside it and one
    after another, so their durations subtract without overlap."""
    child = {}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] = child.get(s["parent"], 0.0) + (s["end"] - s["start"])
    return {s["id"]: (s["end"] - s["start"]) - child.get(s["id"], 0.0) for s in spans}


def overlap(a: list[tuple[float, float]], b: list[tuple[float, float]]) -> float:
    """Total length of the intersection of two sets of intervals."""
    def merged(iv):
        out: list[list[float]] = []
        for lo, hi in sorted(iv):
            if out and lo <= out[-1][1]:
                out[-1][1] = max(out[-1][1], hi)
            else:
                out.append([lo, hi])
        return out

    ma, mb = merged(a), merged(b)
    i = j = 0
    total = 0.0
    while i < len(ma) and j < len(mb):
        lo = max(ma[i][0], mb[j][0])
        hi = min(ma[i][1], mb[j][1])
        if hi > lo:
            total += hi - lo
        if ma[i][1] < mb[j][1]:
            i += 1
        else:
            j += 1
    return total
