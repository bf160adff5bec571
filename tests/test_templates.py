"""Plan templates: the driver builds an epoch's plan in a few hundred
Py4J round trips, and a template never outlives its SparkContext."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from cdc_spark.genlog import GenConfig, write_binlog, write_binlog_keys
from cdc_spark.streaming.pipeline import replay

from conftest import py4j_calls_during

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: steady-state Py4J calls per epoch of a warm replay. On these feeds
#: (4 cores) Columns built per call measured 2,568-2,586 (carry) and
#: 3,968-4,016 (fetch); templates measure 198-247 and 450-572.
BUDGET = {"carry": 400, "fetch": 600}
#: perfbench's fetch_keys schedule: every DDL in the first epoch, so the
#: later epochs take the look-ahead path
FETCH_DDL = (
    (0.10, "add_column", {"name": "quality", "type": "float"}),
    (0.20, "add_column", {"name": "rating", "type": "int"}),
    (0.30, "rename_column", {"from": "quality", "to": "quality_score"}),
    (0.40, "widen_column", {"name": "rating", "to": "long"}),
)


@pytest.mark.parametrize("images", ["carry", "fetch"])
def test_py4j_calls_per_epoch_budget(spark, workdir, images):
    """A warm 3-epoch replay stays inside its per-epoch Py4J budget
    (carry as perfbench's carry_bulk replays it, with a compaction tick
    every two epochs; fetch with DDL in epoch 0 only)."""
    if images == "carry":
        cfg = GenConfig(n_events=6000, n_docs=600, events_per_epoch=2000, seed=71)
        write = write_binlog
        kw = {"compact_every": 2}
    else:
        cfg = GenConfig(n_events=6000, n_docs=600, events_per_epoch=2000, seed=71,
                        ddl_schedule=FETCH_DDL)
        write = write_binlog_keys
        kw = {}
    d = f"{workdir}/py4j_budget_{images}"
    write(cfg, d, parts=4)

    def one(name: str) -> None:
        replay(spark, d, f"{workdir}/py4j_budget_{images}_{name}", lineage=False,
               images=images, **kw)

    one("warm")  # templates, JIT and Python workers warm
    per_epoch = py4j_calls_during(spark, lambda: one("timed")) / cfg.n_epochs
    assert per_epoch <= BUDGET[images], per_epoch


def test_templates_are_not_reused_by_a_new_session(small_binlog):
    """After spark.stop() and a new session, normalize builds its
    template again (a handle built for the old context is never handed
    out) and returns the same rows. Runs in a child process: stopping
    the shared test session would end every later test."""
    code = (
        "import json, sys\n"
        "from cdc_spark.operators import normalize as nm\n"
        "from cdc_spark.session import get_spark\n"
        "from cdc_spark.sources.binlog import read_changes\n"
        "builds, real = [], nm._events\n"
        "nm._events = lambda: builds.append(1) or real()\n"
        "def rows(s):\n"
        "    ev = nm.normalize(read_changes(s, sys.argv[1]))\n"
        "    return sorted(map(tuple, ev.select('lsn', 'doc_id', 'deleted').collect()))\n"
        "s = get_spark(master='local[1]')\n"
        "a, a2 = rows(s), rows(s)\n"
        "n1 = len(builds)\n"
        "s.stop()\n"
        "s = get_spark(master='local[1]')\n"
        "b = rows(s)\n"
        "s.stop()\n"
        "print(json.dumps({'n1': n1, 'n2': len(builds), 'same': a == a2 == b,\n"
        "                  'rows': len(b)}))\n"
    )
    env = {**os.environ, "CDC_SPARK_DRIVER_MEM": "1g", "PYTHONPATH": _REPO}
    res = subprocess.run([sys.executable, "-c", code, small_binlog], cwd=_REPO,
                         env=env, capture_output=True, text=True, timeout=600)
    assert res.returncode == 0, res.stderr[-2000:]
    out = json.loads(res.stdout.strip().splitlines()[-1])
    assert out["n1"] == 1, out  # the second call in a session reuses it
    assert out["n2"] == 2, out  # the new session built its own
    assert out["same"] and out["rows"] > 0, out
