"""CDC ingest benchmark: one workload, one run, one JSON result line.

    python3 perfbench/run.py --workload carry_bulk --seed 1 --seconds 8 --trace 0

Run from the root of a checkout of this repository. The last line of
standard output is {"correct", "attempted", "failed", "metrics"}: with
`--trace 0` the end-to-end metrics, with `--trace 1` the per-layer ones
(BENCHMARK.json lists both). The line before it records the host: nproc,
pyspark version, the host-calibration probe, and the run's sample
counts. Everything the run writes goes under perfbench/_work/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")

#: driver heap; get_spark pins -Xms to the same value, so this is the
#: only knob that sizes it (overriding spark.driver.memory alone makes
#: -Xms exceed -Xmx and the JVM refuses to start)
DRIVER_MEM = "2g"


def pin_environment(nproc: int, work: str) -> None:
    """Environment the engine and its Python workers inherit."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # mapInPandas workers import cdc_spark by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["CDC_SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    sys.path.insert(0, ROOT)


def cpu_times() -> list[int]:
    """Aggregate CPU jiffies from /proc/stat (user ... steal), or []."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return []


def steal_frac(before: list[int], after: list[int]) -> float | None:
    """Share of CPU time the hypervisor gave to other guests."""
    if len(before) < 8 or len(after) < 8:
        return None
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else None


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it (its
    Python workers exit with it)."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits on EOF from its parent
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def metric_block(values: dict, units: dict) -> dict:
    """{name: {"value", "unit"}} for exactly the metrics in `units`."""
    if set(values) != set(units):
        raise KeyError(f"metrics differ from the declared ones: "
                       f"missing {sorted(set(units) - set(values))}, "
                       f"undeclared {sorted(set(values) - set(units))}")
    return {name: {"value": float(values[name]), "unit": unit} for name, unit in units.items()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "cdc_spark", "streaming", "pipeline.py")):
        print(f"perfbench: no cdc_spark engine under {ROOT}", file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.SPECS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.SPECS)}", file=sys.stderr)
        return 2
    if args.seconds <= 0:
        print("perfbench: --seconds must be positive", file=sys.stderr)
        return 2

    nproc = len(os.sched_getaffinity(0))
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    pin_environment(nproc, run_dir)

    import pyspark

    ctx = workloads.Ctx(name=args.workload, seed=args.seed, seconds=args.seconds,
                        trace=bool(args.trace), work=run_dir, nproc=nproc)
    t0 = time.perf_counter()
    cpu0 = cpu_times()
    try:
        res = workloads.run(ctx)
    finally:
        stop_spark(ctx.spark)
    metrics = metric_block(res["layer"] if args.trace else res["e2e"],
                           workloads.PER_LAYER if args.trace else workloads.END_TO_END)
    ctx.info.update(workload=args.workload, seed=args.seed, nproc=nproc,
                    pyspark=pyspark.__version__, driver_mem=DRIVER_MEM,
                    run_s=time.perf_counter() - t0, errors=ctx.errors[:10],
                    cpu_steal_frac=steal_frac(cpu0, cpu_times()))
    if args.trace:
        ctx.info["end_to_end_while_traced"] = res["e2e"]
    print(json.dumps({"perfbench_info": ctx.info}))
    print(json.dumps({"correct": bool(res["ok"]), "attempted": ctx.attempted,
                      "failed": ctx.failed, "metrics": metrics}), flush=True)
    shutil.rmtree(run_dir, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
