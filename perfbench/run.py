"""Benchmark of the pypers_spark engine: task-tree sweeps and operator laps.

Run from the repository root:

    python3 perfbench/run.py --workload ops_sf1 --seed 1 --seconds 12 --trace 0

Workloads (``perfbench/LAYERS.md`` says why each one exists):

- ``task_sweep``: 2 root tasks (the curation pipeline and LoadTables ->
  Query -> Checkpoint), one child each, at sf0.1. One repetition runs
  ``Batch.run`` four times: cold, no-op, resume after a late-stage config
  edit in every child, resume after a mid-stage edit.
- ``ops_sf1``: 5 compute-bound keys on a 10x key-remapped replica of the
  sf0.1 tables.

The inputs are the engine's test tables at sf0.01 and sf0.1, kept under
``perfbench/data/`` and read in place. The sf1 replica is made from the
sf0.1 tables by ``tools/scale_check.gen``, once per checkout, under
``.perfbench_work/``. ``--seed`` permutes the key order and picks the
task edits. The run starts a fresh Spark session five times and reports
the median as ``setup_s``; warms up once, untimed; then
measures repetitions for ``--seconds`` (at least one), each from the
same reset engine state. Every key output and every stored task field is
fingerprinted and checked against ``perfbench/reference.json``; a
mismatch counts as a failed operation.

``--trace 1`` makes one more, discarded, repetition, then alternates
untraced and traced ones and prints the per-layer metrics, including
the tracing overhead, instead of the end-to-end ones. The last line of
stdout is the result; the line before it records the machine's core
count and load average, and the time of each key or batch.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data")
# sf1 is sf0.1 replicated this many times with per-copy key remapping.
REPLICA_COPIES = 10
# A run must end well inside the 180 s a run may take.
DEADLINE_S = 150
SETUPS = 5
# Scale of the untimed warm-up and of the timed repetitions. The warm-up
# pays class loading, JIT and code generation, which barely depend on the
# scale, so it runs on the small tables: a sweep warmed up on sf0.1 took
# 28 s against 20 s on sf0.01, and its timed sweeps spread no less. The
# sweep is timed at sf0.1, where Spark work outweighs the small-file
# writes whose latency varies most between runs.
WORKLOADS = {
    "task_sweep": ("sf0.01", "sf0.1"),
    "ops_sf1": ("sf0.01", "sf1"),
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_env(root: str, work: str) -> None:
    """Keep every file Spark and Python write under ``work``; size the
    local master to this machine; let Python workers import the engine."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "PYTHONPATH": os.pathsep.join(filter(None, [root, os.environ.get("PYTHONPATH")])),
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            # Keep every job of a repetition readable from the status store.
            "SPARK_GRAFT_UI_RETAINED": "5000",
            "PYSPARK_SUBMIT_ARGS": (
                "--conf spark.ui.showConsoleProgress=false "
                f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
                f"--driver-java-options '-Djava.io.tmpdir={tmp} "
                f"-Dderby.system.home={os.path.join(work, 'derby')}' pyspark-shell"
            ),
        }
    )


def make_inputs(scales, work_root: str) -> tuple[dict[str, str], float]:
    """Table directory of each scale, and the seconds spent making inputs.

    sf0.01 and sf0.1 are the kept test tables. sf1 is their replica,
    made once per checkout under ``work_root`` and reused by later runs:
    writing and deleting 145 MB in every run stalled this disk for up to
    60 s, which would swamp what a run measures.
    """
    from tools import scale_check

    dirs, seconds = {}, 0.0
    for scale in set(scales):
        dirs[scale] = os.path.join(DATA, scale)
        if scale != "sf1":
            continue
        dirs[scale] = os.path.join(work_root, f"replica-{REPLICA_COPIES}x")
        if not os.path.isdir(dirs[scale]):
            t0 = time.perf_counter()
            tmp = f"{dirs[scale]}.{os.getpid()}"
            scale_check.SRC = os.path.join(DATA, "sf0.1")
            scale_check.gen(REPLICA_COPIES, tmp)
            os.rename(tmp, dirs[scale])
            seconds = time.perf_counter() - t0
    return dirs, seconds


def set_up():
    """One set-up: stop any Spark session and start a fresh one."""
    from pyspark.sql import SparkSession

    from pypers_spark.session import get_session

    t0 = time.perf_counter()
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    spark = get_session("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return time.perf_counter() - t0, spark


def _descendants(pid: int) -> list[int]:
    """Every live process below ``pid``, read from ``/proc``."""
    parent = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    parent[int(entry)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
    found, todo = [], [pid]
    while todo:
        top = todo.pop()
        kids = [p for p, pp in parent.items() if pp == top]
        found += kids
        todo += kids
    return found


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(timeout_s: float = 20.0) -> None:
    """Stop the Spark session and the JVM behind it, and wait until every
    process this run started has ended, killing what outlives the timeout.

    ``SparkSession.stop`` leaves the gateway JVM running; it exits only
    when its stdin closes, which without this would happen as Python
    exits, so the JVM would outlive the run.
    """
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    started = _descendants(os.getpid())
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + timeout_s
    for pid in started + _descendants(os.getpid()):
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
        while _alive(pid):
            time.sleep(0.05)


def _load(path: str) -> dict:
    with open(path) as fh:
        return json.load(fh)


def run(args, work: str) -> dict:
    import workloads as wl
    from spark_stats import StatusStore, peak_rss_mb
    from tracing import Tracer

    spec = _load(os.path.join(HERE, "..", "BENCHMARK.json"))
    refs = _load(os.path.join(HERE, "reference.json"))
    warm_scale, scale = WORKLOADS[args.workload]
    started = time.perf_counter()
    dirs, replica_s = make_inputs((warm_scale, scale), os.path.dirname(work))
    setups = []
    for _ in range(SETUPS):
        seconds, spark = set_up()
        setups.append(seconds)
    stats = StatusStore(spark)
    rng = random.Random(args.seed)
    warm, result, traced = wl.Result(), wl.Result(), wl.Result()

    t0 = time.perf_counter()
    if args.workload == "task_sweep":
        tree_spec = wl.TreeSpec.from_seed(rng)
        wl.task_sweep(spark, stats, work, dirs[warm_scale], tree_spec, None, warm, None, "warm")

        def repetition(res, tracer, tag):
            wl.task_sweep(spark, stats, work, dirs[scale], tree_spec,
                          refs["tasks"][scale], res, tracer, tag)
    else:
        keys = list(wl.OPS_KEYS[args.workload])
        rng.shuffle(keys)
        wl.ops_lap(spark, stats, work, keys, dirs[warm_scale], refs["ops"][warm_scale],
                   warm, None, "warm")

        def repetition(res, tracer, tag):
            wl.ops_lap(spark, stats, work, keys, dirs[scale], refs["ops"][scale], res, tracer, tag)
    warm_s = time.perf_counter() - t0

    # Under --trace 1 untraced and traced repetitions alternate, so the
    # overhead is measured under the same conditions as the layers. They
    # start after one more, discarded, repetition at the timed scale: the
    # first one in a JVM runs about 9% slower, which would otherwise be
    # charged to the untraced side.
    if args.trace:
        repetition(warm, None, "settle")
    measure0 = time.perf_counter()
    n = 0
    while True:
        tracer = Tracer() if args.trace and n % 2 else None
        repetition(traced if tracer else result, tracer, f"rep{n}")
        n += 1
        now = time.perf_counter()
        enough = now - measure0 >= args.seconds and (not args.trace or n >= 2)
        if enough or now - started + (now - measure0) / n > DEADLINE_S:
            break

    runs = (warm, result, traced)
    failed = sum(r.failed for r in runs)
    errors = [e for r in runs for e in r.errors]
    if errors:
        print("\n".join(errors), file=sys.stderr)
    if args.trace:
        values = {m["name"]: 0.0 for m in spec["per_layer"]}
        for name in values:
            samples = [layer[name] for layer in traced.layers if name in layer]
            if samples:
                values[name] = statistics.median(samples)
        values["trace.overhead_s"] = statistics.median(traced.walls) - statistics.median(result.walls)
        values["warmup_s"] = warm_s
        values["jvm.peak_rss_mb"] = peak_rss_mb(stats.jvm_pid())
        metrics = spec["per_layer"]
    else:
        values = {
            "wall_s": statistics.median(result.walls),
            "cpu_s": statistics.median(result.cpu),
            "setup_s": statistics.median(setups),
        }
        metrics = spec["end_to_end"]
    context = {
        "workload": args.workload,
        "seed": args.seed,
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_1m": os.getloadavg()[0],
        "walls": result.walls,
        "part_s": {k: statistics.median(v) for k, v in result.part_s.items()},
        "traced_walls": traced.walls,
        "setups": setups,
        "replica_s": replica_s,
        "warmup_s": warm_s,
    }
    print(json.dumps(context))
    return {
        "correct": failed == 0,
        "attempted": sum(r.attempted for r in runs),
        "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in metrics},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    missing = [p for p in ("pypers_spark", "__spark_entry__.py")
               if not os.path.exists(os.path.join(root, p))]
    if missing:
        print(f"run from the repository root; missing {missing}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, root]
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    configure_env(root, work)
    # A terminated run still stops what it started.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        out = run(args, work)
    finally:
        try:
            stop_spark()
        finally:
            shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
