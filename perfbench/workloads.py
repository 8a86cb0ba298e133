"""The benchmark's workloads: operator laps and a task-tree sweep.

One *repetition* is one lap over a key list (``ops_*``) or one sweep of
four ``Batch.run`` calls over a task tree (``task_sweep``). Every
repetition starts from the same engine state (:func:`reset`).
"""

from __future__ import annotations

import asyncio
import json
import os
import random
import shutil
import time
from dataclasses import dataclass, field

import yaml

import fingerprint
from spark_stats import JobTotals, StatusStore
from tracing import Tracer, dir_mb

# Compute-bound: executor CPU dominates on the sf1 replica.
OPS_KEYS = {
    "ops_sf1": (
        "dd_containment_idx txt_tfidf_top pipe_curation mm_phash_pairs q21_waiting_supplier"
    ).split()
}

CURATION = [
    "pypers_spark.operators.curation.IngestDocuments",
    "pypers_spark.operators.curation.ExactDedup",
    "pypers_spark.operators.curation.QualityFilter",
    "pypers_spark.operators.curation.RepetitionFilter",
    "pypers_spark.operators.curation.TokenStats",
]
QUERY = [
    "pypers_spark.operators.stages.LoadTablesStage",
    "pypers_spark.operators.stages.QueryStage",
    "pypers_spark.operators.stages.CheckpointStage",
]
# Values a child task may hold. The seed picks each child's start value
# and its edits; references cover every combination. No child value
# equals its root's, and each set holds values that cost about the same,
# so every seed resumes from the same stages and does the same amount of
# work. At sf0.1 a sweep whose child matched its root after an edit, or
# started from min_quality 0.6, took a third longer or shorter. Each edit
# changes the stored fields (make_reference.py checks this): on the sf0.1
# documents max_top_token 0.15 drops about 460 rows and 0.2 about 80.
MIN_QUALITY = (0.4, 0.45)
MAX_TOP_TOKEN = (0.15, 0.2)
QUERY_NAMES = ("q3_shipping_priority", "q18_large_orders")
CHILDREN = ("c1",)
ROOT_VALUES = {"curation": (0.5, 0.5), "query": ("q1_pricing_summary", "k0")}
N_RESUMED = len(ROOT_VALUES) * len(CHILDREN)
N_TASKS = len(ROOT_VALUES) + N_RESUMED


def reset(spark, work: str) -> None:
    """Put the engine in the state every repetition starts from: no cached
    DataFrames, empty persist and checkpoint memo tables, a collected JVM
    heap, a fresh, empty checkpoint directory, and no pending disk writes."""
    from pypers_spark.functions import caching, checkpoint

    spark.catalog.clearCache()
    caching._LIVE.clear()
    checkpoint._OPEN.clear()
    spark.sparkContext._jvm.System.gc()
    ckpt = os.path.join(work, "checkpoints")
    shutil.rmtree(ckpt, ignore_errors=True)
    os.makedirs(ckpt)
    os.environ["SPARK_GRAFT_CHECKPOINT_DIR"] = ckpt
    # Earlier writes and deletions reach the disk now, not inside the next
    # timed step.
    os.sync()


@dataclass
class Result:
    """What one workload run measured."""

    walls: list[float] = field(default_factory=list)
    cpu: list[float] = field(default_factory=list)
    layers: list[dict[str, float]] = field(default_factory=list)
    # Seconds per key of a lap, or per batch of a sweep.
    part_s: dict[str, list[float]] = field(default_factory=dict)

    def part(self, name: str, seconds: float) -> None:
        self.part_s.setdefault(name, []).append(seconds)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what)


# -- operator laps -----------------------------------------------------------


def key_modules() -> dict[str, str]:
    from pypers_spark.operators import MODULES

    return {k: m.__name__.rsplit(".", 1)[1] for m in MODULES for k in m.QUERIES}


def ops_lap(spark, stats: StatusStore, work: str, keys, sf_dir: str, refs: dict,
            result: Result, tracer: Tracer | None, tag: str) -> None:
    """Build and force each key once, each from a reset engine, so a key
    never reads what an earlier one cached and the key order does not
    change the work; the lap time is the sum of the keys' times."""
    import __spark_entry__ as entry
    from pyspark.sql import Observation

    queries, modules = entry.queries(), key_modules()
    sc = spark.sparkContext
    if tracer:
        tracer.reset()
        tracer.install()
    per_key = []
    try:
        for key in keys:
            reset(spark, work)
            group = f"{tag}:{key}"
            sc.setLocalProperty("spark.jobGroup.id", group)
            result.attempted += 1
            try:
                t0 = time.perf_counter()
                df = queries[key](spark, sf_dir)
                plan_s = time.perf_counter() - t0
                obs = Observation(key)
                df = df.observe(obs, *fingerprint.columns(df))
                t0 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                exec_s = time.perf_counter() - t0
                got = fingerprint.from_row(obs.get)
            except Exception as exc:  # a failing key is counted, the lap goes on
                result.fail(f"{key}: {type(exc).__name__}: {str(exc)[:200]}")
                continue
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            why = fingerprint.mismatch(got, refs[key]) if key in refs else "no reference"
            if why:
                result.fail(f"{key}: {why}")
            per_key.append((key, group, plan_s, exec_s))
            result.part(key, plan_s + exec_s)
            if tracer:
                tracer.add("functions.cache_mb", stats.cached_mb())
    finally:
        if tracer:
            tracer.remove()
    result.walls.append(sum(p + e for _, _, p, e in per_key))
    total = JobTotals()
    layers: dict[str, float] = {}
    for key, group, plan_s, exec_s in per_key:
        t = stats.totals(stats.group_job_ids(group))
        total += t
        if tracer:
            prefix = f"operators.{modules[key]}."
            for name, value in (("plan_s", plan_s), ("exec_s", exec_s), ("jobs", t.jobs),
                                ("cpu_s", t.cpu_s), ("shuffle_mb", t.shuffle_mb),
                                ("spill_mb", t.spill_mb)):
                layers[prefix + name] = layers.get(prefix + name, 0.0) + value
    result.cpu.append(total.cpu_s)
    if tracer:
        layers.update(_common_layers(tracer, total))
        result.layers.append(layers)


def _common_layers(tracer: Tracer, total: JobTotals) -> dict[str, float]:
    v = tracer.values
    return {
        "spark.cpu_run_ratio": total.cpu_s / total.run_s if total.run_s else 0.0,
        "spark.jobs": total.jobs,
        "functions.cache_mb": v.get("functions.cache_mb", 0.0),
        "sources.load_s": v.get("sources.load_s", 0.0),
        "sources.loads": v.get("sources.load_calls", 0.0),
        "checkpoint.writes": v.get("checkpoint.writes", 0.0),
        "checkpoint.mb": v.get("checkpoint.mb", 0.0),
        "checkpoint.call_s": v.get("checkpoint.table_checkpoint_s", 0.0),
    }


# -- task-tree sweep ---------------------------------------------------------


@dataclass
class TreeSpec:
    """Child configs of the roots, before and after each edit."""

    start: dict
    late: dict
    mid: dict

    @classmethod
    def from_seed(cls, rng: random.Random) -> "TreeSpec":
        start, late, mid = {}, {}, {}
        for child in CHILDREN:
            q, q2 = rng.sample(MIN_QUALITY, 2)
            t, t2 = rng.sample(MAX_TOP_TOKEN, 2)
            name, name2 = rng.sample(QUERY_NAMES, 2)
            start[child] = {"curation": (q, t), "query": (name, "k0")}
            late[child] = {"curation": (q, t2), "query": (name, "k1")}
            mid[child] = {"curation": (q2, t2), "query": (name2, "k1")}
        return cls(start, late, mid)


def _child_config(root: str, values) -> dict:
    a, b = values
    if root == "curation":
        return {"quality-filter": {"min_quality": a}, "repetition-filter": {"max_top_token": b}}
    return {"query": {"name": a}, "checkpoint": {"key": f"bench.{b}"}}


def ref_key(root: str, values) -> str:
    """Reference entry of a task: its root and the values that shape its fields."""
    if root == "curation":
        return f"curation/{values[0]}/{values[1]}"
    return f"query/{values[0]}"


def check_checkpoints(work: str, spec: dict, result: Result) -> None:
    """Every query task's checkpoint key in ``spec`` (children by name,
    plus the root) must have a completed artifact."""
    ckpt = os.path.join(work, "checkpoints")
    written = {
        key for key in os.listdir(ckpt)
        if any(os.path.isfile(os.path.join(ckpt, key, d, "_SUCCESS"))
               for d in os.listdir(os.path.join(ckpt, key)))
    }
    want = {_child_config("query", ROOT_VALUES["query"])["checkpoint"]["key"]}
    want |= {_child_config("query", v["query"])["checkpoint"]["key"] for v in spec.values()}
    result.attempted += 1
    missing = want - written
    if missing:
        result.fail(f"no checkpoint written for {sorted(missing)}")


def write_tree(tree: str, sf_dir: str, children: dict) -> None:
    """(Re)write the task specs: the roots, each with the given children."""
    roots = {
        "curation": {"pipeline": CURATION, "config": {"ingest-documents": {"sf_dir": sf_dir}}},
        "query": {
            "pipeline": QUERY,
            "marginal_stages": ["load-tables"],
            "config": {"load-tables": {"sf_dir": sf_dir}},
        },
    }
    for root, spec in roots.items():
        os.makedirs(os.path.join(tree, root), exist_ok=True)
        spec = dict(spec, runnable=True, input_ids=[1])
        spec["config"] = dict(spec["config"], **_child_config(root, ROOT_VALUES[root]))
        _write_yaml(os.path.join(tree, root, "task.yml"), spec)
        for child, values in children.items():
            os.makedirs(os.path.join(tree, root, child), exist_ok=True)
            _write_yaml(
                os.path.join(tree, root, child, "task.yml"),
                {"config": _child_config(root, values[root])},
            )


def _write_yaml(path: str, spec: dict) -> None:
    with open(path, "w") as fh:
        yaml.safe_dump(spec, fh)


def tree_fields(tree: str, children: dict | None) -> dict[str, dict[str, str]]:
    """Stored parquet fields per reference entry, for the given children
    (and the roots when ``children`` is None)."""
    out = {}
    for root in ROOT_VALUES:
        tasks = [(os.path.join(tree, root), ROOT_VALUES[root])]
        if children is not None:
            tasks = [(os.path.join(tree, root, c), v[root]) for c, v in children.items()]
        for path, values in tasks:
            data = os.path.join(path, "data", "1")
            fields = sorted(f for f in os.listdir(data) if f.endswith(".parquet"))
            out[path] = (ref_key(root, values), {f[:-8]: os.path.join(data, f) for f in fields})
    return out


def check_fields(spark, tasks: dict, refs: dict, result: Result) -> dict:
    """Fingerprint every listed field in one Spark job; compare to ``refs``."""
    from pyspark.sql import functions as F

    parts = []
    for path, (key, fields) in tasks.items():
        for name, parquet in fields.items():
            df = spark.read.parquet(parquet)
            parts.append(
                df.agg(*fingerprint.columns(df)).select(
                    F.lit(path).alias("task"), F.lit(name).alias("field"),
                    F.to_json(F.struct("*")).alias("fp"),
                )
            )
    union = parts[0]
    for part in parts[1:]:
        union = union.unionByName(part)
    got: dict = {}
    for row in union.collect():
        got.setdefault(row["task"], {})[row["field"]] = fingerprint.from_row(json.loads(row["fp"]))
    for path, (key, fields) in tasks.items():
        result.attempted += 1
        want = refs.get(key)
        if want is None or set(want) != set(fields):
            result.fail(f"{path}: fields {sorted(fields)} vs reference {key}")
            continue
        for name in fields:
            why = fingerprint.mismatch(got[path][name], want[name])
            if why:
                result.fail(f"{path}/{name}: {why}")
                break
    return {ref: got[p] for p, (ref, _) in tasks.items()}


def run_batch(tree: str, status_dir: str, expect_pending: int | None, result: Result) -> float:
    """One ``Batch.run`` over the tree, sequential; returns its wall time."""
    from pypers_spark.batch import Batch
    from pypers_spark.status import Status

    os.makedirs(status_dir, exist_ok=True)
    os.sync()  # as in reset()
    t0 = time.perf_counter()
    batch = Batch()
    batch.load(tree)
    pending = batch.pending
    ok = asyncio.run(batch.run(pending, status=Status(path=status_dir), max_concurrency=1))
    wall = time.perf_counter() - t0
    if expect_pending is not None:
        result.attempted += 1
        if len(pending) != expect_pending:
            result.fail(f"{len(pending)} tasks pending, expected {expect_pending}")
    if not ok:
        result.fail(f"batch over {tree} failed; see {status_dir}")
    return wall


def task_groups(tree: str, children) -> list[str]:
    """Spark job groups of the tree's tasks: ``Batch.run`` sets
    ``spark.jobGroup.id`` to the task path for every job a task runs."""
    roots = [os.path.join(tree, root) for root in ROOT_VALUES]
    return roots + [os.path.join(r, child) for r in roots for child in children]


def task_sweep(spark, stats: StatusStore, work: str, sf_dir: str, spec: TreeSpec,
               refs: dict | None, result: Result, tracer: Tracer | None, tag: str) -> None:
    """Cold run, no-op re-run, late-stage resume, mid-stage resume; with
    ``refs``, the stored fields are checked after each batch that runs."""
    tree = os.path.join(work, "tree")
    shutil.rmtree(tree, ignore_errors=True)
    write_tree(tree, sf_dir, spec.start)
    reset(spark, work)
    status_root = os.path.join(work, f"status-{tag}")
    shutil.rmtree(status_root, ignore_errors=True)
    before = stats.job_ids()
    if tracer:
        tracer.reset()
        tracer.install()
    try:
        cold = run_batch(tree, os.path.join(status_root, "cold"), N_TASKS, result)
        after_cold = stats.job_ids()
        if refs is not None:
            tasks = tree_fields(tree, None) | tree_fields(tree, spec.start)
            check_fields(spark, tasks, refs, result)
            check_checkpoints(work, spec.start, result)
        noop = run_batch(tree, os.path.join(status_root, "noop"), 0, result)
        resume = 0.0
        for name, edit in (("late", spec.late), ("mid", spec.mid)):
            write_tree(tree, sf_dir, edit)
            seconds = run_batch(tree, os.path.join(status_root, name), N_RESUMED, result)
            result.part(name, seconds)
            resume += seconds
            if refs is not None:
                check_fields(spark, tree_fields(tree, edit), refs, result)
                check_checkpoints(work, edit, result)
    finally:
        if tracer:
            tracer.remove()
    result.walls.append(cold + noop + resume)
    result.part("cold", cold)
    result.part("noop", noop)
    # The fingerprint checks run between batches outside any task's
    # group, so attributing by group leaves them out.
    ran = set().union(*(stats.group_job_ids(g) for g in task_groups(tree, CHILDREN)))
    after = stats.job_ids()
    cold_t = stats.totals(ran & (after_cold - before))
    resume_t = stats.totals(ran & (after - after_cold))
    total = JobTotals()
    total += cold_t
    total += resume_t
    result.cpu.append(total.cpu_s)
    if tracer:
        v = tracer.values
        processed = v.get("pipeline.stages_run", 0.0) + v.get("pipeline.stages_reused", 0.0)
        layers = _common_layers(tracer, total)
        layers.update({
            "batch.cold_s": cold,
            "batch.resume_s": resume,
            "batch.noop_s": noop,
            "batch.pending_s": v.get("batch.pending_s", 0.0),
            "task.stored_mb": dir_mb(tree),
            "task.find_pickup_s": v.get("task.find_pickup_s", 0.0),
            "task.load_s": v.get("task.load_s", 0.0),
            "task.store_s": v.get("task.store_s", 0.0),
            "task.store_mb": v.get("task.store_mb", 0.0),
            "task.fields_written": v.get("task.fields_written", 0.0),
            "pipeline.process_s": v.get("pipeline.process_s", 0.0),
            "pipeline.stages_run": v.get("pipeline.stages_run", 0.0),
            "pipeline.stages_reused": v.get("pipeline.stages_reused", 0.0),
            "pipeline.reuse_ratio": v.get("pipeline.stages_reused", 0.0) / processed if processed else 0.0,
            "status.writes": v.get("status.write_calls", 0.0),
            "status.write_s": v.get("status.write_s", 0.0),
        })
        for phase, t in (("cold", cold_t), ("resume", resume_t)):
            for name in ("jobs", "cpu_s", "shuffle_mb", "spill_mb"):
                layers[f"{phase}.spark.{name}"] = getattr(t, name)
        result.layers.append(layers)
