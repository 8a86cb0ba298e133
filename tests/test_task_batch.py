"""Task + Batch end-to-end tests (parity behaviors from reference
tests/test_task.py and tests/test_batch.py): spec inheritance, config
assembly, sha dirtiness, parquet store/load, pickup resume, batch
discovery and runs."""

from __future__ import annotations

import asyncio
import json

import pytest
import yaml

from pypers_spark.batch import Batch, RunContext
from pypers_spark.config import Config
from pypers_spark.stage import Stage
from pypers_spark.task import Task, decode_input_ids, deep_merge


# Module-level stages so task specs can reference them by dotted name.
class ScanDocs(Stage):
    outputs = ("docs",)

    def process(self, pipeline, config, status=None, **inputs):
        from pypers_spark.session import current_session

        return {"docs": current_session().read.parquet(config["path"])}


class CountChars(Stage):
    inputs = ("docs",)
    outputs = ("stats",)

    def process(self, pipeline, config, status=None, docs=None, **inputs):
        from pyspark.sql import functions as F

        limit = config.get("min_chars", 0)
        return {
            "stats": docs.filter(F.col("n_chars") >= limit)
            .groupBy("lang")
            .agg(F.count("*").alias("n_docs"))
        }


class Summarize(Stage):
    inputs = ("stats",)
    outputs = ("summary",)

    def process(self, pipeline, config, status=None, stats=None, **inputs):
        from pyspark.sql import functions as F

        return {"summary": stats.agg(F.sum("n_docs").alias("total"))}


def write_spec(path, spec):
    path.mkdir(parents=True, exist_ok=True)
    (path / "task.yml").write_text(yaml.safe_dump(spec))


@pytest.fixture
def task_tree(tmp_path, sf_dir):
    """Root task + child task overriding one hyperparameter."""
    write_spec(
        tmp_path / "root",
        {
            "runnable": True,
            "input_ids": [1],
            "pipeline": [
                "tests.test_task_batch.ScanDocs",
                "tests.test_task_batch.CountChars",
                "tests.test_task_batch.Summarize",
            ],
            "config": {
                "scan-docs": {"path": f"{sf_dir}/documents.parquet"},
                "count-chars": {"min_chars": 0},
            },
        },
    )
    write_spec(
        tmp_path / "root" / "strict",
        {"config": {"count-chars": {"min_chars": 200}}},
    )
    return tmp_path / "root"


# -- unit bits ----------------------------------------------------------------


def test_decode_input_ids():
    assert decode_input_ids("1,3,5-8") == [1, 3, 5, 6, 7, 8]
    assert decode_input_ids([3, 1, 1]) == [1, 3]
    assert decode_input_ids(7) == [7]
    assert decode_input_ids("a, b") == ["a", "b"]
    with pytest.raises(ValueError):
        decode_input_ids("8-5")


def test_deep_merge():
    assert deep_merge({}, {"a": {"x": 1}}, {"a": {"y": 2}}) == {"a": {"x": 1, "y": 2}}


def test_full_spec_inheritance(task_tree):
    batch = Batch()
    batch.load(task_tree)
    child = batch.task(task_tree / "strict")
    assert child.full_spec["config"]["count-chars"]["min_chars"] == 200
    assert child.full_spec["runnable"] is True
    assert child.input_ids == [1]


def test_create_config_includes_base_config(tmp_path, sf_dir):
    base = tmp_path / "base.yml"
    base.write_text(yaml.safe_dump({"count-chars": {"min_chars": 50}, "extra": 1}))
    write_spec(
        tmp_path / "t",
        {
            "runnable": True,
            "base_config_path": str(base),
            "config": {"count-chars": {"min_chars": 99}},
        },
    )
    batch = Batch()
    task = batch.task(tmp_path / "t")
    config = task.create_config()
    assert config["count-chars/min_chars"] == 99  # spec config wins
    assert config["extra"] == 1  # base config contributes


# -- end-to-end run / store / load / dirtiness -------------------------------


def test_task_run_store_load_and_dirtiness(task_tree, spark):
    batch = Batch()
    batch.load(task_tree)
    rc = batch.context(task_tree)
    assert rc.pending == "incomplete"

    data = rc.run()
    stats = data[1]["stats"]
    assert stats.count() > 0

    # Completed: no longer pending, digests in place.
    rc2 = RunContext(batch.task(task_tree))
    assert rc2.pending == ""
    assert (task_tree / ".sha.json").is_file()
    assert (task_tree / "data" / "1" / "stats.parquet").is_dir()

    # Reload: fields come back as lazy parquet scans.
    loaded = batch.task(task_tree).load(rc.pipeline)
    assert loaded[1]["stats"].count() == stats.count()
    assert loaded[1]["input_id"] == 1

    # Changing a hyperparameter marks the task dirty with reason
    # 'specification'.
    spec = yaml.safe_load((task_tree / "task.yml").read_text())
    spec["config"]["count-chars"]["min_chars"] = 123
    (task_tree / "task.yml").write_text(yaml.safe_dump(spec))
    fresh = Batch()
    fresh.load(task_tree)
    assert fresh.context(task_tree).pending == "specification"


def test_pickup_resume_from_parent(task_tree, spark):
    batch = Batch()
    batch.load(task_tree)
    parent_rc = batch.context(task_tree)
    parent_rc.run()

    child = batch.task(task_tree / "strict")
    child_rc = RunContext(child)
    assert child_rc.pending == "incomplete"

    pickup = child.find_pickup_task(child_rc.pipeline, child_rc.config)
    assert pickup["task"] is not None
    assert pickup["task"].path == task_tree
    assert pickup["first_diverging_stage"].id == "count-chars"

    data = child_rc.run()
    assert (task_tree / "strict" / "data" / "1" / "summary.parquet").is_dir()
    # Stricter filter keeps fewer docs than the parent's total.
    parent_total = parent_rc.run()[1]["summary"].collect()[0]["total"]
    child_total = data[1]["summary"].collect()[0]["total"]
    assert child_total < parent_total


def test_reset_clears_results(task_tree, spark):
    batch = Batch()
    batch.load(task_tree)
    rc = batch.context(task_tree)
    rc.run()
    task = batch.task(task_tree)
    task.reset()
    assert not (task_tree / ".sha.json").exists()
    assert not (task_tree / "data").exists()
    assert RunContext(task).pending == "incomplete"


def test_marginal_fields_not_persisted(task_tree, spark):
    spec = yaml.safe_load((task_tree / "task.yml").read_text())
    spec["marginal_stages"] = ["count-chars"]
    (task_tree / "task.yml").write_text(yaml.safe_dump(spec))
    batch = Batch()
    batch.load(task_tree)
    rc = batch.context(task_tree)
    rc.run()
    assert not (task_tree / "data" / "1" / "stats.parquet").exists()
    assert (task_tree / "data" / "1" / "summary.parquet").is_dir()


# -- batch --------------------------------------------------------------------


def test_batch_discovery_and_pending(task_tree):
    batch = Batch()
    batch.load(task_tree)
    assert len(batch.tasks) == 2
    assert len(batch.contexts) == 2
    assert {rc.task.path.name for rc in batch.pending} == {"root", "strict"}


def test_batch_run_all(task_tree, spark):
    batch = Batch()
    batch.load(task_tree)
    ok = asyncio.run(batch.run())
    assert ok
    fresh = Batch()
    fresh.load(task_tree)
    assert fresh.pending == []


def test_batch_run_reports_errors(tmp_path, spark):
    write_spec(
        tmp_path / "bad",
        {
            "runnable": True,
            "input_ids": [1],
            "pipeline": ["tests.test_task_batch.ScanDocs"],
            "config": {"scan-docs": {"path": "/nonexistent/nowhere.parquet"}},
        },
    )
    batch = Batch()
    batch.load(tmp_path / "bad")
    from pypers_spark import status as status_mod

    with status_mod.create() as status:
        ok = asyncio.run(batch.run(status=status))
        entries = json.loads(status.filepath.read_text())
    assert not ok
    assert any(isinstance(e, dict) and e.get("info") == "error" for e in entries)


def _flat_status(entries):
    """Resolve nested ``expand`` status entries into one flat list."""
    import pathlib

    out = []
    for e in entries:
        if isinstance(e, dict) and "expand" in e:
            p = pathlib.Path(e["expand"])
            if p.is_file():
                out.extend(_flat_status(json.loads(p.read_text())))
        else:
            out.append(e)
    return out


@pytest.mark.parametrize("max_concurrency", [1, 2])
def test_batch_fail_fast_default_stops_at_first_error(
    tmp_path, sf_dir, spark, max_concurrency
):
    """Reference parity: Batch.run stops and returns False on the first
    task error (reference batch.py:293-301) — later sibling tasks are
    not entered, and get no status entry. Tasks already in flight when
    the error lands (``b_good`` at concurrency 2) drain."""
    write_spec(
        tmp_path / "a_bad",
        {
            "runnable": True,
            "input_ids": [1],
            "pipeline": ["tests.test_task_batch.ScanDocs"],
            "config": {"scan-docs": {"path": "/nonexistent/nowhere.parquet"}},
        },
    )
    for name in ("b_good", "c_good"):
        write_spec(
            tmp_path / name,
            {
                "runnable": True,
                "input_ids": [1],
                "pipeline": ["tests.test_task_batch.ScanDocs"],
                "config": {"scan-docs": {"path": f"{sf_dir}/documents.parquet"}},
            },
        )
    batch = Batch()
    batch.load(tmp_path)
    from pypers_spark import status as status_mod

    with status_mod.create() as status:
        ok = asyncio.run(batch.run(status=status, max_concurrency=max_concurrency))
        entries = _flat_status(json.loads(status.filepath.read_text()))
    assert not ok
    entered = [e["task"] for e in entries if isinstance(e, dict) and e.get("info") == "enter"]
    names = [t.rsplit("/", 1)[-1] for t in entered]
    # stopped before the siblings that had no slot
    assert names == ["a_bad", "b_good"][:max_concurrency]
    assert not any("c_good" in json.dumps(e) for e in entries)


@pytest.mark.parametrize("max_concurrency", [1, 2])
def test_batch_continue_skips_descendants_of_failed_task(
    tmp_path, sf_dir, spark, max_concurrency
):
    """fail_fast=False continues with siblings but skips descendants of
    a failed task — they would resume from the failed parent's outputs.
    The child's own config is valid, so only its ancestor's failure can
    keep it from running; concurrency must not let it start early."""
    write_spec(
        tmp_path / "bad",
        {
            "runnable": True,
            "input_ids": [1],
            "pipeline": ["tests.test_task_batch.ScanDocs"],
            "config": {"scan-docs": {"path": "/nonexistent/nowhere.parquet"}},
        },
    )
    write_spec(
        tmp_path / "bad" / "child",
        {"config": {"scan-docs": {"path": f"{sf_dir}/documents.parquet"}}},
    )
    write_spec(
        tmp_path / "ok",
        {
            "runnable": True,
            "input_ids": [1],
            "pipeline": ["tests.test_task_batch.ScanDocs"],
            "config": {"scan-docs": {"path": f"{sf_dir}/documents.parquet"}},
        },
    )
    batch = Batch()
    batch.load(tmp_path)
    from pypers_spark import status as status_mod

    with status_mod.create() as status:
        ok = asyncio.run(
            batch.run(status=status, fail_fast=False, max_concurrency=max_concurrency)
        )
        entries = _flat_status(json.loads(status.filepath.read_text()))
    assert not ok
    skipped = [e for e in entries if isinstance(e, dict) and e.get("info") == "skipped"]
    assert [e["task"] for e in skipped] == [str((tmp_path / "bad" / "child").resolve())]
    assert skipped[0]["reason"] == f"ancestor task failed: {(tmp_path / 'bad').resolve()}"
    entered = [e["task"] for e in entries if isinstance(e, dict) and e.get("info") == "enter"]
    assert any(t.endswith("ok") for t in entered)  # sibling still ran
    assert not any("child" in t for t in entered)


def test_batch_sequential_run_enters_tasks_in_path_order(tmp_path, sf_dir, spark):
    """At max_concurrency=1 a child runs right after its parent, before
    the next root: tasks enter in path order with ``step`` 0..n-1, even
    though the second root is ready before the first root's child."""
    for root in ("r1", "r2"):
        write_spec(
            tmp_path / root,
            {
                "runnable": True,
                "input_ids": [1],
                "pipeline": ["tests.test_task_batch.ScanDocs"],
                "config": {"scan-docs": {"path": f"{sf_dir}/documents.parquet"}},
            },
        )
        write_spec(tmp_path / root / "c", {"input_ids": [1]})
    batch = Batch()
    batch.load(tmp_path)
    from pypers_spark import status as status_mod

    with status_mod.create() as status:
        assert asyncio.run(batch.run(status=status))
        entries = _flat_status(json.loads(status.filepath.read_text()))
    entered = [
        (e["task"], e["step"], e["step_count"])
        for e in entries
        if isinstance(e, dict) and e.get("info") == "enter"
    ]
    order = ["r1", "r1/c", "r2", "r2/c"]
    assert entered == [
        (str((tmp_path / name).resolve()), step, 4) for step, name in enumerate(order)
    ]


def test_times_benchmark_persisted(task_tree, spark):
    batch = Batch()
    batch.load(task_tree)
    rc = batch.context(task_tree)
    rc.run()
    times = batch.task(task_tree).times
    assert times["scan-docs", "1"] >= 0
    assert (task_tree / "times.csv").is_file()


def test_marginal_stages_by_dotted_name(task_tree, spark):
    spec = yaml.safe_load((task_tree / "task.yml").read_text())
    spec["marginal_stages"] = ["tests.test_task_batch.CountChars"]
    (task_tree / "task.yml").write_text(yaml.safe_dump(spec))
    batch = Batch()
    batch.load(task_tree)
    task = batch.task(task_tree)
    assert list(task.marginal_stages) == ["count-chars"]
    rc = batch.context(task_tree)
    rc.run()
    assert not (task_tree / "data" / "1" / "stats.parquet").exists()


def test_task_multiple_input_ids(tmp_path, sf_dir, spark):
    """The run loop processes each input id with its own config adoption
    and persists per-input parquet subtrees."""

    write_spec(
        tmp_path / "multi",
        {
            "runnable": True,
            "input_ids": "1-3",
            "pipeline": [
                "tests.test_task_batch.ScanDocs",
                "tests.test_task_batch.CountChars",
            ],
            "config": {"scan-docs": {"path": f"{sf_dir}/documents.parquet"}},
        },
    )
    batch = Batch()
    batch.load(tmp_path / "multi")
    task = batch.task(tmp_path / "multi")
    assert task.input_ids == [1, 2, 3]
    rc = batch.context(tmp_path / "multi")
    data = rc.run()
    assert set(data.keys()) == {1, 2, 3}
    for i in (1, 2, 3):
        assert (tmp_path / "multi" / "data" / str(i) / "stats.parquet").is_dir()
        assert data[i]["input_id"] == i
    times = task.times
    assert set(times.df.columns.astype(str)) == {"1", "2", "3"}


def test_store_removes_stale_fields(task_tree, spark):
    """Dropping a stage between runs must not leave its parquet behind —
    load() asserts exact field sets and would break resume forever."""
    batch = Batch()
    batch.load(task_tree)
    batch.context(task_tree).run()
    assert (task_tree / "data" / "1" / "summary.parquet").is_dir()

    spec = yaml.safe_load((task_tree / "task.yml").read_text())
    spec["pipeline"] = spec["pipeline"][:2]  # drop Summarize
    (task_tree / "task.yml").write_text(yaml.safe_dump(spec))
    fresh = Batch()
    fresh.load(task_tree)
    rc = fresh.context(task_tree)
    rc.run()
    assert not (task_tree / "data" / "1" / "summary.parquet").exists()
    # And the stored data loads cleanly against the new pipeline.
    fresh.task(task_tree).load(rc.pipeline)


def test_times_survive_pickup(task_tree, spark):
    """Inherited stage times must survive the CSV roundtrip on pickup
    (int input ids vs stringified CSV columns)."""
    batch = Batch()
    batch.load(task_tree)
    batch.context(task_tree).run()
    child_rc = RunContext(batch.task(task_tree / "strict"))
    child_rc.run()
    times = batch.task(task_tree / "strict").times
    # The child only re-ran count-chars onward; scan-docs time was
    # inherited from the parent and must still be present.
    import math

    assert not math.isnan(times["scan-docs", 1])
    assert not math.isnan(times["count-chars", 1])


class SlowStage(Stage):
    outputs = ("slow",)

    def process(self, pipeline, config, status=None, **inputs):
        import time as _time

        _time.sleep(config.get("sleep_s", 5.0))
        from pypers_spark.session import current_session

        return {"slow": current_session().range(1)}


@pytest.mark.parametrize("max_concurrency", [1, 2])
def test_batch_cancel_interrupts_run(tmp_path, sf_dir, max_concurrency):
    """Parity with reference tests/test_batch.py::Batch__cancel: cancel
    mid-run → Batch.run returns False promptly and records an
    'interrupted' status entry for each task in flight. A task that had
    no slot never starts."""
    import time

    from pypers_spark import status as status_mod

    for name in ("slow_a", "slow_b"):
        write_spec(
            tmp_path / name,
            {
                "runnable": True,
                "input_ids": [1],
                "pipeline": ["tests.test_task_batch.SlowStage"],
                "config": {"slow-stage": {"sleep_s": 5.0}},
            },
        )
    batch = Batch()
    batch.load(tmp_path)

    async def scenario():
        with status_mod.create() as status:
            t0 = time.time()
            run = asyncio.ensure_future(
                batch.run(status=status, max_concurrency=max_concurrency)
            )
            await asyncio.sleep(0.4)
            await batch.cancel()
            ret = await run
            dt = time.time() - t0
            return ret, dt, _flat_status(json.loads(status.filepath.read_text()))

    ret, dt, entries = asyncio.run(scenario())
    assert ret is False
    assert dt < 3.0  # did not wait out the 5 s stage
    by_info = {}  # batch-level entries only, not the task's own progress
    for e in entries:
        if isinstance(e, dict) and e.get("info") in ("enter", "interrupted", "skipped", "error"):
            by_info.setdefault(e["info"], set()).add(e["task"].rsplit("/", 1)[-1])
    started = {"slow_a", "slow_b"} if max_concurrency == 2 else {"slow_a"}
    assert by_info == {"enter": started, "interrupted": started}


# Enter/exit wall intervals recorded by SparkJobStage invocations, so
# the concurrency test can gate on OVERLAP EVIDENCE (two task intervals
# intersecting) instead of wall-clock ratios alone, which flake under
# CI load (r9 advice). Module-global is fine: batch threads share this
# process.
SPARK_JOB_INTERVALS: list[tuple[float, float]] = []


class SparkJobStage(Stage):
    """A stage that holds the wall for ~sleep_s AND submits a real Spark
    job, so a concurrent batch exercises multi-threaded job submission
    under per-task FAIR pools, not just Python-side sleeps."""

    outputs = ("out",)

    def process(self, pipeline, config, status=None, **inputs):
        import time as _time

        from pypers_spark.session import current_session

        spark = current_session()
        t_enter = _time.time()
        t_end = t_enter + config.get("sleep_s", 1.0)
        n = 0
        while _time.time() < t_end:
            n = spark.range(10_000).count()  # one small job per lap
            _time.sleep(0.05)
        SPARK_JOB_INTERVALS.append((t_enter, _time.time()))
        return {"out": spark.range(n)}


def test_batch_concurrent_run_wall_and_status_isolation(tmp_path, sf_dir, spark):
    """SURVEY §2.A A13 / r8 verdict #3: Batch-level parallelism under ONE
    SparkSession. Three independent tasks, each holding ~1.2 s of wall
    while submitting Spark jobs, run through Batch.run(max_concurrency=3)
    with per-task FAIR pools. The gate: wall ≈ max(task walls), NOT the
    sum (the reference gets this with one OS process per task —
    reference batch.py:132; the Spark answer is scheduler sharing), and
    each task's status entries land in its OWN derived status file."""
    import time

    from pypers_spark import status as status_mod

    sleep_s = 1.2
    for phase in ("seq", "conc"):
        for name in ("t_a", "t_b", "t_c"):
            write_spec(
                tmp_path / phase / name,
                {
                    "runnable": True,
                    "input_ids": [1],
                    "pipeline": ["tests.test_task_batch.SparkJobStage"],
                    "config": {"spark-job-stage": {"sleep_s": sleep_s}},
                },
            )

    # Sequential baseline first (also warms the Spark job machinery so
    # the concurrent measurement isn't dominated by first-job setup).
    seq_batch = Batch()
    seq_batch.load(tmp_path / "seq")
    assert len(seq_batch.pending) == 3
    with status_mod.create() as status:
        t0 = time.time()
        assert asyncio.run(seq_batch.run(status=status))
        seq_wall = time.time() - t0
    # Sanity: sequential pays (nearly) the sum, not the max. The bound
    # is 2x, not 3x, because the stage's sleep loop can underrun its
    # target by a lap and wall-clock reads drift under suite load —
    # the proof of concurrency is the ratio gate below, not this check.
    assert seq_wall >= 2 * sleep_s

    batch = Batch()
    batch.load(tmp_path / "conc")
    assert len(batch.pending) == 3
    import pathlib as _pl

    SPARK_JOB_INTERVALS.clear()
    with status_mod.create() as status:
        t0 = time.time()
        ok = asyncio.run(batch.run(status=status, max_concurrency=3))
        wall = time.time() - t0
        raw = json.loads(status.filepath.read_text())
        entries = _flat_status(raw)
        expand_contents = {
            e["expand"]: _flat_status(json.loads(_pl.Path(e["expand"]).read_text()))
            for e in raw
            if isinstance(e, dict) and "expand" in e
        }
    assert ok
    # PRIMARY concurrency gate (r9 advice): direct overlap evidence.
    # Each stage recorded its (enter, exit) wall interval; at some
    # instant at least two of the three task intervals must be active
    # simultaneously. This holds whenever tasks actually overlapped,
    # however badly GC/scheduler stalls inflate the total wall.
    intervals = list(SPARK_JOB_INTERVALS)
    assert len(intervals) == 3
    peak = max(
        sum(1 for a, b in intervals if a <= t < b)
        for t, _ in intervals
    )
    assert peak >= 2, f"no two task intervals overlap: {intervals}"
    # SECONDARY (looser) wall bound: concurrent wall must still beat
    # the sequential baseline by a visible margin — 0.75x, not the
    # old 0.6x, so a loaded box can't flake a genuinely-overlapping
    # run (the overlap gate above is the real proof).
    assert wall < 0.75 * seq_wall, (
        f"concurrent wall {wall:.2f}s vs sequential {seq_wall:.2f}s — "
        "tasks did not overlap"
    )
    # All three tasks entered and none was skipped or errored.
    entered = {e["task"] for e in entries if isinstance(e, dict) and e.get("info") == "enter"}
    assert len(entered) == 3
    assert not any(
        isinstance(e, dict) and e.get("info") in ("error", "skipped", "interrupted")
        for e in entries
    )
    # Status isolation: each task's 'enter' lives in its own derived
    # (expand) status file — the parent file holds one expand pointer
    # per task, and no derived file mentions two different task paths.
    assert len(expand_contents) == 3
    per_file_tasks = []
    for f, sub in expand_contents.items():
        tasks = {e["task"] for e in sub if isinstance(e, dict) and "task" in e}
        assert len(tasks) == 1, f"status file {f} interleaves tasks: {tasks}"
        per_file_tasks.append(next(iter(tasks)))
    assert len(set(per_file_tasks)) == 3


# -- Task.store executes each stored lineage once -----------------------------


def _cache_manager(spark):
    return spark._jsparkSession.sharedState().cacheManager()


def _store_chunk(path, chunk):
    """Store one hand-built chunk (input id 1) through ``Task.store``."""
    from pypers_spark.pipeline import create_pipeline

    task = Task(path, {"runnable": True, "input_ids": [1]})
    task.store(create_pipeline([]), {1: chunk}, Config(), task.times)
    return task


@pytest.fixture
def write_log(spark, monkeypatch):
    """Record, per parquet write, whether any DataFrame was cached."""
    from pyspark.sql.readwriter import DataFrameWriter

    spark.catalog.clearCache()
    log = []
    original = DataFrameWriter.parquet

    def parquet(self, path, *args, **kwargs):
        log.append(not _cache_manager(spark).isEmpty())
        return original(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    yield log
    spark.catalog.clearCache()


def test_store_runs_shared_upstream_once(tmp_path, spark, write_log):
    """A field built on another stored field reads the other's cache:
    the upstream UDF runs once per row, not once per written field."""
    from pyspark.sql import functions as F

    calls = spark.sparkContext.accumulator(0)

    @F.udf("long")
    def tick(v):
        calls.add(1)
        return v

    a = spark.range(0, 20, numPartitions=2).withColumn("x", tick("id"))
    b = a.groupBy((F.col("x") % 3).alias("k")).agg(F.sum("x").alias("s"))
    task = _store_chunk(tmp_path, {"a": a, "b": b})
    assert calls.value == 20
    assert write_log == [True, True]
    assert _cache_manager(spark).isEmpty()
    stored = task.load()[1]
    assert stored["a"].count() == 20
    assert sorted(r["s"] for r in stored["b"].collect()) == [57, 63, 70]


def test_store_releases_cache_when_a_write_fails(tmp_path, spark, write_log):
    from pyspark.sql import functions as F

    @F.udf("long")
    def boom(v):
        raise ValueError("field b fails mid-write")

    a = spark.range(10).withColumn("x", F.col("id") * 2)
    b = a.withColumn("y", boom("x"))
    with pytest.raises(Exception, match="field b fails mid-write"):
        _store_chunk(tmp_path, {"a": a, "b": b})
    assert write_log == [True, True]
    assert _cache_manager(spark).isEmpty()


def test_store_caches_nothing_without_a_shared_lineage(tmp_path, spark, write_log):
    """One field, two independent fields, or a derived field next to a
    field loaded from its own target: no write runs with a cache."""
    from pyspark.sql import functions as F

    a = spark.range(10).withColumn("x", F.col("id") * 2)
    _store_chunk(tmp_path / "one", {"a": a})
    _store_chunk(tmp_path / "two", {"a": a, "c": spark.range(5)})
    task = _store_chunk(tmp_path / "self", {"a": a})
    loaded = task.load()[1]["a"]
    _store_chunk(tmp_path / "self", {"a": loaded, "b": loaded.groupBy("x").count()})
    assert write_log == [False, False, False, False, False]
    assert _cache_manager(spark).isEmpty()
    assert task.load()[1]["b"].count() == 10
