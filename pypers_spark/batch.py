"""Batch execution over a task tree (SURVEY.md §2.A A13).

Parity with the reference ``repype.batch`` (reference: batch.py:132):
recursive ``task.yml`` discovery, task identity by path, ``contexts`` /
``pending`` run-context lists, an async ``run`` that executes pending
tasks in deterministic path order, and ``cancel``.

Spark-native shift: the reference forks one OS process per task to get
isolation and parallelism. Under Spark the parallelism belongs *inside*
the cluster — every task's jobs should get all executors — so tasks run
async-sequentially in-process against the shared SparkSession, and
cancellation goes through ``SparkContext.cancelAllJobs`` rather than a
process kill (reference: batch.py:309). ``run(max_concurrency=N)`` lets
up to N independent tasks share that session through its FAIR scheduler,
each under its own pool; one scheduler serves every N, sequential being
N = 1.
"""

from __future__ import annotations

import asyncio
import pathlib
import traceback
from typing import Dict, List, Optional, Type

import yaml

from pypers_spark import status as status_mod
from pypers_spark.config import Config
from pypers_spark.pipeline import Pipeline, StageError
from pypers_spark.task import Task, TaskData


class RunContext:
    """The pipeline + config a runnable task will run with."""

    def __init__(self, task: Task):
        assert task.runnable
        self.task = task
        self.pipeline: Pipeline = task.create_pipeline()
        self.config: Config = task.create_config()
        self.pending: str = task.is_pending(self.pipeline, self.config)

    def run(self, *args, **kwargs) -> TaskData:
        return self.task.run(self.config, *args, pipeline=self.pipeline, **kwargs)

    def __eq__(self, other: object) -> bool:
        return (
            isinstance(other, type(self))
            and self.task == other.task
            and self.pipeline == other.pipeline
            and self.config == other.config
            and self.pending == other.pending
        )

    def __repr__(self) -> str:
        return f'<{type(self).__name__} "{self.task.path}">'


class Batch:
    """Tasks discovered from a directory tree, keyed by path."""

    def __init__(self, task_cls: Type[Task] = Task):
        self.tasks: Dict[pathlib.Path, Task] = {}
        self.task_cls = task_cls
        # Future of each task in flight -> its index in the run's path order.
        self._in_flight: Dict[asyncio.Future, int] = {}
        self._cancelled = False

    @property
    def resolved_tasks(self) -> Dict[pathlib.Path, Task]:
        return {task.path.resolve(): task for task in self.tasks.values()}

    def task(self, path, spec: Optional[dict] = None) -> Optional[Task]:
        """Load (or return the already-loaded) task at ``path``.

        The spec comes from the ``spec`` argument or the directory's
        ``task.yml``; parent tasks are attached by directory nesting.
        """
        assert path is not None
        path = pathlib.Path(path)
        task = self.resolved_tasks.get(path.resolve())
        if spec is None:
            spec_filepath = path / "task.yml"
            if not spec_filepath.is_file():
                return task
            with spec_filepath.open("r") as fh:
                spec = yaml.safe_load(fh)
        if task is None:
            parent = self.task(path.parent) if path.parent else None
            task = self.task_cls(path=path, spec=spec, parent=parent)
            assert path not in self.tasks
            self.tasks[path] = task
            return task
        assert task.spec == spec, (
            f"{path}: spec {spec} does not match previously loaded {task.spec}"
        )
        return task

    def load(self, root_path) -> None:
        """Discover every ``task.yml`` under ``root_path`` (recursively)."""
        root_path = pathlib.Path(root_path)
        assert root_path.is_dir()
        for spec_path in sorted(root_path.glob("**/task.yml")):
            self.task(spec_path.parent)

    @property
    def contexts(self) -> List[RunContext]:
        return [RunContext(task) for task in self.tasks.values() if task.runnable]

    @property
    def pending(self) -> List[RunContext]:
        return [rc for rc in self.contexts if rc.pending]

    def context(self, path) -> Optional[RunContext]:
        # Resolve the task first, then build ONE RunContext — going
        # through self.contexts would construct pipeline+config for
        # every runnable task per lookup (the CLI dry-run listing calls
        # this once per listed task, which would be quadratic).
        target = pathlib.Path(path).resolve()
        for task in self.tasks.values():
            if task.runnable and task.path.resolve() == target:
                return RunContext(task)
        return None

    async def run(
        self,
        contexts: Optional[List[RunContext]] = None,
        status=None,
        fail_fast: bool = True,
        max_concurrency: int = 1,
    ) -> bool:
        """Run the pending tasks in deterministic path order.

        Returns True if every task completed. Up to ``max_concurrency``
        tasks are in flight at once. Whenever a slot is free, the first
        context in path order that has not started and whose in-run
        ancestors (path-prefix relation) have all finished starts next.
        So a child always observes its parent's outputs, and at
        ``max_concurrency=1`` (the default) tasks run one after another
        in path order, each ``enter`` status entry's ``step`` being its
        index in that order.

        Each task runs in a worker thread (see ``_run_in_thread``) under
        its own FAIR scheduler pool, against the shared SparkSession.
        With several tasks in flight the cluster scheduler time-slices
        executors between them instead of the OS time-slicing processes:
        the Spark-native answer to the reference's
        one-OS-process-per-task parallelism (reference batch.py:132).
        Each task keeps its own derived status file.

        A task error records an ``error`` status entry (with traceback
        and failing stage). ``fail_fast=True`` (the default, matching
        the reference: its Batch.run stops and returns False on the
        first task error — reference batch.py:293-301; its
        one-process-per-task design is about clean per-task memory, not
        continue-on-error) stops the batch at the first failure.

        ``fail_fast=False`` is an extension for long unattended sweeps:
        the batch continues with the remaining tasks, but DESCENDANTS of
        a failed task are skipped (recorded as ``skipped`` status
        entries) — they would pick up the failed parent's missing or
        stale outputs and cascade.

        A stop (the first failure under ``fail_fast``, or ``cancel``)
        starts no further task; the tasks in flight drain, and a
        cancelled one records an ``interrupted`` entry. Tasks that never
        start after a stop get no status entry, as in the reference.
        Cancelling the ``run`` coroutine itself stops the batch the same
        way, then re-raises ``CancelledError``.
        """
        self._cancelled = False
        self._in_flight = {}
        contexts = self.pending if contexts is None else contexts
        contexts = sorted(contexts, key=lambda rc: rc.task.path.resolve())
        paths = [rc.task.path.resolve() for rc in contexts]
        # In path order, so the first failed ancestor is the topmost.
        ancestors = [[p for p in paths if p in path.parents] for path in paths]
        not_started = list(range(len(contexts)))
        # Every finished or skipped task's path -> whether it succeeded.
        succeeded: Dict[pathlib.Path, bool] = {}
        run_cancelled = False
        while True:
            stopped = self._cancelled or (fail_fast and not all(succeeded.values()))
            while not stopped and len(self._in_flight) < max_concurrency:
                rc_idx = next(
                    (i for i in not_started if all(p in succeeded for p in ancestors[i])),
                    None,
                )
                if rc_idx is None:
                    break
                not_started.remove(rc_idx)
                rc, rc_path = contexts[rc_idx], paths[rc_idx]
                failed_anc = next((p for p in ancestors[rc_idx] if not succeeded[p]), None)
                if failed_anc is not None:
                    status_mod.update(
                        status,
                        info="skipped",
                        task=str(rc_path),
                        reason=f"ancestor task failed: {failed_anc}",
                    )
                    succeeded[rc_path] = False
                    continue
                task_status = status_mod.derive(status)
                status_mod.update(
                    task_status,
                    info="enter",
                    task=str(rc_path),
                    step=rc_idx,
                    step_count=len(contexts),
                )
                fut = asyncio.ensure_future(
                    asyncio.to_thread(_run_in_thread, rc, rc_idx, task_status)
                )
                self._in_flight[fut] = rc_idx
            if not self._in_flight:
                break
            try:
                done, _ = await asyncio.wait(
                    self._in_flight, return_when=asyncio.FIRST_COMPLETED
                )
            except asyncio.CancelledError:
                # run() itself was cancelled: stop as cancel() does, let
                # the in-flight futures (cancelled too) drain into their
                # status entries, then propagate.
                run_cancelled = True
                await self.cancel()
                continue
            for fut in sorted(done, key=self._in_flight.get):
                rc_path = paths[self._in_flight.pop(fut)]
                try:
                    fut.result()
                except (asyncio.CancelledError, Exception) as exc:
                    status_mod.update(
                        status,
                        info="error" if isinstance(exc, Exception) else "interrupted",
                        task=str(rc_path),
                        traceback=traceback.format_exc(),
                        stage=exc.stage.id if isinstance(exc, StageError) else None,
                    )
                    succeeded[rc_path] = False
                else:
                    succeeded[rc_path] = True
        if run_cancelled:
            raise asyncio.CancelledError
        return not stopped and all(succeeded.values())

    async def cancel(self) -> None:
        """Cancel the currently running task(s) (if any)."""
        self._cancelled = True
        if self._in_flight:
            from pyspark.sql import SparkSession

            spark = SparkSession.getActiveSession()
            if spark is not None:
                spark.sparkContext.cancelAllJobs()
            for fut in self._in_flight:
                fut.cancel()


def _run_in_thread(rc: RunContext, rc_idx: int, task_status) -> TaskData:
    """Run one task; ``Batch.run`` calls this in a worker thread so the
    event loop (status readers, UIs) stays responsive while Spark jobs
    run.

    The active SparkSession is thread-local, so ``current_session``
    falls back to the process-wide session here, the one stages see.
    The task's jobs go to its own FAIR pool, so concurrent tasks share
    executors by scheduler weight instead of queueing FIFO behind each
    other, and carry the task path as job group, which attributes them
    to the task.
    """
    from pypers_spark.session import current_session

    spark = current_session()
    props = {
        "spark.scheduler.pool": f"batch-{rc_idx}",
        "spark.jobGroup.id": str(rc.task.path),
    }
    for key, value in props.items():
        try:
            spark.sparkContext.setLocalProperty(key, value)
        except Exception:
            pass
    try:
        return rc.run(status=task_status)
    finally:
        # to_thread reuses worker threads: clear both properties, since
        # a stale jobGroup.id would mis-attribute (and expose to
        # collateral cancelJobGroup) later work from the same thread.
        for key in props:
            try:
                spark.sparkContext.setLocalProperty(key, None)
            except Exception:
                pass
