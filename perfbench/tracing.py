"""Per-layer timers installed from outside the program.

``Tracer.install`` wraps the public calls the benchmark drives, one layer
boundary each, and ``Tracer.remove`` puts the originals back, so an
untraced lap runs the program exactly as shipped. Each wrapper adds its
wall time and a call count to one named counter; counters stay in memory
and are read when the lap ends. ``Batch.run`` is timed where the
benchmark calls it (``workloads.run_batch``).
"""

from __future__ import annotations

import functools
import os
import time
from collections import defaultdict

MB = 1024 * 1024


def dir_mb(path: str) -> float:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / MB


class Tracer:
    """Counters of time, calls and sizes, keyed by metric name."""

    def __init__(self):
        self.values: dict[str, float] = defaultdict(float)
        self._undo: list = []

    def add(self, name: str, value: float) -> None:
        self.values[name] += value

    def reset(self) -> None:
        self.values.clear()

    def _patch(self, owner, attr: str, wrapper) -> None:
        original = owner.__dict__[attr]
        self._undo.append((owner, attr, original))
        setattr(owner, attr, wrapper(original))

    def _timed(self, owner, attr: str, metric: str, after=None) -> None:
        def wrapper(original):
            @functools.wraps(original)
            def timed(*args, **kwargs):
                started = time.time()
                t0 = time.perf_counter()
                try:
                    result = original(*args, **kwargs)
                finally:
                    self.add(metric + "_s", time.perf_counter() - t0)
                    self.add(metric + "_calls", 1)
                if after is not None:
                    after(started, result, *args, **kwargs)
                return result

            return timed

        self._patch(owner, attr, wrapper)

    def install(self) -> None:
        from pypers_spark import batch, pipeline, status, task
        from pypers_spark.functions import checkpoint
        from pypers_spark.sources import registry

        def after_store(started, result, task_obj, *args, **kwargs):
            for root, dirs, _ in os.walk(task_obj.data_dirpath):
                for d in dirs:
                    path = os.path.join(root, d)
                    if d.endswith(".parquet") and os.path.getmtime(path) >= started - 1e-3:
                        self.add("task.fields_written", 1)
                        self.add("task.store_mb", dir_mb(path))

        def after_process(started, result, pipe, *args, **kwargs):
            ran = len(result[2])
            self.add("pipeline.stages_run", ran)
            self.add("pipeline.stages_reused", len(pipe.stages) - ran)

        def after_checkpoint(started, result, df, key):
            base = os.path.join(checkpoint.checkpoint_dir(), key)
            for entry in os.listdir(base) if os.path.isdir(base) else ():
                path = os.path.join(base, entry)
                if os.path.getmtime(path) >= started - 1e-3:
                    self.add("checkpoint.writes", 1)
                    self.add("checkpoint.mb", dir_mb(path))

        self._timed(task.Task, "find_pickup_task", "task.find_pickup")
        self._timed(task.Task, "load", "task.load")
        self._timed(task.Task, "store", "task.store", after_store)
        self._timed(pipeline.Pipeline, "process", "pipeline.process", after_process)
        self._timed(status.Status, "update", "status.write")
        self._timed(checkpoint, "table_checkpoint", "checkpoint.table_checkpoint", after_checkpoint)
        # LazyTables looks load_table up in its own module on every access.
        self._timed(registry, "load_table", "sources.load")

        pending = batch.Batch.__dict__["pending"]

        def timed_pending(this):
            t0 = time.perf_counter()
            try:
                return pending.fget(this)
            finally:
                self.add("batch.pending_s", time.perf_counter() - t0)

        self._undo.append((batch.Batch, "pending", pending))
        batch.Batch.pending = property(timed_pending)

    def remove(self) -> None:
        while self._undo:
            owner, attr, original = self._undo.pop()
            setattr(owner, attr, original)
