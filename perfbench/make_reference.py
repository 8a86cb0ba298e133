"""Regenerate ``perfbench/reference.json``, the outputs the benchmark checks.

Run from the repository root after a change that is meant to alter
operator or task outputs, or the input tables:

    python3 perfbench/make_reference.py

It first checks every benchmarked key, and every query the task tree
runs, against its DuckDB oracle (``tests/oracle_check.py``) on the sf0.01
tables and stops if any disagrees. Then it fingerprints every key at
each scale the benchmark runs it at (warm-up and timed laps), twice, and
stops if the two runs differ. Last, it runs one cold batch over a task
tree holding every child spec the sweep can reach, fingerprints each
task's stored fields, and stops if two specs an edit moves between have
the same fields, since a resume that ignored the edit would then pass.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
# DuckDB oracles take minutes per dedup key at sf0.1, so they run smaller.
ORACLE_SCALE = "sf0.01"


def main() -> int:
    root = os.getcwd()
    sys.path[:0] = [HERE, root]
    import run

    work = os.path.join(root, ".perfbench_work", f"reference-{os.getpid()}")
    os.makedirs(work)
    run.configure_env(root, work)
    try:
        refs = build(work)
    finally:
        from pyspark.sql import SparkSession

        active = SparkSession.getActiveSession()
        if active is not None:
            active.stop()
        shutil.rmtree(work, ignore_errors=True)
    if refs is None:
        return 1
    with open(os.path.join(HERE, "reference.json"), "w") as fh:
        json.dump(refs, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


def build(work: str) -> dict | None:
    import itertools

    import __spark_entry__ as entry
    import fingerprint
    import run
    import workloads as wl
    from tests.oracle_check import check_query, duck_connection

    scale_keys: dict[str, set] = {}
    for workload, keys in wl.OPS_KEYS.items():
        for scale in run.WORKLOADS[workload]:
            scale_keys.setdefault(scale, set()).update(keys)
    scales = {ORACLE_SCALE} | {s for pair in run.WORKLOADS.values() for s in pair}
    dirs, _ = run.make_inputs(scales, work)
    _, spark = run.set_up()
    queries = entry.queries()

    con = duck_connection(dirs[ORACLE_SCALE])
    tree_queries = {wl.ROOT_VALUES["query"][0], *wl.QUERY_NAMES}
    all_keys = sorted(set().union(tree_queries, *scale_keys.values()))
    bad = {k: p for k in all_keys if (p := check_query(spark, con, k, dirs[ORACLE_SCALE]))}
    for key, problems in bad.items():
        print(f"oracle mismatch {key}: {problems[:3]}", file=sys.stderr)
    if bad:
        return None

    refs: dict = {"ops": {}, "tasks": {}}
    for scale, keys in sorted(scale_keys.items()):
        out = refs["ops"][scale] = {}
        for key in sorted(keys):
            prints = []
            for _ in range(2):
                wl.reset(spark, work)
                prints.append(fingerprint.compute(queries[key](spark, dirs[scale])))
            why = fingerprint.mismatch(prints[1], prints[0])
            if why:
                print(f"{key} at {scale} is not repeatable: {why}", file=sys.stderr)
                return None
            out[key] = prints[0]

    combos = list(itertools.product(wl.MIN_QUALITY, wl.MAX_TOP_TOKEN))
    children = {
        f"r{i}": {
            "curation": combo,
            "query": (wl.QUERY_NAMES[i % len(wl.QUERY_NAMES)], "k0"),
        }
        for i, combo in enumerate(combos)
    }
    tree = os.path.join(work, "tree")
    task_scale = run.WORKLOADS["task_sweep"][1]
    wl.write_tree(tree, dirs[task_scale], children)
    wl.reset(spark, work)
    result = wl.Result()
    wl.run_batch(tree, os.path.join(work, "status"), None, result)
    if result.failed:
        print("\n".join(result.errors), file=sys.stderr)
        return None
    tasks = wl.tree_fields(tree, None) | wl.tree_fields(tree, children)
    task_refs = refs["tasks"][task_scale] = wl.check_fields(spark, tasks, {}, wl.Result())
    same = [
        (a, b) for a, b in itertools.combinations(sorted(task_refs), 2)
        if a.split("/")[0] == b.split("/")[0]
        and all(not fingerprint.mismatch(task_refs[a][f], task_refs[b][f])
                for f in set(task_refs[a]) & set(task_refs[b]))
    ]
    for a, b in same:
        print(f"task specs {a} and {b} store the same fields", file=sys.stderr)
    return None if same else refs


if __name__ == "__main__":
    sys.exit(main())
