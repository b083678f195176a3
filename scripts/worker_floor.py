"""Per-task Python worker floor: identity ``mapInArrow`` vs a JVM-only job.

Runs, at 4, 8, 16 and 32 tasks over the same tiny ``range`` input, an
identity ``mapInArrow`` whose workers import ``marky_spark`` (as every
engine UDF's do) and a JVM-only ``count`` of the same partitions, and prints
the median wall of each, then the per-task slope of the difference. Re-check
it after a Spark or Python upgrade: the floor is set by the worker's per-task
set-up, not by the work in a task.

Usage: python scripts/worker_floor.py [cores] [repeats]
       (defaults: the CPUs this process may use, 5)
"""

from __future__ import annotations

import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
TASKS = (4, 8, 16, 32)
ROWS_PER_TASK = 100


def _identity(batches):
    import marky_spark  # noqa: F401  the worker set-up an engine UDF gets

    yield from batches


def _median_wall(job, repeats: int) -> float:
    walls = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        job()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def main() -> None:
    cores = int(sys.argv[1]) if len(sys.argv) > 1 else len(os.sched_getaffinity(0))
    repeats = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [REPO] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])

    from marky_spark.session import get_spark

    spark = get_spark(app="worker-floor", master=f"local[{cores}]", confs={
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    })
    spark.sparkContext.setLogLevel("ERROR")

    def df(n: int):
        return spark.range(n * ROWS_PER_TASK, numPartitions=n)

    try:
        # start a Python worker on every task slot before timing
        df(2 * cores).mapInArrow(_identity, schema="id long").count()
        rows = []
        print(f"local[{cores}], median of {repeats}")
        print(f"{'tasks':>5}  {'identity_s':>10}  {'jvm_only_s':>10}")
        for n in TASKS:
            py = _median_wall(
                lambda: df(n).mapInArrow(_identity, schema="id long").count(), repeats)
            jvm = _median_wall(lambda: df(n).count(), repeats)
            rows.append((n, py - jvm))
            print(f"{n:>5}  {py:>10.3f}  {jvm:>10.3f}")
        (n0, d0), (n1, d1) = rows[0], rows[-1]
        slope = (d1 - d0) / (n1 - n0)
        print(f"per-task slope (identity - jvm_only, {n0}->{n1} tasks): "
              f"{slope * 1000:.1f} ms/task wall, ≈ {slope * 1000 * cores:.0f} ms "
              f"of worker time per task over {cores} slots")
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
