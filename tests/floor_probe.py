"""The Python-task floor: the wall time of a Spark task whose Python UDF
does nothing.

A local session (``get_spark``, its worker pool warmed) runs one warm-up
round and then ``--rounds`` rounds of ``--tasks`` identity ``mapInArrow``
tasks over ``spark.range``.  Each task's wall (launch to finish) comes from
the Spark event log; the UDF body itself takes well under a millisecond, so
the wall is what every Python task pays before and after its UDF runs.  It
prints one JSON line with the median and the p90 in milliseconds.

    python tests/floor_probe.py [--tasks 16] [--rounds 5]

No test asserts on its timings: they depend on the host and its load.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

GROUP = "floor-probe"


def _identity(batches):
    yield from batches


def task_walls_ms(event_log_dir: str, group: str) -> list[float]:
    """Launch-to-finish wall of every task of the jobs in ``group``."""
    stages: set[int] = set()
    ends = []
    for name in os.listdir(event_log_dir):
        with open(os.path.join(event_log_dir, name)) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    if (ev.get("Properties") or {}).get("spark.jobGroup.id") == group:
                        stages.update(ev["Stage IDs"])
                elif kind == "SparkListenerTaskEnd":
                    ends.append(ev)
    return [
        float(e["Task Info"]["Finish Time"] - e["Task Info"]["Launch Time"])
        for e in ends if e["Stage ID"] in stages
    ]


def main(argv: list[str] | None = None) -> dict:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tasks", type=int, default=16)
    ap.add_argument("--rounds", type=int, default=5)
    args = ap.parse_args(argv)

    from nerzo_spark.session import get_spark, warm_python_workers

    with tempfile.TemporaryDirectory(prefix="floor-probe-") as log_dir:
        spark = get_spark("floor-probe", extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
        })
        sc = spark.sparkContext
        sc.setLogLevel("ERROR")
        warm_python_workers(spark)
        # a noop write runs the Python stage alone: one job, one stage
        write = spark.range(0, args.tasks, numPartitions=args.tasks).mapInArrow(
            _identity, "id long"
        ).write.format("noop").mode("overwrite")
        write.save()  # warm-up round
        sc.setJobGroup(GROUP, GROUP)
        for _ in range(args.rounds):
            write.save()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        spark.stop()
        walls = sorted(task_walls_ms(log_dir, GROUP))
    result = {
        "tasks": len(walls),
        "median_ms": walls[len(walls) // 2],
        "p90_ms": walls[min(int(len(walls) * 0.9), len(walls) - 1)],
    }
    print(json.dumps(result))
    return result


if __name__ == "__main__":
    main()
