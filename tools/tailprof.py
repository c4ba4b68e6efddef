#!/usr/bin/env python
"""Fixed-overhead dissection for the sub-second query tail (guide §1).

For each query: separates DataFrame BUILD time (Python plan
construction + Py4J + analysis) from ACTION time (noop write =
optimize + physical plan + execute), and re-runs the action on the
prebuilt DataFrame to distinguish per-action from per-build cost.
Optionally A/Bs runtime confs across the same set.

Usage: python tools/tailprof.py q1,q2,... [reps] [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    names = [n for n in sys.argv[1].split(",") if n]
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from iot_etl_spark.session import get_spark

    spark = get_spark(
        app_name="tailprof",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "16g"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod
    from iot_etl_spark.sources.tables import load_all

    qs = entrymod.queries()
    for df in load_all(spark, sf_dir).values():
        df.limit(1).count()
    # warm one build+action per query (stage mints, codegen)
    for n in names:
        try:
            qs[n](spark, sf_dir).write.format("noop").mode("overwrite").save()
        except Exception as exc:
            print(f"warm {n} FAILED: {exc}", file=sys.stderr)

    out: dict[str, dict] = {}
    for n in names:
        spark.sparkContext.setJobDescription(f"tailprof:{n}")
        builds, actions, reactions = [], [], []
        df = None
        for _ in range(reps):
            t0 = time.monotonic()
            df = qs[n](spark, sf_dir)
            t1 = time.monotonic()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.monotonic()
            builds.append(round(t2 - t2 + t1 - t0, 3))
            actions.append(round(t2 - t1, 3))
        for _ in range(reps):
            t2 = time.monotonic()
            df.write.format("noop").mode("overwrite").save()
            reactions.append(round(time.monotonic() - t2, 3))
        out[n] = {
            "build": builds,
            "action": actions,
            "reaction": reactions,
        }
        spark.sparkContext.setJobDescription(None)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
