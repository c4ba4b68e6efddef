#!/usr/bin/env python
"""Action-side dissection: per-query job/stage/task counts plus runtime
conf A/B on the SAME prebuilt DataFrame (guide §1 empirical loop).

Usage: python tools/actionprof.py q1,q2,... [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

VARIANTS = [
    ("base", {}),
    ("aqe_off", {"spark.sql.adaptive.enabled": "false"}),
    ("par_first_off",
     {"spark.sql.adaptive.coalescePartitions.parallelismFirst": "false"}),
]


def main() -> int:
    names = [n for n in sys.argv[1].split(",") if n]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from iot_etl_spark.session import get_spark

    spark = get_spark(
        app_name="actionprof",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "16g",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    import __spark_entry__ as entrymod
    from iot_etl_spark.sources.tables import load_all

    qs = entrymod.queries()
    for df in load_all(spark, sf_dir).values():
        df.limit(1).count()

    tracker = sc.statusTracker()

    def job_count() -> int:
        ids = tracker.getJobIdsForGroup(None)
        return len(ids)

    out: dict[str, dict] = {}
    for n in names:
        df = qs[n](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()  # warm
        rec: dict = {}
        # count jobs for one action
        sc.setJobGroup(f"ap_{n}", n)
        df.write.format("noop").mode("overwrite").save()
        jids = tracker.getJobIdsForGroup(f"ap_{n}")
        nstages = 0
        ntasks = 0
        for j in jids:
            ji = tracker.getJobInfo(j)
            if ji is None:
                continue
            for s in ji.stageIds:
                si = tracker.getStageInfo(s)
                if si is not None:
                    nstages += 1
                    ntasks += si.numTasks
        rec["jobs"] = len(jids)
        rec["stages"] = nstages
        rec["tasks"] = ntasks
        sc.setJobGroup(None, None)
        for vname, confs in VARIANTS:
            for k, v in confs.items():
                spark.conf.set(k, v)
            ts = []
            for _ in range(3):
                t0 = time.monotonic()
                df.write.format("noop").mode("overwrite").save()
                ts.append(round(time.monotonic() - t0, 3))
            rec[vname] = ts
            for k in confs:
                spark.conf.unset(k)
        out[n] = rec
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
