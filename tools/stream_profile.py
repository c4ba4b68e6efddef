#!/usr/bin/env python
"""Profile a streaming query drain: run the query like the bench does,
then dump every micro-batch's StreamingQueryProgress durationMs map
(captured via a listener so post-drain q.stop() doesn't lose them).
The stage cache root points at a fresh temp dir for the run (removed
at exit), so a stream query whose serving table an earlier run already
built still drains its micro-batches here.

Usage: python tools/stream_profile.py stream_query_name [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from pyspark.sql.streaming import StreamingQueryListener

    from iot_etl_spark.plans import stagecache
    from iot_etl_spark.session import get_spark

    progresses: list[dict] = []

    class Capture(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            progresses.append(json.loads(p.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    spark = get_spark(
        app_name="stream_profile",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "16g",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.streams.addListener(Capture())

    with tempfile.TemporaryDirectory(prefix="stream_profile_stages_") as root:
        stagecache._CACHE_ROOT = root
        return _profile(spark, name, sf_dir, progresses)


def _profile(spark, name: str, sf_dir: str, progresses: list[dict]) -> int:
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    # engine warmup identical to bench.py
    tiny = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    for warm, wdir in [("stream_json_decode", sf_dir),
                      ("stream_ewma_by_device", tiny if os.path.isdir(tiny) else sf_dir)]:
        try:
            qs[warm](spark, wdir).write.format("noop").mode("overwrite").save()
        except Exception:
            pass
    progresses.clear()

    t0 = time.monotonic()
    qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    wall = time.monotonic() - t0
    time.sleep(1)  # let listener drain

    print(f"== {name}: wall {wall:.2f}s, {len(progresses)} micro-batches")
    tot: dict[str, float] = {}
    for i, p in enumerate(progresses):
        dm = p.get("durationMs", {})
        rows = p.get("numInputRows")
        print(f"batch {p.get('batchId')}: rows={rows} durations={dm}")
        for s in p.get("stateOperators") or []:
            keep = {k: s.get(k) for k in (
                "operatorName", "numRowsTotal", "numRowsUpdated",
                "allUpdatesTimeMs", "numRowsRemoved", "allRemovalsTimeMs",
                "commitTimeMs", "numShufflePartitions",
                "numStateStoreInstances")}
            print(f"  state: {keep}")
        for k, v in dm.items():
            tot[k] = tot.get(k, 0) + v
    print("TOTAL durationMs:", json.dumps(tot))
    return 0


if __name__ == "__main__":
    sys.exit(main())
