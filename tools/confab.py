#!/usr/bin/env python
"""Interleaved runtime-conf A/B over a query set (guide §1): alternates
variant order per rep so drift/pressure hits both sides equally.

Usage: python tools/confab.py q1,q2,... reps key=val[,key=val...] [sf_dir]
Prints per-variant sums and per-query medians.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    names = [n for n in sys.argv[1].split(",") if n]
    reps = int(sys.argv[2])
    confs = dict(kv.split("=", 1) for kv in sys.argv[3].split(","))
    sf_dir = sys.argv[4] if len(sys.argv) > 4 else "/root/testdata/sf0.1"
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from iot_etl_spark.session import get_spark

    spark = get_spark(
        app_name="confab",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "16g",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod
    from iot_etl_spark.sources.tables import load_all

    qs = entrymod.queries()
    for df in load_all(spark, sf_dir).values():
        df.limit(1).count()

    def set_variant(on: bool) -> None:
        for k, v in confs.items():
            if on:
                spark.conf.set(k, v)
            else:
                spark.conf.unset(k)

    # warm both variants
    for n in names:
        for on in (False, True):
            set_variant(on)
            try:
                qs[n](spark, sf_dir).write.format("noop").mode("overwrite").save()
            except Exception as exc:
                print(f"warm {n} FAILED: {exc}", file=sys.stderr)
        set_variant(False)

    res: dict[str, dict[str, list[float]]] = {
        n: {"base": [], "variant": []} for n in names
    }
    for rep in range(reps):
        order = [False, True] if rep % 2 == 0 else [True, False]
        for on in order:
            set_variant(on)
            key = "variant" if on else "base"
            for n in names:
                t0 = time.monotonic()
                try:
                    qs[n](spark, sf_dir).write.format("noop").mode("overwrite").save()
                    res[n][key].append(round(time.monotonic() - t0, 3))
                except Exception as exc:
                    print(f"{n} FAILED under {key}: {exc}", file=sys.stderr)
                    res[n][key].append(-1.0)
            set_variant(False)

    base_sum = sum(statistics.median(v["base"]) for v in res.values())
    var_sum = sum(statistics.median(v["variant"]) for v in res.values())
    print(json.dumps({
        "confs": confs,
        "base_sum_of_medians": round(base_sum, 2),
        "variant_sum_of_medians": round(var_sum, 2),
        "per_query": {
            n: {
                "base": round(statistics.median(v["base"]), 3),
                "variant": round(statistics.median(v["variant"]), 3),
            }
            for n, v in res.items()
        },
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
