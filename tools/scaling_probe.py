#!/usr/bin/env python
"""Core-count scaling probe at a larger-than-sf0.1 frame (VERDICT r13
item 6): at sf0.1 every query is bounded by the per-stage scheduling
floor, so the c8/c32 block cannot show whether the shuffle-bearing
plans actually scale with cores (BENCH_r13_c8 geomean 0.90). This probe
replicates the sf0.1 FACT tables (events, lineitem, orders) REPx into a
scratch dir in the testdata layout (dimension tables copied verbatim),
then mini-benches a fixed set of shuffle-heavy queries at 8 and 32
cores in separate subprocess sessions and reports per-query
best-of-later-reps plus the c8/c32 ratio.

Informational artifact only — no engine code depends on it. Row
duplication changes aggregates' VALUES, not the plan shapes whose
scaling is being measured; the stage cache mints fresh tags for the
scratch dir (paid in rep 0, excluded from the kept number) and the
scratch dir is deleted afterwards.

Usage: python tools/scaling_probe.py [rep_factor] [out_json]
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.run import cpu_times  # noqa: E402

SRC = "/root/testdata/sf0.1"
SCRATCH = "/tmp/iot_etl_scaling_sfX"
FACTS = ("events", "lineitem", "orders")
DIMS = ("customer", "part", "supplier", "nation", "region",
        "documents", "embeddings")

# Shuffle-bearing, non-stream queries spanning the join / window /
# aggregate / pair-expansion families. Graph/stage-family queries are
# deliberately excluded: their stage mint against the scratch dir would
# dominate rep 0 and their consumers are projection-thin by design.
QUERIES = [
    "pricing_summary",
    "revenue_by_nation",
    "hourly_device_agg",
    "order_payment_reconcile",
    "q18_large_volume_customers",
    "q21_sole_blame_supplier",
    "enriched_lineitem_topk",
    "weighted_median_price",
    "theilsen_trend_recent",
    "ewma_control_chart",
    "shipping_delay_stats",
    "interval_overlap_load",
]


def build_scratch(rep: int) -> None:
    import pyarrow.parquet as pq

    shutil.rmtree(SCRATCH, ignore_errors=True)
    os.makedirs(SCRATCH)
    for t in DIMS:
        shutil.copy(os.path.join(SRC, f"{t}.parquet"),
                    os.path.join(SCRATCH, f"{t}.parquet"))
    for t in FACTS:
        src = os.path.join(SRC, f"{t}.parquet")
        out_dir = os.path.join(SCRATCH, f"{t}.parquet")
        os.makedirs(out_dir)
        table = pq.read_table(src)
        for i in range(rep):
            pq.write_table(
                table, os.path.join(out_dir, f"part-{i:03d}.parquet")
            )


def run_width(cpus: int, reps: int) -> dict[str, list[float]]:
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    out = subprocess.run(
        [sys.executable, os.path.join(os.path.dirname(__file__),
                                      "minibench.py"),
         ",".join(QUERIES), str(reps), SCRATCH],
        env=env, capture_output=True, text=True, timeout=3600,
    )
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        print(out.stderr, file=sys.stderr)
        raise RuntimeError(f"minibench at {cpus} cores exited with {out.returncode}")
    return json.loads(lines[-1])


def main() -> int:
    rep = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    out_json = (sys.argv[2] if len(sys.argv) > 2
                else "plans/r14/scaling_probe.json")
    build_scratch(rep)
    s0 = cpu_times()
    r8 = run_width(8, 3)
    r32 = run_width(32, 3)
    s1 = cpu_times()
    steal_pct = (100.0 * (s1[0] - s0[0]) / max(1, s1[2] - s0[2]))
    result = {
        "rep_factor": rep,
        "queries": QUERIES,
        "protocol": ("minibench 3 reps per width in separate sessions; "
                     "kept number = min of reps 1.. (rep 0 pays stage "
                     "mints / codegen warmup)"),
        "steal_pct_run": round(steal_pct, 2),
        "c8": r8,
        "c32": r32,
        "ratio_c8_over_c32": {},
    }
    ratios = []
    for q in QUERIES:
        a = min(r8.get(q, [0.0])[1:] or r8.get(q, [0.0]))
        b = min(r32.get(q, [0.0])[1:] or r32.get(q, [0.0]))
        if a > 0 and b > 0:
            result["ratio_c8_over_c32"][q] = round(a / b, 2)
            ratios.append(a / b)
    if ratios:
        import math

        result["geomean_c8_over_c32"] = round(
            math.exp(sum(math.log(r) for r in ratios) / len(ratios)), 3
        )
    with open(out_json, "w") as fh:
        json.dump(result, fh, indent=1)
        fh.write("\n")
    print(json.dumps(result))
    shutil.rmtree(SCRATCH, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
