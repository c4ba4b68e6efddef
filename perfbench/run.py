"""Benchmark of the iot_etl_spark engine: three closed-loop workloads,
one client each, in one Spark session on ``local[k]`` whose driver JVM
runs the C1 compiler only (see ``JIT_OPTS``).

Usage (from the repository root)::

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

Workloads (see ``perfbench/workloads.py``): ``dashboard``,
``stream_upsert`` and ``batch_etl``; BENCHMARK.json gates the first two.

A run: start the session; three times, wipe the run's state root and
generate the seeded inputs; warm up with the timed operation's shape
until the per-operation latency stops falling; then time operations for
``--seconds`` (ending on the workload's boundary), checking each one's
output, and run the workload's final check.

Every reported time is net of host steal: the wall-clock time times
one minus the share of the CPU time the VM wanted that the host took
away meanwhile (``steal_share``). The VM's vCPUs share a host, and an
op run at 15-30% steal took 30-50% longer on the wall clock; with the
steal share taken out it read within a few percent of the same op run
at no steal, on both gated workloads. The wall-clock figures are
printed beside the net ones.

``setup_s`` = session start + the median of the three input
preparations + the warm-up. The stdout lines before the last describe
the run (host conditions, sample counts, every latency percentile the
sample supports, error rate, exact job/task counts, the host's steal
share per op and a host-speed reference); the last line is
one JSON object. With ``--trace 0`` its metrics are the end-to-end
ones; with ``--trace 1`` tracing is switched on for every other
operation and the metrics are the per-layer ones, plus the tracing
overhead against the untraced operations of the same run.

All state lives under ``.perfbench_state/<workload>`` in the working
directory, which is removed at the start and end of each run.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# Two task threads leave the host's other cores to the driver thread,
# the client, the JIT and GC, so an op does not wait on the scheduler.
CORES = min(2, os.cpu_count() or 1)
DRIVER_HEAP = "2g"
# The driver JVM compiles with C1 only, at a tenth of the usual
# invocation thresholds: its code then settles within the warm-up.
# With the default tiered JIT the op time kept falling for minutes,
# and a wave of compilations around the ninetieth query slowed one op
# of some runs twofold, so a run's figures depended on where its timed
# phase fell on that curve. The larger code cache holds what C1 emits.
JIT_OPTS = "-XX:TieredStopAtLevel=1 -XX:CompileThresholdScaling=0.1 -XX:ReservedCodeCacheSize=256m"
PREP_REPEATS = 3
REF_LOOP = 200_000
MAX_FAILURES = 3

# Per-layer metrics of the gated workloads (BENCHMARK.json); a run
# reports 0 for a layer its workload bypasses.
PER_LAYER = (
    "plans.build_s", "plans.execute_s", "plans.jobs", "plans.tasks",
    "plans.stagecache_calls", "plans.stagecache_s", "plans.stagecache_hit_ratio",
    "sources.load_table_calls", "sources.load_table_s",
    "operators.calls", "operators.build_s",
    "streaming.trigger_s", "streaming.add_batch_s", "streaming.wal_commit_s",
    "streaming.query_planning_s", "streaming.state_rows", "streaming.state_bytes",
    "warehouse.append_batch_s", "warehouse.snapshot_files_s", "warehouse.read_jobs",
    "warehouse.log_versions", "warehouse.live_files",
    "trace.overhead_p50_s",
)


def cpu_times() -> tuple[int, int, int]:
    """(steal, busy, total) jiffies from the first line of /proc/stat.
    ``total`` sums the first 8 fields only: guest and guest_nice are
    already included in user and nice. ``busy`` is the time some vCPU
    wanted to run: user, nice, system, irq, softirq and steal."""
    try:
        with open("/proc/stat") as fh:
            vals = [int(v) for v in fh.readline().split()[1:9]]
    except OSError:
        return 0, 0, 0
    vals += [0] * (8 - len(vals))
    busy = vals[0] + vals[1] + vals[2] + vals[5] + vals[6] + vals[7]
    return vals[7], busy, sum(vals)


def steal_share(t0: tuple[int, int, int], t1: tuple[int, int, int]) -> float:
    """Share of the wanted CPU time the host took away between two
    ``cpu_times`` readings."""
    busy = t1[1] - t0[1]
    return (t1[0] - t0[0]) / busy if busy > 0 else 0.0


def host_ref() -> float:
    """Seconds a fixed pure-Python loop takes. Run between ops, outside
    their timing: a record of how fast the host ran, so a slow set of
    runs can be told from a slow program."""
    t0 = time.perf_counter()
    acc = 0
    for k in range(REF_LOOP):
        acc += k * k % 7
    return time.perf_counter() - t0


def unit_of(metric: str) -> str:
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("_ratio"):
        return "ratio"
    if "bytes" in metric:
        return "bytes"
    return "count"


def high_percentile(n: int) -> int | None:
    """Highest of p99/p95/p90/p75 with at least ten samples beyond it."""
    for q in (99, 95, 90, 75):
        if n * (100 - q) / 100 >= 10:
            return q
    return None


def summary(name: str, values: list[float]) -> str:
    """Median, the highest percentile the sample supports, and why p90
    is missing when it is."""
    n = len(values)
    line = f"{name}_p50_s={statistics.median(values):.4f}"
    q = high_percentile(n)
    if q:
        p = statistics.quantiles(values, n=100, method="inclusive")[q - 1]
        line += f"  {name}_p{q}_s={p:.4f}"
    if q is None or q < 90:
        line += f"  ({name}_p90_s needs 100 samples, have {n})"
    return line


def start_session(state: str):
    tmp = os.path.join(state, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    # for the spark-submit launcher JVM too, which takes no driver
    # options: no perf-data file or temp file outside the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    tempfile.tempdir = None
    from iot_etl_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        extra_conf={
            "spark.driver.memory": DRIVER_HEAP,
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.local.dir": os.path.join(state, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(state, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData {JIT_OPTS}",
            # one micro-batch per input file, so every run replays the
            # same commit sequence
            "spark.sql.streaming.noDataMicroBatches.enabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_args(spark) -> str:
    """The driver JVM's options as it was launched."""
    mx = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    return " ".join(a for a in mx.getInputArguments() if a.startswith("-X"))


def stop_session(spark) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def run(args, state: str, out: list[str]) -> dict:
    from perfbench.trace import JobLedger, Tracer
    from perfbench.workloads import WORKLOADS, describe_error

    cpu0 = cpu_times()
    t0 = time.perf_counter()
    spark = start_session(state)
    session_s = time.perf_counter() - t0
    out.append(f"jvm: {jvm_args(spark)}")
    tracer = Tracer()
    wl = None
    try:
        ledger = JobLedger(spark)
        wl = WORKLOADS[args.workload](spark, state, args.seed, tracer, ledger)
        prep = []
        for _ in range(PREP_REPEATS):
            t0 = time.perf_counter()
            wl.prepare()
            prep.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.warm_up()
        if args.trace:
            wl.install_tracing()
        wl.start_timed()
        warm_s = time.perf_counter() - t0
        setup_wall = session_s + statistics.median(prep) + warm_s
        setup_steal = steal_share(cpu0, cpu_times())
        setup_s = setup_wall * (1 - setup_steal)
        out.append(
            f"setup_s={setup_s:.3f}  (wall-clock {setup_wall:.3f} = session {session_s:.3f}"
            f" + median prep {statistics.median(prep):.3f} of {[round(p, 3) for p in prep]}"
            f" + warm-up {warm_s:.3f} over {wl.warm_ops} ops; host steal {100 * setup_steal:.1f}%)"
        )

        latency: dict[int, float] = {}
        steal: dict[int, float] = {}
        units: dict[int, int] = {}
        ref: list[float] = []
        failed = i = 0
        begin = time.perf_counter()
        while i == 0 or not (time.perf_counter() - begin >= args.seconds and wl.at_boundary(i - 1)):
            tracer.op = i
            tracer.active = bool(args.trace) and wl.traced(i)
            ledger.set_group(f"op{i}")
            try:
                c0 = cpu_times()
                t0 = time.perf_counter()
                u = wl.run_op(i)
                dt = time.perf_counter() - t0
                steal[i] = steal_share(c0, cpu_times())
                wl.check_op(i)
                latency[i] = dt
                units[i] = u
            except Exception as exc:  # an op failure is counted, not fatal
                failed += 1
                print(f"perfbench: op {i} failed: {describe_error(exc)}", file=sys.stderr)
                if failed >= MAX_FAILURES:
                    i += 1
                    break
            finally:
                tracer.active = False
            ref.append(host_ref())
            i += 1
        ledger.clear()
        attempted = i
        wl.latency = latency
        final_ok = True
        try:
            wl.finish()
        except Exception as exc:
            final_ok = False
            print(f"perfbench: final check failed: {describe_error(exc)}", file=sys.stderr)
        groups = ledger.resolve(
            [g for j in range(attempted) for g in (f"op{j}", f"op{j}/write", f"op{j}/stream")]
        )
        return {
            "wl": wl, "setup_s": setup_s, "latency": latency, "steal": steal, "ref": ref, "units": units,
            "attempted": attempted, "failed": failed, "final_ok": final_ok, "groups": groups,
        }
    finally:
        tracer.restore()
        if wl is not None:
            wl.close()
        stop_session(spark)


def report(args, r: dict, out: list[str]) -> dict:
    wl, latency = r["wl"], r["latency"]
    ok_ops = sorted(latency)
    err = r["failed"] / r["attempted"]
    if not ok_ops:
        out.append(f"ops: attempted={r['attempted']} failed={r['failed']} error_rate={err:.4f}")
        return {}
    steal = r["steal"]
    wall = [latency[i] for i in ok_ops]
    lat = [latency[i] * (1 - steal[i]) for i in ok_ops]
    total = sum(lat)
    out.append(f"ops: attempted={r['attempted']} failed={r['failed']} error_rate={err:.4f} samples={len(lat)}")
    out.append(f"wall-clock: latency_p50_s={statistics.median(wall):.4f}"
               f" throughput_per_s={sum(r['units'].values()) / sum(wall):.3f}"
               f" (before taking out the host's steal share)")
    p50 = statistics.median(lat)
    thr = sum(r["units"].values()) / total
    out.append(summary("latency", lat))
    out.append(f"throughput_per_s={thr:.3f} ({wl.unit}/s over {total:.3f} s of timed ops)")
    if wl.name == "stream_upsert":
        out.append(summary("read", [wl.read_s[i] * (1 - steal[i]) for i in ok_ops]))
    g = r["groups"]
    jobs = [g[f"op{i}"][0] + g[f"op{i}/write"][0] + g[f"op{i}/stream"][0] for i in ok_ops]
    tasks = [g[f"op{i}"][1] + g[f"op{i}/write"][1] + g[f"op{i}/stream"][1] for i in ok_ops]
    out.append(f"counts per op: jobs min/median/max={min(jobs)}/{statistics.median(jobs)}/{max(jobs)}"
               f"  tasks min/median/max={min(tasks)}/{statistics.median(tasks)}/{max(tasks)}")
    out.append(f"op latencies (s): {[round(x, 3) for x in wall]}")
    out.append(f"op steal share (%): {[round(100 * r['steal'][i], 1) for i in ok_ops]}")
    out.append(f"host_ref_ms p50={1000 * statistics.median(r['ref']):.2f}"
               f" (a fixed {REF_LOOP}-step Python loop, run between ops)")
    for k, v in wl.notes.items():
        out.append(f"note {k}={v}")
    if not args.trace:
        return {
            "latency_p50_s": p50,
            "throughput_per_s": thr,
            "setup_s": r["setup_s"],
        }
    net = dict(zip(ok_ops, lat))
    traced = [i for i in ok_ops if wl.traced(i)]
    plain = [net[i] for i in ok_ops if not wl.traced(i)]
    metrics = {m: 0.0 for m in PER_LAYER}
    if traced:
        metrics.update(wl.layer_metrics(traced, g))
        t = wl.tracer
        n = len(traced) * wl.per_op
        metrics["sources.load_table_calls"] = sum(t.counts[i]["sources.load_table_calls"] for i in traced) / n
        metrics["sources.load_table_s"] = sum(t.op_time(i, "sources.load_table") for i in traced) / n
        if plain:
            metrics["trace.overhead_p50_s"] = (
                statistics.median([net[i] for i in traced]) - statistics.median(plain)
            )
    out.append(f"traced ops={len(traced)} untraced ops={len(plain)}")
    for k, v in metrics.items():
        out.append(f"  {k}={v:.6g} {unit_of(k)}")
    return metrics


def main(argv: list[str] | None = None) -> int:
    load_entry = os.getloadavg()[0]
    cpu0 = cpu_times()
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("dashboard", "batch_etl", "stream_upsert"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    missing = [f for f in ("__spark_entry__.py", "iot_etl_spark/__init__.py")
               if not os.path.isfile(os.path.join(ROOT, f))]
    if missing:
        print(f"perfbench: engine sources not found under {ROOT}: {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    state = os.path.join(os.getcwd(), ".perfbench_state", args.workload)
    shutil.rmtree(state, ignore_errors=True)
    os.makedirs(state)
    out = [f"perfbench workload={args.workload} seed={args.seed} seconds={args.seconds}"
           f" trace={args.trace} master=local[{CORES}] driver_heap={DRIVER_HEAP}"
           f" host_cpus={os.cpu_count()} loadavg_1m_entry={load_entry:.2f}"]
    try:
        r = run(args, state, out)
        metrics = report(args, r, out)
    finally:
        shutil.rmtree(state, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(state))  # only if no other run's state is left
    cpu1 = cpu_times()
    steal_pct = 100.0 * (cpu1[0] - cpu0[0]) / (cpu1[2] - cpu0[2]) if cpu1[2] > cpu0[2] else 0.0
    out.append(f"run conditions: steal_pct={steal_pct:.2f} (of all CPU time;"
               f" {100 * steal_share(cpu0, cpu1):.2f} of busy time) loadavg_1m_end={os.getloadavg()[0]:.2f}")
    correct = r["failed"] == 0 and r["final_ok"] and bool(metrics)
    result = {
        "correct": correct,
        "attempted": r["attempted"],
        "failed": r["failed"],
        "metrics": {k: {"value": v, "unit": "1/s" if k == "throughput_per_s" else unit_of(k)}
                    for k, v in metrics.items()},
    }
    for line in out:
        print(line)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
