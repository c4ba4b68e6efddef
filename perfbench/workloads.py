"""The three closed-loop workloads. One client issues an operation,
waits for it, checks it, and only then issues the next.

- ``dashboard``: refreshes of a dashboard, each running every pinned
  read-only registered query once over sf0.1-sized tables, forced
  through the ``noop`` sink.
- ``batch_etl``: ``run_batch_pipeline`` into a fresh output directory.
- ``stream_upsert``: one file-source micro-batch through the upsert
  sink into a transaction-log table, then one ``read_upserted`` read.

Every workload generates its inputs from the seed, keeps all of its
state (tables, checkpoints, stage cache) under the run's own root,
warms up with the timed operation's exact shape (writing to throwaway
directories) until per-operation latency stops falling, and checks
every timed operation's output.
"""

from __future__ import annotations

import math
import os
import random
import shutil
import statistics
import time
import traceback

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import datagen

# Read-only queries that keep no state outside the stage cache, each
# sub-second on sf0.1: a scan-and-aggregate over events, a dimension
# rollup, a TPC-H join, a query over a materialized stage
# (``supplier_pareto_share`` reads ``supplier_rev``) and two built on
# ``operators`` functions. Few queries, so each runs often enough for
# its JIT tail to flatten within the warm-up.
DASHBOARD_QUERIES = (
    "daily_agg_business_hours",
    "device_stats",
    "geo_rollup_acctbal",
    "latest_per_device",
    "q14_promo_revenue",
    "supplier_pareto_share",
)
DASHBOARD_WARM_MIN_ROUNDS = 3
DASHBOARD_WARM_MAX_ROUNDS = 5
# operators functions the pinned queries call, traced as "operators.build"
DASHBOARD_OPERATORS = (
    ("iot_etl_spark.operators.latest", "latest_per_key"),
    ("iot_etl_spark.operators.timefeatures", "add_time_features"),
)

# batch_etl input: 1.5x the sf0.1 events table, with a stated share of
# invalid readings so the quality gate has work to do.
BATCH_EVENT_ROWS = 150_000
BATCH_WARM_MIN_OPS = 3  # the first, cold run takes four times a warm one
BATCH_WARM_MAX_OPS = 5
BATCH_NULL_SHARE = 0.01
BATCH_NEGATIVE_SHARE = 0.01

# stream_upsert input: fixed-size micro-batch files, each advancing
# event time by one minute (the aggregate's window). A share of each
# batch is 30-90 s out of order, inside the 2-minute watermark; from
# batch 3 on a smaller share is 6-7 minutes late, behind the watermark
# Spark filters late rows with (the one of the previous batch), and is
# dropped. Event times start an hour into the day so no shift wraps.
STREAM_BATCH_ROWS = 5_000
STREAM_BATCH_SPAN_US = 60_000_000
STREAM_BASE_US = 60 * 60_000_000
STREAM_OUT_OF_ORDER_SHARE = 0.10
STREAM_LATE_SHARE = 0.01
STREAM_EPISODE_OPS = 5
STREAM_WARM_MIN_EPISODES = 2
STREAM_WARM_MAX_EPISODES = 3
STREAM_TIMED_MAX_EPISODES = 10
STREAM_BATCHES = 1 + STREAM_EPISODE_OPS * (STREAM_WARM_MAX_EPISODES + STREAM_TIMED_MAX_EPISODES)
UPSERT_KEYS = ("window_start", "window_end", "event_type")


class CheckFailed(AssertionError):
    pass


def _check(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def _levelled(times: list[float], window: int, tol: float = 0.05) -> bool:
    """True once the median of the last ``window`` samples is no longer
    more than ``tol`` below the median of the ``window`` before them:
    the JIT tail has stopped shortening the operation."""
    if len(times) < 2 * window:
        return False
    last = statistics.median(times[-window:])
    prev = statistics.median(times[-2 * window : -window])
    return last >= (1 - tol) * prev


def observed(df, F, Observation):
    """``df`` with an observation of its row count and two
    order-insensitive hashes of its rows, filled in by whatever action
    runs it."""
    obs = Observation()
    h = F.xxhash64(*[F.col(f"`{c}`") for c in df.columns])
    return (
        df.observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            F.coalesce(F.sum(h % 2147483647), F.lit(0)).alias("hsum"),
            F.coalesce(F.bit_xor(h), F.lit(0)).alias("hxor"),
        ),
        obs,
    )


def _canon(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "<null>"
    if isinstance(v, float):
        if v == int(v) and abs(v) < 1e15:
            return "-0" if v == 0.0 and math.copysign(1.0, v) < 0 else str(int(v))
        return repr(v)
    if isinstance(v, bool):
        return "T" if v else "F"
    return str(v)


def canonical_rows(pdf) -> list[tuple[str, ...]]:
    """Rows with columns in name order, cells as strings, sorted: the
    order-insensitive form the DuckDB oracle comparison uses. A copy of
    the test helper's rule, so a change to the tests cannot change what
    the benchmark accepts."""
    pdf = pdf[sorted(pdf.columns)]
    return sorted(tuple(_canon(v) for v in row) for row in pdf.itertuples(index=False, name=None))


class Workload:
    """Base: subclasses fill in ``prepare``, ``warm_up``, ``run_op``,
    ``check_op`` and ``layer_metrics``."""

    name = ""
    unit = ""  # what throughput_per_s counts
    per_op = 1  # engine operations (queries, runs, micro-batches) in one op

    def __init__(self, spark, root: str, seed: int, tracer, ledger) -> None:
        from pyspark.sql import Observation, functions as F

        self.spark = spark
        self.root = root
        self.seed = seed
        self.tracer = tracer
        self.ledger = ledger
        self.F = F
        self.Observation = Observation
        self.warm_ops = 0
        self.notes: dict[str, object] = {}

    def fresh_dir(self, *parts: str) -> str:
        d = os.path.join(self.root, *parts)
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        return d

    def at_boundary(self, i: int) -> bool:
        return True

    def traced(self, i: int) -> bool:
        """Which timed ops run with tracing on (in a traced run, the
        others give the untraced latencies the overhead is taken
        against)."""
        return i % 2 == 1

    def install_tracing(self) -> None:
        t = self.tracer
        t.wrap("iot_etl_spark.sources.tables", "load_table", "sources.load_table",
               around=self._count_call("sources.load_table_calls"))

    def _count_call(self, counter: str):
        def around(call):
            self.tracer.count(counter)
            return call()

        return around

    def start_timed(self) -> None:
        """Set up what the timed phase records."""

    def finish(self) -> None:
        """Checks run once after the timed phase."""

    def close(self) -> None:
        """Stop anything the workload started."""


# --------------------------------------------------------------------- dashboard
class Dashboard(Workload):
    """Seeded sequence of refreshes; each refresh (one op) runs every
    pinned query once, in a seeded order, as a dashboard redraws its
    panels. Its latency is the refresh's, so each sample spans the
    whole query mix."""

    name = "dashboard"
    unit = "queries"
    per_op = len(DASHBOARD_QUERIES)

    def __init__(self, *a, **kw) -> None:
        super().__init__(*a, **kw)
        import __spark_entry__ as entry

        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()
        missing = [q for q in DASHBOARD_QUERIES if q not in self.queries]
        _check(not missing, f"queries not registered: {missing}")
        self.rng = random.Random(self.seed)
        self.reference: dict[str, tuple] = {}
        self.stage_root = os.path.join(self.root, "stages")
        self.query_s: dict[str, list[float]] = {}

    def prepare(self) -> None:
        from iot_etl_spark.plans import stagecache

        self.data = self.fresh_dir("tables")
        self.fresh_dir("stages")
        stagecache._CACHE_ROOT = self.stage_root
        self.rows = datagen.write_tables(self.data, self.seed)

    def execute(self, name: str) -> tuple:
        with self.tracer.span("plans.build"):
            df = self.queries[name](self.spark, self.data)
        df, obs = observed(df, self.F, self.Observation)
        with self.tracer.span("plans.execute"):
            df.write.format("noop").mode("overwrite").save()
        got = obs.get
        return got["rows"], got["hsum"], got["hxor"]

    def refresh(self) -> list[tuple[str, float, tuple]]:
        """Every pinned query once, in a seeded order: (query, seconds,
        observed result) for each."""
        out = []
        for q in self.rng.sample(DASHBOARD_QUERIES, len(DASHBOARD_QUERIES)):
            t0 = time.perf_counter()
            got = self.execute(q)
            out.append((q, time.perf_counter() - t0, got))
        return out

    def warm_up(self) -> None:
        import duckdb

        # First execution of every query (it mints the stage cache):
        # collect the rows and compare them with the DuckDB oracle.
        rows: dict[str, int] = {}
        con = duckdb.connect()
        try:
            for t in self.rows:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.data}/{t}.parquet')"
                )
            cold = []
            for q in DASHBOARD_QUERIES:
                t0 = time.perf_counter()
                pdf = self.queries[q](self.spark, self.data).toPandas()
                cold.append(time.perf_counter() - t0)
                rows[q] = len(pdf)
                self.warm_ops += 1
                if q in self.oracles:
                    exp = con.execute(self.oracles[q]).df()
                    _check(sorted(pdf.columns) == sorted(exp.columns), f"{q}: oracle columns differ")
                    _check(canonical_rows(pdf) == canonical_rows(exp), f"{q}: differs from DuckDB oracle")
        finally:
            con.close()
        self.notes["oracle_checked"] = sum(q in self.oracles for q in DASHBOARD_QUERIES)
        self.notes["first_run_s"] = [round(x, 3) for x in cold]
        # Then refreshes until the refresh time levels off; the first
        # records each query's (rows, hashes) reference.
        rounds: list[float] = []
        while len(rounds) < DASHBOARD_WARM_MAX_ROUNDS and not (
            len(rounds) >= DASHBOARD_WARM_MIN_ROUNDS and _levelled(rounds, 1, tol=0.1)
        ):
            t0 = time.perf_counter()
            for q, _, got in self.refresh():
                if q not in self.reference:
                    _check(got[0] == rows[q], f"{q}: observed row count differs from collected")
                    self.reference[q] = got
                _check(got == self.reference[q], f"{q}: warm-up result changed")
            rounds.append(time.perf_counter() - t0)
            self.warm_ops += 1
        self.notes["warm_rounds_s"] = [round(x, 3) for x in rounds]

    def run_op(self, i: int) -> int:
        self.result = self.refresh()
        return len(self.result)

    def check_op(self, i: int) -> None:
        for q, dt, got in self.result:
            _check(got == self.reference[q], f"{q}: result differs from reference")
            self.query_s.setdefault(q, []).append(dt)

    def finish(self) -> None:
        self.notes["query_p50_s"] = {q: round(statistics.median(v), 3) for q, v in sorted(self.query_s.items())}

    def install_tracing(self) -> None:
        super().install_tracing()
        self.tracer.wrap("iot_etl_spark.plans.stagecache", "cached_stage",
                         "plans.stagecache", around=self._stage_call)
        for mod, fn in DASHBOARD_OPERATORS:
            self.tracer.wrap(mod, fn, "operators.build", around=self._count_call("operators.calls"))

    def _stage_call(self, call):
        def state():
            try:
                names = os.listdir(self.stage_root)
            except FileNotFoundError:
                return {}
            out = {}
            for d in names:
                try:
                    out[d] = os.stat(os.path.join(self.stage_root, d, "_READY")).st_mtime_ns
                except OSError:
                    out[d] = None
            return out

        before = state()
        try:
            return call()
        finally:
            self.tracer.count("plans.stagecache_calls")
            if state() == before:
                self.tracer.count("plans.stagecache_hits")

    def layer_metrics(self, ops: list[int], groups: dict) -> dict[str, float]:
        """Per query: a refresh runs every pinned query once."""
        t = self.tracer
        n = len(ops) * self.per_op
        calls = sum(t.counts[i]["plans.stagecache_calls"] for i in ops)
        hits = sum(t.counts[i]["plans.stagecache_hits"] for i in ops)
        return {
            "plans.build_s": sum(t.op_time(i, "plans.build") for i in ops) / n,
            "plans.execute_s": sum(t.op_time(i, "plans.execute") for i in ops) / n,
            "plans.jobs": sum(groups[f"op{i}"][0] for i in ops) / n,
            "plans.tasks": sum(groups[f"op{i}"][1] for i in ops) / n,
            "plans.stagecache_calls": calls / n,
            "plans.stagecache_s": sum(t.op_time(i, "plans.stagecache") for i in ops) / n,
            "plans.stagecache_hit_ratio": hits / calls if calls else 1.0,
            "operators.calls": sum(t.counts[i]["operators.calls"] for i in ops) / n,
            "operators.build_s": sum(t.op_time(i, "operators.build") for i in ops) / n,
        }


# --------------------------------------------------------------------- batch_etl
class BatchEtl(Workload):
    """Repeated ``run_batch_pipeline`` runs, each into a fresh output
    directory, over one generated input."""

    name = "batch_etl"
    unit = "input rows"

    def prepare(self) -> None:
        self.data = self.fresh_dir("input")
        self.fresh_dir("out")
        datagen.write_tables(self.data, self.seed, tables=("nation", "customer"))
        ev = datagen.events_table(self.seed, BATCH_EVENT_ROWS)
        rng = np.random.default_rng([self.seed, 100])
        value = ev.column("value").to_numpy().copy()
        u = rng.random(BATCH_EVENT_ROWS)
        neg = u < BATCH_NEGATIVE_SHARE
        null = (u >= BATCH_NEGATIVE_SHARE) & (u < BATCH_NEGATIVE_SHARE + BATCH_NULL_SHARE)
        value[neg] = -value[neg] - 0.01
        ev = ev.set_column(
            ev.schema.get_field_index("value"), "value", pa.array(value, mask=null)
        )
        datagen._write(ev, os.path.join(self.data, "events.parquet"))
        self.expected = self._recount(ev.column("user_id").to_numpy(), value, null)

    @staticmethod
    def _recount(user: np.ndarray, value: np.ndarray, null: np.ndarray) -> dict[str, int]:
        """Audit counts recomputed from the generated input: rows,
        rows passing the quality gate (non-null, >= 0) and per-device
        |z| > 3 readings (sample stddev over the device's readings)."""
        ok = ~null
        v, k = value[ok], user[ok]
        n = np.bincount(k, minlength=datagen.N_USERS)
        s = np.bincount(k, weights=v, minlength=datagen.N_USERS)
        mean = s / np.maximum(n, 1)
        dev = v - mean[k]
        ss = np.bincount(k, weights=dev * dev, minlength=datagen.N_USERS)
        std = np.sqrt(ss / np.maximum(n - 1, 1))
        sd = std[k]
        z = np.where(sd > 0, dev / np.where(sd > 0, sd, 1.0), 0.0)
        return {
            "total": int(len(user)),
            "valid": int((ok & (value >= 0)).sum()),
            "anomalies": int((np.abs(z) > 3.0).sum()),
        }

    def _run(self, out: str) -> dict:
        from iot_etl_spark.pipeline.batch import run_batch_pipeline

        return run_batch_pipeline(self.spark, self.data, out)

    def _check_out(self, counts: dict, out: str) -> None:
        _check(counts == self.expected, f"audit counts {counts} != recount {self.expected}")
        fact = os.path.join(out, "fact_events_enriched")
        rows = sum(
            pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
            for d, _, fs in os.walk(fact)
            for f in fs
            if f.endswith(".parquet")
        )
        _check(rows == self.expected["valid"], f"fact rows {rows} != valid {self.expected['valid']}")

    def warm_up(self) -> None:
        times: list[float] = []
        while len(times) < BATCH_WARM_MAX_OPS and not (
            len(times) >= BATCH_WARM_MIN_OPS and _levelled(times, 1)
        ):
            out = self.fresh_dir("warm", str(len(times)))
            t0 = time.perf_counter()
            counts = self._run(out)
            times.append(time.perf_counter() - t0)
            self._check_out(counts, out)
            shutil.rmtree(out, ignore_errors=True)
            self.warm_ops += 1
        self.notes["warm_ops_s"] = [round(x, 3) for x in times]

    def start_timed(self) -> None:
        self.out = None

    def run_op(self, i: int) -> int:
        self.out = self.fresh_dir("out", str(i))
        self.counts = self._run(self.out)
        return BATCH_EVENT_ROWS

    def check_op(self, i: int) -> None:
        self._check_out(self.counts, self.out)
        if self.tracer.active:
            files = [
                os.path.join(d, f)
                for d, _, fs in os.walk(self.out)
                for f in fs
                if f.endswith(".parquet")
            ]
            self.tracer.count("pipeline.files_written", len(files))
            self.tracer.count("pipeline.bytes_written", sum(os.path.getsize(f) for f in files))
            # Scan cost of the three inputs alone, outside the op's time
            # and its load_table counts.
            from iot_etl_spark.sources.tables import load_table

            self.tracer.active = False
            t0 = time.perf_counter()
            for t in ("events", "customer", "nation"):
                load_table(self.spark, self.data, t).write.format("noop").mode("overwrite").save()
            scan_s = time.perf_counter() - t0
            self.tracer.active = True
            self.tracer.count("sources.scan_s", scan_s)
        shutil.rmtree(self.out, ignore_errors=True)

    def install_tracing(self) -> None:
        super().install_tracing()
        for fn, span in (("load_fact_table", "pipeline.fact_write"),
                         ("load_dimension", "pipeline.dim_write")):
            self.tracer.wrap("iot_etl_spark.pipeline.batch", fn, span, around=self._in_write_group)

    def _in_write_group(self, call):
        with self.ledger.group(f"op{self.tracer.op}/write"):
            return call()

    def layer_metrics(self, ops: list[int], groups: dict) -> dict[str, float]:
        t = self.tracer
        n = len(ops)
        writes = {i: t.op_time(i, "pipeline.fact_write") + t.op_time(i, "pipeline.dim_write") for i in ops}
        return {
            "sources.scan_s": sum(t.counts[i]["sources.scan_s"] for i in ops) / n,
            "operators.transform_s": sum(self.latency[i] - writes[i] for i in ops) / n,
            "operators.tasks": sum(groups[f"op{i}"][1] for i in ops) / n,
            "pipeline.tasks": sum(groups[f"op{i}/write"][1] for i in ops) / n,
            "pipeline.fact_write_s": sum(t.op_time(i, "pipeline.fact_write") for i in ops) / n,
            "pipeline.dim_write_s": sum(t.op_time(i, "pipeline.dim_write") for i in ops) / n,
            "pipeline.files_written": sum(t.counts[i]["pipeline.files_written"] for i in ops) / n,
            "pipeline.bytes_written": sum(t.counts[i]["pipeline.bytes_written"] for i in ops) / n,
        }


# ----------------------------------------------------------------- stream_upsert
class _EpisodeTable:
    """The upsert sink's table: forwards each commit to the current
    episode's ``TxTable``, so every episode starts from an empty table
    while one streaming query (and its state) keeps running."""

    def __init__(self) -> None:
        self.current = None

    def append_batch(self, *args, **kwargs):
        return self.current.append_batch(*args, **kwargs)


class StreamUpsert(Workload):
    """One micro-batch file per op: drop it into the source directory,
    wait for the query to commit it to the transaction-log table, then
    resolve the table with one ``read_upserted`` read. The op's latency
    covers both; ``read_s`` is the read alone.

    Ops run in episodes of ``STREAM_EPISODE_OPS``, each into a fresh
    table, so every run times the same commit sequence (reads grow with
    the log). Warm-up and timed episodes share one query that started
    from an empty checkpoint; the timed phase ends on an episode
    boundary."""

    name = "stream_upsert"
    unit = "events"

    def prepare(self) -> None:
        self.batches_dir = self.fresh_dir("batches")
        self.admitted: list[pa.Table] = []
        self.batch_keys: list[set] = []
        for k in range(STREAM_BATCHES):
            t, keep = self._batch(k)
            pq.write_table(t, os.path.join(self.batches_dir, f"{k:05d}.parquet"))
            kept = t.filter(pa.array(keep))
            self.admitted.append(kept)
            minutes = kept.column("ts").cast(pa.int64()).to_numpy() // 60_000_000
            self.batch_keys.append(set(zip(minutes.tolist(), kept.column("event_type").to_pylist())))

    def _batch(self, k: int) -> tuple[pa.Table, np.ndarray]:
        """Batch ``k`` and the mask of its rows the watermark admits."""
        rng = np.random.default_rng([self.seed, 300, k])
        n = STREAM_BATCH_ROWS
        second = 1_000_000
        ts = STREAM_BASE_US + k * STREAM_BATCH_SPAN_US + rng.integers(0, STREAM_BATCH_SPAN_US, n)
        u = rng.random(n)
        ooo = u < STREAM_OUT_OF_ORDER_SHARE
        late = (u >= STREAM_OUT_OF_ORDER_SHARE) & (u < STREAM_OUT_OF_ORDER_SHARE + STREAM_LATE_SHARE) & (k >= 3)
        ts[ooo] -= rng.integers(30 * second, 90 * second, int(ooo.sum()))
        ts[late] -= rng.integers(360 * second, 420 * second, int(late.sum()))
        ids = np.arange(k * n, (k + 1) * n)
        return pa.table(datagen.event_columns(rng, ids, ts)), ~late

    def _drop(self) -> None:
        name = f"{self.batch_no:05d}.parquet"
        os.link(os.path.join(self.batches_dir, name), os.path.join(self.src, f".{name}"))
        os.rename(os.path.join(self.src, f".{name}"), os.path.join(self.src, name))
        self.batch_no += 1

    def _new_episode(self, tag: str) -> None:
        from iot_etl_spark.warehouse.txlog import TxTable

        self.table = TxTable(self.fresh_dir("tables", tag))
        self.sink.current = self.table
        self.episode_keys: set = set()

    def _step(self) -> tuple[float, float, int]:
        """One op; returns (write_s, read_s, groups read)."""
        from iot_etl_spark.streaming.pipeline import read_upserted

        t0 = time.perf_counter()
        self._drop()
        self.query.processAllAvailable()
        t1 = time.perf_counter()
        df, obs = observed(read_upserted(self.spark, self.table, UPSERT_KEYS), self.F, self.Observation)
        with self.tracer.span("warehouse.read"):
            df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        self.episode_keys |= self.batch_keys[self.batch_no - 1]
        return t1 - t0, t2 - t1, obs.get["rows"]

    def warm_up(self) -> None:
        from iot_etl_spark.streaming.pipeline import (
            apply_stream_transforms,
            read_stream_source,
            start_txlog_upsert_sink,
            windowed_aggregate,
        )

        self.src = self.fresh_dir("src")
        self.batch_no = 0
        self._drop()  # the file source takes its schema from a first file
        self.sink = _EpisodeTable()
        self._new_episode("start")
        stream = read_stream_source(self.spark, "parquet", path=self.src)
        agg = windowed_aggregate(apply_stream_transforms(stream))
        self.query = start_txlog_upsert_sink(
            agg, self.sink, self.fresh_dir("ckpt"), trigger_seconds=0
        )
        self.query.processAllAvailable()
        # Warm-up episodes until the episode's median op time levels off.
        medians: list[float] = []
        while len(medians) < STREAM_WARM_MAX_EPISODES and not (
            len(medians) >= STREAM_WARM_MIN_EPISODES and _levelled(medians, 1)
        ):
            self._new_episode(f"warm{len(medians)}")
            times = []
            for _ in range(STREAM_EPISODE_OPS):
                w, r, _ = self._step()
                times.append(w + r)
                self.warm_ops += 1
            medians.append(statistics.median(times))
        self.notes["warm_episode_medians_s"] = [round(x, 3) for x in medians]

    def start_timed(self) -> None:
        self.read_s: dict[int, float] = {}
        self.progress: dict[int, dict] = {}
        self.probe: tuple[int, int] | None = None
        self.last_batch_id = self.query.lastProgress["batchId"]
        self.stream_jobs = set(
            self.spark.sparkContext.statusTracker().getJobIdsForGroup(str(self.query.runId))
        )

    def run_op(self, i: int) -> int:
        _check(self.batch_no < STREAM_BATCHES, "out of generated batches")
        if i % STREAM_EPISODE_OPS == 0:
            self._new_episode(f"timed{i // STREAM_EPISODE_OPS}")
        w, r, self.rows_read = self._step()
        self.read_s[i] = r
        return STREAM_BATCH_ROWS

    def check_op(self, i: int) -> None:
        # The query's jobs run under its run id; the ones not yet
        # attributed are this op's micro-batch.
        jobs = set(self.spark.sparkContext.statusTracker().getJobIdsForGroup(str(self.query.runId)))
        self.ledger.add_jobs(f"op{i}/stream", sorted(jobs - self.stream_jobs))
        self.stream_jobs |= jobs
        prog = [p for p in self.query.recentProgress if p["batchId"] > self.last_batch_id]
        _check(len(prog) == 1, f"expected one micro-batch per op, saw {len(prog)}")
        self.last_batch_id = prog[0]["batchId"]
        self.progress[i] = prog[0]
        _check(prog[0]["numInputRows"] == STREAM_BATCH_ROWS, "micro-batch input rows")
        expected = len(self.episode_keys)
        _check(self.rows_read == expected, f"read {self.rows_read} groups, expected {expected}")
        if i == STREAM_EPISODE_OPS - 1:
            self.probe = (len(self.table.versions()), len(self.table.snapshot_files()))

    def at_boundary(self, i: int) -> bool:
        return (i + 1) % STREAM_EPISODE_OPS == 0

    def finish(self) -> None:
        """The last episode's resolved table must equal a batch
        ``windowed_aggregate`` over every event the watermark admitted,
        on the groups that episode's events touched."""
        from iot_etl_spark.sources.tables import load_table
        from iot_etl_spark.streaming.pipeline import read_upserted, windowed_aggregate

        self._stop()
        ref_dir = self.fresh_dir("reference")
        pq.write_table(pa.concat_tables(self.admitted[: self.batch_no]), os.path.join(ref_dir, "events.parquet"))
        want = windowed_aggregate(load_table(self.spark, ref_dir, "events"), watermark=None).toPandas()
        minutes = want["window_start"].astype("int64") // 60_000_000_000
        keep = [(m, e) in self.episode_keys for m, e in zip(minutes, want["event_type"])]
        want = want[keep]
        got = read_upserted(self.spark, self.table, UPSERT_KEYS).toPandas()
        _check(len(want) == len(self.episode_keys), "reference misses groups")
        _check(canonical_rows(got) == canonical_rows(want), "resolved table differs from batch aggregate")
        self.notes["final_groups"] = len(got)

    def _stop(self) -> None:
        q, self.query = getattr(self, "query", None), None
        if q is not None:
            q.stop()
            q.awaitTermination(60)

    def close(self) -> None:
        self._stop()

    def install_tracing(self) -> None:
        super().install_tracing()
        for attr, span in (("append_batch", "warehouse.append_batch"),
                           ("snapshot_files", "warehouse.snapshot_files")):
            self.tracer.wrap("iot_etl_spark.warehouse.txlog:TxTable", attr, span)

    def layer_metrics(self, ops: list[int], groups: dict) -> dict[str, float]:
        t = self.tracer
        n = len(ops)

        def dur(key: str) -> float:
            return sum(self.progress[i]["durationMs"].get(key, 0) for i in ops) / n / 1000.0

        def state(key: str) -> float:
            return sum(sum(s[key] for s in self.progress[i]["stateOperators"]) for i in ops) / n

        versions, live = self.probe or (0, 0)
        return {
            "streaming.trigger_s": dur("triggerExecution"),
            "streaming.add_batch_s": dur("addBatch"),
            "streaming.wal_commit_s": dur("walCommit"),
            "streaming.query_planning_s": dur("queryPlanning"),
            "streaming.state_rows": state("numRowsTotal"),
            "streaming.state_bytes": state("memoryUsedBytes"),
            "warehouse.append_batch_s": sum(t.op_time(i, "warehouse.append_batch") for i in ops) / n,
            "warehouse.snapshot_files_s": sum(t.op_time(i, "warehouse.snapshot_files") for i in ops) / n,
            "warehouse.read_jobs": sum(groups[f"op{i}"][0] for i in ops) / n,
            "warehouse.log_versions": versions,
            "warehouse.live_files": live,
        }


WORKLOADS = {w.name: w for w in (Dashboard, BatchEtl, StreamUpsert)}


def describe_error(exc: BaseException) -> str:
    if isinstance(exc, CheckFailed):
        return f"check failed: {exc}"
    return "".join(traceback.format_exception_only(type(exc), exc)).strip()[:500]
