"""A miniature table-format transaction log: ACID commits, snapshot
isolation, time travel, CHECK constraints and vacuum over plain
parquet, with no table-format dependency.

Why the engine needs it: plain parquet directories have no commit
point — a reader can see a half-written append, a failed job leaves
orphan files that silently join the next scan, and "what did the table
look like yesterday" is unanswerable. The reference sidesteps all of
this by rewriting whole tables (spark_load.py's overwrite loads); that
stops working the moment two writers or a reader/writer pair overlap.

Design (the standard log-structured table layout):

- Data files are immutable parquet parts under ``<table>/data/``,
  written straight into data/ under commit-unique names — a file is
  visible ONLY if a committed log entry references it, so the log
  entry is the one commit point. Two staging paths write them:
  - a frame whose optimizer size estimate is within
    ``spark.sql.autoBroadcastJoinThreshold`` (the cut-off Spark
    already uses to pull a frame through the driver for a broadcast)
    and whose types round-trip through Arrow is collected with
    ``toArrow()`` and written by pyarrow as exactly one file — no
    Hadoop committer, no staging dir, no file moves;
  - anything larger (or a ``-1`` threshold) takes the distributed
    ``df.write.parquet`` into a staging dir whose parts are then moved
    into data/.
  Either way every added file and data/ are fsynced before the commit,
  and a crash mid-write leaves only unreferenced files, which vacuum's
  age gate removes.
- The log is ``<table>/_txlog/<version 8-digit>.json``, one entry per
  commit: operation, files added, files logically removed, and for
  schema-bearing commits the exact Spark schema. Every piece of table
  state — the live files, the read schema, the schema signature, the
  active constraints, the batch ids per ledger and the history — comes
  from ONE forward replay of entries 0..N (``TxTable._replay``;
  removed files drop out), and each write plans its commit from the
  replay it read.
- **Commit = atomic put-if-absent of the next version file.** The
  entry is written to a temp file and fsynced, then ``os.link``-ed to
  the version name, which is atomic on a local/HDFS-semantics
  filesystem: two writers racing for version N — exactly one wins,
  the loser gets ``ConcurrentCommitError`` and retries on the new
  snapshot (optimistic concurrency, no locks held during the data
  write). A crash mid-commit leaves only a temp file, never a
  truncated version.
- **Readers never block**: a scan resolves the snapshot file list once
  and reads those immutable parts with the schema the log recorded at
  that version (no footer inference, no schema-merge job); later
  commits are invisible (snapshot isolation). Evolution only adds
  columns, so files written before a widening read them as NULL.
  ``version=`` pins any historical snapshot (time travel), enabling
  reproducible training runs over evolving corpora. ``read_local`` is
  the read twin of Arrow staging, under the same cut-off: a snapshot
  whose on-disk bytes are within the threshold is read by pyarrow on
  the driver and cast to the logged schema, with no Spark job (the
  upsert sink's ``read_upserted`` resolves its serving table this way).
- **Vacuum** deletes data files referenced by NO retained version —
  physical deletion is decoupled from logical (an ``overwrite`` only
  marks files removed, so time travel keeps working until vacuum).

The log keeps no per-file statistics or indexes: a scan reads every
live file of its snapshot, and skipping inside a file is left to
parquet's row-group min/max. Entries written by older versions of
this module may carry ``stats`` and ``bloom`` keys, and metadata-only
commits that declared Bloom-indexed columns; readers ignore them.

At 100 TB nothing changes structurally: the log stays tiny (file
lists, not data), commits stay O(1), and scans plan from the snapshot
list. On S3-like stores the put-if-absent needs a coordination service
(as Delta's commit service does) — documented boundary, same code
shape.
"""

from __future__ import annotations

import contextlib
import dataclasses
import json
import os
import shutil
import time
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from iot_etl_spark.durable import fsync


class ConcurrentCommitError(RuntimeError):
    """Another writer committed this version first; re-read and retry."""


class ConstraintViolationError(ValueError):
    """A write contains rows that fail a table CHECK constraint."""


class SchemaMismatchError(ValueError):
    """Appended frame's schema conflicts with the table schema."""


def _schema_sig(df: DataFrame) -> dict[str, str]:
    return {f.name: f.dataType.simpleString() for f in df.schema.fields}


def _versions(log_names: list[str]) -> list[int]:
    # a commit's temp file ends in .tmp, so it is never a version
    return sorted(int(f.split(".")[0]) for f in log_names if f.endswith(".json"))


_ARROW_ATOMIC = (
    T.BooleanType, T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType, T.StringType, T.BinaryType,
    T.DateType, T.TimestampType, T.TimestampNTZType,
)


def _parquet_via_arrow(dt: T.DataType) -> bool:
    """True when a pyarrow-written parquet column of type ``dt`` reads
    back in Spark as exactly ``dt``. Types outside this set (intervals,
    variant, void) and duplicate field names take the distributed path,
    which writes what Spark supports and rejects the rest as before."""
    if isinstance(dt, T.StructType):
        names = [f.name.lower() for f in dt.fields]
        return len(set(names)) == len(names) and all(
            _parquet_via_arrow(f.dataType) for f in dt.fields
        )
    if isinstance(dt, T.ArrayType):
        return _parquet_via_arrow(dt.elementType)
    if isinstance(dt, T.MapType):
        return _parquet_via_arrow(dt.keyType) and _parquet_via_arrow(dt.valueType)
    return isinstance(dt, _ARROW_ATOMIC)


def _driver_limit(spark: SparkSession) -> int:
    """The most bytes a write or a read moves through the driver:
    ``spark.sql.autoBroadcastJoinThreshold``, the cut-off Spark already
    uses to pull a frame through the driver for a broadcast. Negative
    disables both driver paths, as it disables broadcasts."""
    return spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()


def _fits_driver(df: DataFrame) -> bool:
    """Whether ``df`` is staged through the driver: its optimizer size
    estimate is within ``_driver_limit`` and its schema round-trips
    through Arrow."""
    limit = _driver_limit(df.sparkSession)
    if limit < 0 or not _parquet_via_arrow(df.schema):
        return False
    return df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes() <= limit


def _as_nullable(dt: T.DataType) -> T.DataType:
    """``dt`` with every field, element and value nullable: the schema
    a file scan reports for a user-given ``dt`` (Spark's
    ``asNullable``)."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _as_nullable(f.dataType), True, f.metadata) for f in dt.fields]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_as_nullable(dt.keyType), _as_nullable(dt.valueType), True)
    return dt


_COMMIT_RETRIES = 3  # lost version races an append retries before raising


def _check_sig(
    current: dict[str, str] | None, sig: dict[str, str], allow_evolution: bool
) -> None:
    """Schema enforcement on the write path (the table-format contract
    plain parquet directories lack): an append must match the table
    schema ``current`` exactly, or — with ``allow_evolution`` — may ADD
    columns while keeping every existing column's type. A drifted
    producer fails at commit time, not at some future reader's schema
    surprise. Runs on signatures only, so the commit loop re-runs it
    against the schema of every re-derived snapshot: a lost race may
    have redefined the table (a concurrent overwrite), and a blind
    retry would stamp a conflicting schema back on, silently mixing
    incompatible files."""
    if current is None or sig == current:
        return
    widened = allow_evolution and all(sig.get(c) == t for c, t in current.items())
    if not widened:
        raise SchemaMismatchError(
            f"append schema {sig} conflicts with table schema {current}"
            + ("" if allow_evolution else " (pass allow_evolution=True to add columns)")
        )


@dataclasses.dataclass
class _Snapshot:
    """Table state at one version, folded from the log by ``_replay``."""

    version: int | None = None
    # data file -> version that logically removed it (None: live), in
    # the order the files were added
    lifetimes: dict[str, int | None] = dataclasses.field(default_factory=dict)
    # Spark schema JSON of the latest schema-bearing commit, or the DDL
    # of its signature when it was logged without one
    read_schema: dict | str | None = None
    schema: dict[str, str] | None = None
    constraints: dict[str, str] = dataclasses.field(default_factory=dict)
    batch_ids: dict[str | None, set[int]] = dataclasses.field(default_factory=dict)
    history: list[dict] = dataclasses.field(default_factory=list)
    # commit temp files seen in the same listing (vacuum's age-gated sweep)
    tmp_files: list[str] = dataclasses.field(default_factory=list)

    @property
    def files(self) -> list[str]:
        return [f for f, gone in self.lifetimes.items() if gone is None]

    @property
    def next_version(self) -> int:
        return 0 if self.version is None else self.version + 1

    def claimed(self, batch_id: int | None, ledger_id: str | None) -> bool:
        return batch_id is not None and batch_id in self.batch_ids.get(ledger_id, ())


class TxTable:
    """Transactional parquet table rooted at ``path``."""

    def __init__(self, path: str) -> None:
        self.path = path
        self.log_dir = os.path.join(path, "_txlog")
        self.data_dir = os.path.join(path, "data")
        os.makedirs(self.log_dir, exist_ok=True)
        os.makedirs(self.data_dir, exist_ok=True)

    # ------------------------------------------------------------ log
    def versions(self) -> list[int]:
        return _versions(os.listdir(self.log_dir))

    def latest_version(self) -> int | None:
        vs = self.versions()
        return vs[-1] if vs else None

    def _entry(self, version: int) -> dict:
        with open(os.path.join(self.log_dir, f"{version:08d}.json")) as fh:
            return json.load(fh)

    def _replay(self, version: int | None = None) -> _Snapshot:
        """The table state at ``version`` (default: latest): one listing
        of the log and one forward fold that reads each entry 0..version
        once. Every state accessor and every write's plan is a
        projection of this result. Entries written by older code fold
        too: ``stats``/``bloom`` keys are ignored, metadata-only commits
        add no files, and a commit without ``spark_schema`` reads with
        the DDL of its signature (nested field names must then parse as
        plain identifiers, as every table this engine writes does)."""
        names = os.listdir(self.log_dir)
        vs = _versions(names)
        if version is not None and vs and version not in vs:
            raise ValueError(f"version {version} does not exist (have {vs})")
        s = _Snapshot(tmp_files=[n for n in names if n.endswith(".tmp")])
        for v in vs:
            if version is not None and v > version:
                break
            e = self._entry(v)
            s.version = v
            for f in e.get("removed", ()):
                if f in s.lifetimes and s.lifetimes[f] is None:  # only a live file
                    s.lifetimes[f] = v
            for f in e.get("added", ()):
                s.lifetimes.pop(f, None)
                s.lifetimes[f] = None
            if "spark_schema" in e:
                s.read_schema = e["spark_schema"]
            elif e.get("schema"):
                s.read_schema = ", ".join(
                    "`" + c.replace("`", "``") + f"` {t}" for c, t in e["schema"].items()
                )
            if e.get("schema"):
                s.schema = e["schema"]
            if e.get("op") == "add_constraint":
                s.constraints[e["constraint"]] = e["expr"]
            elif e.get("op") == "drop_constraint":
                s.constraints.pop(e["constraint"], None)
            if e.get("batch_id") is not None:
                s.batch_ids.setdefault(e.get("ledger_id"), set()).add(e["batch_id"])
            s.history.append(
                {
                    "version": v,
                    "op": e.get("op"),
                    "n_added": len(e.get("added", ())),
                    "n_removed": len(e.get("removed", ())),
                    "batch_id": e.get("batch_id"),
                    "ledger_id": e.get("ledger_id"),
                    "constraint": e.get("constraint"),
                }
            )
        return s

    def _paths(self, names: list[str]) -> list[str]:
        return [os.path.join(self.data_dir, f) for f in names]

    def snapshot_files(self, version: int | None = None) -> list[str]:
        """The live data-file list at ``version`` (default: latest)."""
        return self._paths(self._replay(version).files)

    def table_schema(self) -> dict[str, str] | None:
        """Column -> type of the current table schema (the latest
        commit carrying one wins)."""
        return self._replay().schema

    def history(self) -> list[dict]:
        """DESCRIBE HISTORY: one summary dict per commit (version, op,
        file delta, streaming batch key, constraint touched) — the
        audit surface for "who did what to this table", without
        exposing raw log internals."""
        return self._replay().history

    def committed_batch_ids(self, ledger_id: str | None = None) -> set[int]:
        """Batch ids recorded by ``append_batch`` commits WITHIN one
        ledger scope — the idempotence ledger for exactly-once
        streaming."""
        return set(self._replay().batch_ids.get(ledger_id, ()))

    def _commit(self, entry: dict, version: int | None = None) -> int:
        """Atomically claim ``version`` (default: next after latest):
        the entry is written to a temp file and fsynced, then
        ``os.link``-ed to the version name — an atomic put-if-absent,
        so a crash mid-write never leaves a truncated version. The
        version is the one the writer PLANNED from its read snapshot —
        if another writer claimed it first, this raises instead of
        silently committing on top of state the writer never saw (the
        optimistic-concurrency contract)."""
        if version is None:
            latest = self.latest_version()
            version = 0 if latest is None else latest + 1
        entry = {"version": version, **entry}
        target = os.path.join(self.log_dir, f"{version:08d}.json")
        tmp = os.path.join(self.log_dir, f".{version:08d}.{uuid.uuid4().hex}.tmp")
        try:
            with open(tmp, "w") as fh:
                json.dump(entry, fh)
                fh.flush()
                os.fsync(fh.fileno())
            os.link(tmp, target)
            # the new name itself must survive an OS crash: a caller
            # (the streaming sink) moves on once this returns
            fsync(self.log_dir)
        except FileExistsError as exc:
            raise ConcurrentCommitError(
                f"version {version} was committed concurrently"
            ) from exc
        finally:
            with contextlib.suppress(FileNotFoundError):
                os.remove(tmp)
        return version

    # ---------------------------------------------------------- write
    def _stage(self, df: DataFrame) -> list[str]:
        """Write ``df`` into data/ under commit-unique names. A frame
        that fits the driver (``_fits_driver``) becomes exactly one
        pyarrow-written file; any other goes through a distributed
        write to a staging dir whose parts are moved in. Every added
        file and data/ are fsynced before this returns, so a version
        that names them never outlives them in an OS crash. Files are
        INVISIBLE until a log entry references them — a crash here
        leaves only orphans for vacuum."""
        import pyarrow.parquet as pq

        tag = uuid.uuid4().hex[:12]
        if _fits_driver(df):
            names = [f"{tag}-00000.parquet"]
            pq.write_table(df.toArrow(), os.path.join(self.data_dir, names[0]))
        else:
            staging = os.path.join(self.path, f"_staging_{tag}")
            df.write.mode("overwrite").parquet(staging)
            names = []
            for i, f in enumerate(sorted(os.listdir(staging))):
                if not f.endswith(".parquet"):
                    continue
                name = f"{tag}-{i:05d}.parquet"
                shutil.move(os.path.join(staging, f), os.path.join(self.data_dir, name))
                names.append(name)
            shutil.rmtree(staging)
        for p in (*self._paths(names), self.data_dir):
            fsync(p)
        return names

    def _discard(self, added: list[str]) -> None:
        """Delete staged files no log entry references."""
        for f in added:
            with contextlib.suppress(FileNotFoundError):
                os.remove(os.path.join(self.data_dir, f))

    @staticmethod
    def _schema(s: _Snapshot) -> T.StructType:
        """The Spark schema the log recorded at ``s``'s version."""
        if s.read_schema is None:
            raise ValueError(f"no commit up to version {s.version} records a schema")
        if isinstance(s.read_schema, dict):
            return T.StructType.fromJson(s.read_schema)
        return T.StructType.fromDDL(s.read_schema)

    def _scan(self, spark: SparkSession, s: _Snapshot) -> DataFrame:
        """Read the live files of ``s`` with the schema the log recorded
        at that version — no footer inference and no schema-merge job.
        Files written before an evolution read the added columns as
        NULL."""
        return spark.read.schema(self._schema(s)).parquet(*self._paths(s.files))

    # ----------------------------------------------- CHECK constraints
    def constraints(self) -> dict[str, str]:
        """Active CHECK constraints (name -> SQL predicate), replayed
        from the log. Constraints are TABLE METADATA: an overwrite
        replaces the data and may redefine the schema, but the
        constraints persist until an explicit drop — same as Delta."""
        return self._replay().constraints

    def add_constraint(self, spark: SparkSession, name: str, expr: str) -> int:
        """ALTER TABLE ADD CONSTRAINT name CHECK (expr): validates the
        CURRENT snapshot first (a constraint the existing data already
        violates must fail here, not at some future writer), then
        commits a metadata-only log entry. Delta NULL semantics: a row
        violates only when the predicate evaluates to FALSE — NULL
        passes (add an IS NOT NULL conjunct to forbid it)."""
        s = self._replay()
        if name in s.constraints:
            raise ValueError(f"constraint {name!r} already exists")
        if s.files:
            bad = (
                self._scan(spark, s)
                .filter(f"NOT coalesce(({expr}), true)")
                .limit(1)
                .collect()
            )
            if bad:
                raise ConstraintViolationError(
                    f"existing rows violate CHECK {name!r} ({expr}): {bad[0]}"
                )
        return self._commit(
            {"op": "add_constraint", "constraint": name, "expr": expr,
             "added": [], "removed": []}
        )

    def drop_constraint(self, name: str) -> int:
        if name not in self.constraints():
            raise ValueError(f"constraint {name!r} does not exist")
        return self._commit(
            {"op": "drop_constraint", "constraint": name,
             "added": [], "removed": []}
        )

    def _enforce_constraints(
        self, spark: SparkSession, cons: dict[str, str], added: list[str]
    ) -> None:
        """Write-path CHECK enforcement of ``cons``, run on the STAGED
        files after ``_stage`` and before the commit: re-reading the
        just-written parquet costs one local scan of the new files only
        (never a recompute of the upstream plan) and checks exactly the
        bytes the commit would publish. On violation the invisible
        staged files are deleted and the write raises — the table never
        exposes a state that fails its contract."""
        if not cons or not added:
            return
        staged = spark.read.parquet(*self._paths(added))
        for name, expr in cons.items():
            bad = staged.filter(f"NOT coalesce(({expr}), true)").limit(1).collect()
            if bad:
                self._discard(added)
                raise ConstraintViolationError(
                    f"write violates CHECK {name!r} ({expr}): {bad[0]}"
                )

    def append_with_quarantine(
        self,
        df: DataFrame,
        quarantine: "TxTable",
        batch_id: int | None = None,
        ledger_id: str | None = None,
    ) -> tuple[int | None, int | None]:
        """Append with CHECK-violation QUARANTINE instead of rejection
        (the dbt ``store_failures`` / DLQ-table shape): rows passing
        every active constraint commit to THIS table; violating rows
        commit to ``quarantine`` with a ``violated`` column naming the
        failed rules (sorted, comma-joined) so replays and fixes are
        targeted. Returns (valid_version, quarantine_version|None).

        Unlike plain ``append`` — which rejects the WHOLE write so the
        table never publishes a bad state — this path trades strictness
        for progress: the pipeline keeps flowing and the bad rows stay
        visible, auditable, and replayable beside it. NULL semantics
        match CHECK enforcement: a NULL predicate passes. The quarantine
        side appends with ``allow_evolution``: a quarantine table seeded
        without the ``violated`` column widens instead of failing every
        write.

        With ``batch_id`` (the streaming quarantine sink) both sides
        commit through ``append_batch``'s idempotence ledger under
        DISTINCT scopes — ``ledger_id`` here, ``<ledger_id or
        'q'>::quarantine`` on the quarantine table — so a crash between
        the two commits heals on replay: the valid side recognizes the
        batch (its version is then None) and the quarantine side
        applies it. There is no cross-table transaction, so between a
        crash and its replay the two tables may hold different batches.

        The tagged frame is localCheckpoint-ed before splitting so the
        valid/bad routing is computed exactly once: a non-deterministic
        upstream df re-evaluated per consumer could otherwise send a
        row to both tables or neither. Raises ValueError if df already
        carries a ``violated`` column (the tag would silently clobber
        it and the quarantine rows would lose the caller's data).

        Scale: one materialization of the incoming frame (the
        checkpoint), then one filter pass per side; the rule evaluation
        is a row-local expression (no shuffle)."""
        from pyspark.sql import functions as F

        valid, bad = df, None
        cons = self.constraints()
        if cons:
            if "violated" in df.columns:
                raise ValueError(
                    "append_with_quarantine reserves the 'violated' column; "
                    "rename or drop it on the incoming frame"
                )
            fails = [
                F.when(~F.coalesce(F.expr(expr), F.lit(True)), F.lit(name))
                for name, expr in sorted(cons.items())
            ]
            tagged = df.withColumn(
                "violated", F.concat_ws(",", F.array_compact(F.array(*fails)))
            ).localCheckpoint(eager=True)
            valid = tagged.filter(F.col("violated") == "").drop("violated")
            bad = tagged.filter(F.col("violated") != "")
        v = self.append_batch(valid, batch_id, ledger_id)
        qv = None
        if bad is not None and bad.limit(1).count():
            qv = quarantine.append_batch(
                bad, batch_id, f"{ledger_id or 'q'}::quarantine", allow_evolution=True
            )
        return v, qv

    def append(self, df: DataFrame, allow_evolution: bool = False) -> int:
        """ACID append: ``append_batch`` without a ledger key."""
        return self.append_batch(df, None, allow_evolution=allow_evolution)

    def append_batch(
        self,
        df: DataFrame,
        batch_id: int | None,
        ledger_id: str | None = None,
        allow_evolution: bool = False,
    ) -> int | None:
        """ACID append: stage files, then one atomic commit at the
        version planned from the read snapshot. Appends commute, so a
        lost race is retried at the new head with the same staged files
        (they were never visible), on a re-derived snapshot: the schema
        is enforced before staging and again on every retry, so a race
        lost to an overwrite that redefined the table schema raises
        SchemaMismatchError instead of committing conflicting files
        (the staged parts stay invisible; vacuum sweeps them).

        With a ``batch_id`` the append is idempotent, keyed by (ledger
        scope, micro-batch id): a replayed batch (foreachBatch
        re-delivery after a failure/restart) is detected in the log and
        skipped — TOGETHER with the atomic commit this upgrades
        Structured Streaming's at-least-once foreachBatch contract to
        exactly-once into this table. Returns the new version, or None
        for a recognized replay. ``batch_id=None`` records no key (a
        plain ``append``).

        LEDGER VALIDITY — Spark's epoch-id contract only guarantees
        that the SAME batch id carries the SAME rows within one
        checkpoint lineage. Reuse one ``ledger_id`` across checkpoints
        ONLY when the source->batch mapping is deterministic (same
        finite source, same boundaries — the replay-proof harness
        shape); a restarted stream with a NEW checkpoint and different
        batch boundaries must use a new ledger scope, otherwise its
        batch 0 would be silently skipped (data loss). Scoping to the
        checkpoint/query id is the safe production default.

        The check-then-commit window is closed by the commit itself:
        the re-derived snapshot after a lost race also re-reads the
        ledger — if the winning commit claimed this (ledger, batch)
        key, the replay is recognized, the loser's staged files (which
        no entry references) are removed, and the retry abandoned."""
        s = self._replay()
        if s.claimed(batch_id, ledger_id):
            return None
        sig = _schema_sig(df)
        _check_sig(s.schema, sig, allow_evolution)
        added = self._stage(df)
        self._enforce_constraints(df.sparkSession, s.constraints, added)
        entry = {"op": "append", "added": added, "removed": []}
        if batch_id is not None:
            entry.update(batch_id=batch_id, ledger_id=ledger_id)
        entry.update(schema=sig, spark_schema=df.schema.jsonValue())
        for _ in range(_COMMIT_RETRIES + 1):
            try:
                return self._commit(entry, s.next_version)
            except ConcurrentCommitError:
                s = self._replay()
                if s.claimed(batch_id, ledger_id):
                    self._discard(added)
                    return None
                _check_sig(s.schema, sig, allow_evolution)
        raise ConcurrentCommitError(f"append lost {_COMMIT_RETRIES + 1} commit races")

    def overwrite(self, df: DataFrame) -> int:
        """ACID overwrite: new files in, every file live IN THE READ
        SNAPSHOT logically removed (still on disk — time travel reads
        them until vacuum). A lost race RAISES rather than retrying:
        unlike append, overwrite's removed-list depends on the
        snapshot it read, which the winning commit invalidated."""
        s = self._replay()
        added = self._stage(df)
        self._enforce_constraints(df.sparkSession, s.constraints, added)
        return self._commit(
            # overwrite may redefine the schema
            {"op": "overwrite", "added": added, "removed": s.files,
             "schema": _schema_sig(df), "spark_schema": df.schema.jsonValue()},
            s.next_version,
        )

    # ----------------------------------------------------------- read
    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """Snapshot read (time travel with ``version=``): resolves the
        immutable file list once; concurrent later commits are
        invisible to this DataFrame."""
        s = self._replay(version)
        if not s.files:
            raise ValueError("table has no committed data")
        return self._scan(spark, s)

    def read_local(
        self,
        spark: SparkSession,
        accept: Callable[[T.StructType], bool] | None = None,
    ) -> tuple[pa.Table, T.StructType] | None:
        """Snapshot read through the driver, the mirror of ``_stage``'s
        Arrow path: when the live files' on-disk bytes are within
        ``_driver_limit`` and the logged schema round-trips through
        Arrow, pyarrow reads each file and casts it to that schema
        (columns a file predates are NULL; INT96 timestamps from the
        distributed path become µs instants). Returns the table and the
        schema ``read`` would report (every field nullable, as a file
        scan makes it), or None when the snapshot does not fit or
        ``accept`` rejects that schema; both are decided before any
        file is read, and no Spark job runs either way. Same errors as
        ``read``."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        s = self._replay()
        if not s.files:
            raise ValueError("table has no committed data")
        schema = _as_nullable(self._schema(s))
        limit = _driver_limit(spark)
        paths = self._paths(s.files)
        if (
            limit < 0
            or not _parquet_via_arrow(schema)
            or (accept is not None and not accept(schema))
            or sum(os.path.getsize(p) for p in paths) > limit
        ):
            return None
        target = to_arrow_schema(schema)
        parts = []
        for p in paths:
            part = pq.ParquetFile(p, coerce_int96_timestamp_unit="us").read()
            parts.append(
                pa.Table.from_arrays(
                    [
                        part.column(f.name).cast(f.type)
                        if f.name in part.column_names
                        else pa.nulls(part.num_rows, f.type)
                        for f in target
                    ],
                    schema=target,
                )
            )
        return pa.concat_tables(parts), schema

    def optimize(self, spark: SparkSession, target_files: int = 1) -> int | None:
        """OPTIMIZE: rewrite the current snapshot's files into at most
        ``target_files`` compacted parts and commit the swap as ONE
        atomic log entry (adds the compacted files, logically removes
        every input). Readers pinned to older versions keep their
        small files until vacuum; a concurrent appender that wins the
        version race makes this raise rather than drop its rows —
        rerun on the new snapshot. No-op (returns None) if the
        snapshot is already within the target."""
        s = self._replay()
        if len(s.files) <= target_files:
            return None
        added = self._stage(self._scan(spark, s).coalesce(target_files))
        return self._commit(
            {"op": "optimize", "added": added, "removed": s.files},
            s.next_version,
        )

    # --------------------------------------------------------- vacuum
    def vacuum(
        self, retain_last: int = 1, retention_seconds: float = 24 * 3600
    ) -> list[str]:
        """Physically delete data files referenced by none of the last
        ``retain_last`` versions (older snapshots stop time-traveling
        — the Delta VACUUM contract), but ONLY once they are at least
        ``retention_seconds`` old. The age gate is what makes vacuum
        safe against lock-free concurrent writers: ``_stage`` writes
        files into data/ BEFORE the log commit, so a freshly staged
        in-flight file is unreferenced for a moment — deleting it
        would let the writer's commit land referencing missing files
        (silent data loss). Delta's VACUUM has the same retention
        check for the same reason; pass ``retention_seconds=0`` only
        when no writer can be in flight (tests, single-writer
        maintenance windows). ``retain_last`` is clamped to >= 1 — the
        live snapshot is never vacuumable. Also sweeps aged orphans
        from crashed stagings and commits (staging dirs, log temp
        files). Returns deleted data file names."""
        s = self._replay()
        keep: set[str] = set()
        if s.history:
            # a file is live at some retained version iff the oldest
            # retained version had not removed it yet
            oldest = s.history[-max(1, retain_last):][0]["version"]
            keep = {f for f, gone in s.lifetimes.items() if gone is None or gone > oldest}
        horizon = time.time() - retention_seconds
        deleted = []
        for f in os.listdir(self.data_dir):
            p = os.path.join(self.data_dir, f)
            if f not in keep and os.path.getmtime(p) <= horizon:
                os.remove(p)
                deleted.append(f)
        # crashed staging dirs (writer died before the move): same age gate
        for d in os.listdir(self.path):
            p = os.path.join(self.path, d)
            if d.startswith("_staging_") and os.path.getmtime(p) <= horizon:
                shutil.rmtree(p, ignore_errors=True)
        # crashed commits (writer died before the link): same age gate
        for f in s.tmp_files:
            p = os.path.join(self.log_dir, f)
            with contextlib.suppress(FileNotFoundError):
                if os.path.getmtime(p) <= horizon:
                    os.remove(p)
        return sorted(deleted)
