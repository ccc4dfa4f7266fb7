"""Warehouse table IO — the six-table snowflake as partitioned Parquet.

Replaces the reference's SQLAlchemy/Postgres row-at-a-time writes
(reference process_snapshot.py:113-211,438-450) with set-oriented Spark IO:

- dims: append-only, novelty discovered by LEFT ANTI join on the natural key
  (the reference never updates dims, only inserts — SURVEY §2.5 J1).
  ``upsert_dim`` counts the novelty with an ``Observation`` on the eager
  checkpoint that materializes it, so deciding whether to append costs no
  ``count()`` job of its own.
- facts and dead letters: per-snapshot FILE GROUPS (``snap-<id>-*.parquet``,
  facts inside ``snapshot_date`` partitions, dead letters flat) — see
  SNAPSHOT_GROUP_TABLES.  Idempotent reload = unlink the group + adopt the
  new one (the reference's per-snapshot DELETE, process_snapshot.py:278) —
  sibling snapshots' files untouched.
- control: append-only LOG of versioned status rows (last-writer-wins by
  ``log_seq``, resolved on read, collapsed by compact()) — see LOG_TABLES.

Small frames the driver builds itself (control rows, id lists) go through
``local_frame``: an Arrow table becomes a local relation, so writing one row
costs the write job only, not Python workers deserializing pickled rows.

Scale notes: date-granular partitions keep the partition count sane at years
of minute-cadence data (~365 partitions/year vs 525k for minute-granular)
while still pruning every time-bounded read; the file-group naming gives
minute-granular reload without minute-granular partitions.  compact()
periodically merges a day's ~1440 groups into large files (restoring scan
efficiency); reloading pre-compaction history falls back to a filter-rewrite
of only the compacted files that hold the victim rows.  On a production
lake both paths become a Delta ``replaceWhere``/``MERGE``; plain Parquet is
kept here so nothing depends on a lakehouse runtime.
"""

from __future__ import annotations

import contextlib
import datetime
import os
import shutil
import threading
import time
from collections.abc import Sequence
from concurrent.futures import Future

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from .. import schemas
from ..metrics import observed

# Tables stored as append-only logs of versioned rows: every write APPENDS
# full replacement rows stamped with a monotonic ``log_seq``; readers resolve
# latest-per-key with a window.  This takes the per-snapshot status
# transitions (pending -> loading -> loaded, ~4 writes/minute at reference
# cadence) off the whole-table read-modify-write path — at 100x ingest fan-in
# the old rewrite+lock was the one remaining serialization point (the
# reference's analog is a Postgres row UPDATE, process_snapshot.py:240-321).
# Appends from concurrent writers are safe without a lock (Spark part-file
# names are task-unique); last-writer-wins by log_seq matches the reference's
# row-update semantics.  compact() collapses the log back to one row per key
# (run it from the daily maintenance slot), bounding read-side window cost.
LOG_TABLES: dict[str, list[str]] = {"siri_snapshot": ["snapshot_id"]}
_LOG_SEQ_COL = "log_seq"

# Tables written as per-snapshot file groups (``Warehouse.write_snapshot_groups``):
# name -> (partition columns, sort key within each file).  Every row of a
# snapshot lands in files named ``snap-<group>-*.parquet`` (``<group>`` is the
# snapshot id with '/' -> '-') inside the partition directory its id names, so
# replacing a snapshot's rows lists that directory and unlinks its group —
# sibling snapshots' files are never read or rewritten.  Dead letters stay
# flat: their pre-group whole-table files sit at the table root, and root
# files next to ``snapshot_date=`` directories break partition discovery.
SNAPSHOT_GROUP_TABLES: dict[str, tuple[list[str], list[str]]] = {
    "siri_vehicle_location": (["snapshot_date"], ["recorded_at_time"]),
    "dead_letter": ([], []),
}
# Partition value of a snapshot id (``pipeline.build_facts`` derives the
# ``snapshot_date`` column from the id the same way).
_PARTITION_VALUE = {"snapshot_date": lambda sid: sid[:10].replace("/", "-")}

_log_seq_lock = threading.Lock()
_log_seq_last = 0


def _next_log_seq() -> int:
    """Monotonic per-process sequence (ns wall clock, bumped on ties).

    Cross-process ordering is Lamport-style: before its first append to a
    log table, a writer reads the log's ``max(log_seq)`` and raises this
    floor to it (``Warehouse._sync_log_seq``), so a new write always lands
    AFTER everything already observed — even when a skewed-clock peer has
    stamped rows from the future.  Within that ordering, last-writer-wins
    matches the reference's row-update semantics; the heartbeat-takeover
    guard (control.py) is what arbitrates truly concurrent loaders, not
    the seq.
    """
    global _log_seq_last
    with _log_seq_lock:
        s = max(_log_seq_last + 1, time.time_ns())
        _log_seq_last = s
        return s


def _bump_log_seq_floor(seen: int) -> None:
    """Raise the process's log_seq floor to an observed remote maximum."""
    global _log_seq_last
    with _log_seq_lock:
        _log_seq_last = max(_log_seq_last, seen)


def local_frame(spark: SparkSession, rows: list[dict], schema: T.StructType) -> DataFrame:
    """A DataFrame of driver-side ``rows`` as an Arrow local relation.

    ``createDataFrame([Row, ...])`` ships pickled rows to Python workers in
    every task that reads them; an Arrow table is handed to the JVM whole.
    Naive datetimes are read as local wall time, as ``createDataFrame``
    reads them, so values survive a ``collect()`` unchanged.
    """

    def instant(v):
        return v.astimezone(datetime.timezone.utc) if isinstance(v, datetime.datetime) else v

    table = pa.Table.from_pylist(
        [{k: instant(v) for k, v in r.items()} for r in rows],
        schema=to_arrow_schema(schema),
    )
    return spark.createDataFrame(table)


class TableFS:
    """Filesystem seam for table-directory maintenance operations.

    Bulk data IO goes through Spark readers/writers (already portable to any
    Hadoop-compatible FS); the *maintenance* steps — adopting staged files,
    unlinking per-snapshot groups, lock markers — are the only places the
    engine touches the filesystem directly, and they all funnel through this
    interface.  An object-store deployment (S3/GCS listing + server-side
    copy, or Delta's transactional equivalents — the module docstring's
    migration story) is then a class swap, not a Warehouse rewrite.  The
    test suite drives an object-store-sim impl (copy+delete rename, no POSIX
    atomicity) through the full write→reload→compact→reload cycle.
    """

    def glob(self, pattern: str) -> list[str]:
        import glob as _glob

        return _glob.glob(pattern)

    def isdir(self, path: str) -> bool:
        return os.path.isdir(path)

    def makedirs(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def rename(self, src: str, dst: str) -> None:
        """Move a data file into its final name (atomic on POSIX)."""
        os.replace(src, dst)

    def remove(self, path: str) -> None:
        os.remove(path)

    def rmtree(self, path: str) -> None:
        shutil.rmtree(path, ignore_errors=True)

    def mkdir_atomic(self, path: str) -> bool:
        """Create a lock-marker directory; False if it already exists.

        On an object store this becomes a conditional PUT (if-none-match) —
        same winner-takes-it semantics."""
        try:
            os.mkdir(path)
            return True
        except FileExistsError:
            return False

    def rmdir(self, path: str) -> None:
        os.rmdir(path)


class Warehouse:
    """A directory of Parquet tables with the engine's upsert semantics."""

    def __init__(self, spark: SparkSession, path: str, fs: TableFS | None = None):
        self.spark = spark
        self.path = path
        self.fs = fs or TableFS()
        self._log_seq_synced: set[str] = set()

    def _sync_log_seq(self, name: str) -> None:
        """Lamport read-back: before this warehouse's first append to a log
        table, raise the process log_seq floor to the log's max(log_seq) so
        our writes order after rows stamped by skewed-clock peers.  One
        tiny-table max() scan per (warehouse, table) per process."""
        if name in self._log_seq_synced:
            return
        self._log_seq_synced.add(name)
        if not self.exists(name):
            return
        df = self.spark.read.parquet(self.table_path(name))
        if _LOG_SEQ_COL in df.columns:
            row = df.agg(F.max(_LOG_SEQ_COL).alias("m")).first()
            if row is not None and row["m"] is not None:
                _bump_log_seq_floor(int(row["m"]))

    def table_path(self, name: str) -> str:
        return os.path.join(self.path, name)

    def exists(self, name: str) -> bool:
        return self.fs.isdir(self.table_path(name))

    def read(self, name: str, schema: T.StructType | None = None) -> DataFrame:
        """Read a table; empty DataFrame with the declared schema if absent.

        Schema evolution: when the declared schema is known it is passed to
        the reader, so files written BEFORE a column was added simply yield
        NULL for it — no ``mergeSchema`` footer scan (which reads every
        file's metadata: prohibitive on a 100 TB fact table), no rewrite of
        history.  Files carrying extra columns are projected away by the
        normalization select.
        """
        schema = schema or schemas.ALL_TABLES.get(name)
        if not self.exists(name):
            if schema is None:
                raise ValueError(f"unknown table {name!r} and no schema given")
            return self.spark.createDataFrame([], schema)
        log_keys = LOG_TABLES.get(name)
        if schema is not None:
            read_schema = schema
            if log_keys:
                # the log-resolution column rides outside the declared schema
                read_schema = T.StructType(
                    list(schema.fields)
                    + [T.StructField(_LOG_SEQ_COL, T.LongType())]
                )
            df = self.spark.read.schema(read_schema).parquet(self.table_path(name))
        else:
            df = self.spark.read.parquet(self.table_path(name))
        if log_keys and _LOG_SEQ_COL in df.columns:
            df = self._resolve_log(df, log_keys).drop(_LOG_SEQ_COL)
        if schema is not None:
            # partition columns come back last & possibly re-typed; normalize
            df = df.select(
                *[F.col(f.name).cast(f.dataType).alias(f.name) for f in schema.fields]
            )
        return df

    def append(self, name: str, df: DataFrame) -> None:
        df.write.mode("append").parquet(self.table_path(name))

    def _staged_rewrite(
        self, name: str, df: DataFrame, partition_by: list[str] | None = None
    ) -> None:
        """Overwrite a table with a plan that READS that same table.

        The naive ``df.write.mode("overwrite")`` would delete the input
        files under the running plan.  Materializing via localCheckpoint
        works but pins the whole dataset in executor storage memory and is
        not fault-tolerant (a lost executor kills the rerun path) — fine
        for a unit test, wrong at 100 TB.  Instead stage to a sibling
        directory (spills to disk, task-retry safe), then rewrite the final
        location from the staged copy.  Double write, but only of the
        affected partitions — the production analog is Delta's
        transactional replaceWhere, which this layout swaps into directly.
        """
        stage = self.table_path(name) + "._staging"
        df.write.mode("overwrite").parquet(stage)
        staged = self.spark.read.parquet(stage)
        w = staged.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self.table_path(name))
        self.fs.rmtree(stage)

    # -- dimension upsert (J1): get-or-create == left-anti + append ---------

    @contextlib.contextmanager
    def _table_lock(self, name: str, timeout: float = 120.0):
        """Advisory per-table mutual exclusion via atomic mkdir.

        The anti-join upsert is read-then-append: two concurrent batches
        that both compute novelty against the same snapshot would both
        append the same key (the race test_concurrent_dim_upserts_no_dups
        demonstrates).  Spark serializes micro-batches WITHIN one streaming
        query, but two queries (or a stream plus a backfill) sharing a
        warehouse race.  mkdir is atomic on POSIX and object-store-backed
        NFS alike; on a production lake the lock is replaced by Delta's
        optimistic commit protocol (the module docstring's migration
        story).  Held for the anti-join + append only — seconds — so
        contention is bounded by batch cadence, not data size.
        """
        lockdir = self.table_path(name) + "._lock"
        self.fs.makedirs(os.path.dirname(lockdir) or ".")
        deadline = time.monotonic() + timeout
        while not self.fs.mkdir_atomic(lockdir):
            if time.monotonic() > deadline:
                raise TimeoutError(
                    f"could not acquire lock on table {name!r} within "
                    f"{timeout}s (stale {lockdir}?)"
                )
            time.sleep(0.05)
        try:
            yield
        finally:
            self.fs.rmdir(lockdir)

    def upsert_dim(
        self,
        name: str,
        candidates: DataFrame,
        key_cols: list[str],
        after: Sequence[Future] = (),
    ) -> DataFrame:
        """Insert candidate rows whose natural key is absent; return the
        novelty rows actually added (materialized).

        ``candidates`` must already be deduplicated on ``key_cols`` (D2).
        Only the table's declared columns (``schemas.ALL_TABLES[name]``) are
        appended; any other candidate column (the ``_first_snapshot_id``
        tag of ``operators.upsert``) stays on the returned novelty rows only.
        The anti join's build side is the *existing dim keys only* — Catalyst
        broadcasts it when small; at scale AQE picks broadcast vs shuffled
        hash per batch.  Append-only, so a rerun of the same batch adds 0.
        The read-novelty-append sequence runs under the table lock so
        concurrent upserts serialize instead of double-inserting (see
        _table_lock).

        ``after``: futures of the parent dims' upserts
        (``operators.upsert.DIM_PARENTS``).  The novelty is computed and
        checkpointed at once; the append waits until every parent has
        returned, and a parent that raised re-raises here, so nothing is
        appended.  Readers never see a row before the parent rows it names.
        """
        with self._table_lock(name):
            existing = self.read(name).select(*key_cols)
            novelty, added = observed(
                candidates.join(existing, on=key_cols, how="left_anti"),
                f"{name}_novelty",
            )
            # materialize novelty exactly once before appending to the files
            # the anti join reads from; the checkpoint's job also counts it
            novelty = novelty.localCheckpoint(eager=True)
            for parent in after:
                parent.result()
            if added.get["rows"]:
                cols = [f.name for f in schemas.ALL_TABLES[name].fields]
                self.append(name, novelty.select(*cols))
        return novelty

    # -- per-snapshot file-group sink (facts S4/S5/T4, dead letters S6) ------
    #
    # Layout: <table>/[<partition>=<v>/]snap-<group>-<part>.parquet, see
    # SNAPSHOT_GROUP_TABLES.  The file NAME is the manifest, so the
    # reference's per-snapshot DELETE (process_snapshot.py:278) is one
    # listing of the partitions the ids name plus a glob-unlink of
    # O(files-per-snapshot) — no read-back, no union, no rewrite of sibling
    # snapshots.  A minute-cadence reload touches kilobytes of metadata
    # instead of rewriting the whole day or the whole dead-letter table.
    # compact() erases group naming (by design: it merges the day's 1440
    # file groups), and files written before a table was grouped carry none
    # either; rows of a snapshot inside such files are replaced via a
    # filter-rewrite of ONLY the files that hold them — the rare path, paid
    # only when reloading history older than the last compaction.
    # Production analog: Delta ``replaceWhere``/MERGE; on an object store
    # the post-write rename becomes a server-side copy (same cost class as
    # Delta's commit-then-visible write).

    @staticmethod
    def _snapshot_group(snapshot_id: str) -> str:
        return snapshot_id.replace("/", "-")

    def write_facts(self, facts: DataFrame, reload_snapshot_ids: list[str]) -> None:
        """The fact sink: ``write_snapshot_groups`` on ``siri_vehicle_location``."""
        self.write_snapshot_groups("siri_vehicle_location", facts, reload_snapshot_ids)

    def write_snapshot_groups(
        self, name: str, rows: DataFrame, replace_ids: list[str]
    ) -> None:
        """Append ``rows`` to group table ``name`` as one file group per
        snapshot; any of ``replace_ids`` that already has rows is replaced
        (delete-then-write, reference process_snapshot.py:278).

        One job stages ALL snapshots of the batch, partitioned by (partition
        columns, group) so each snapshot's rows land in their own directory
        and sorted within each file by the layout's key: fact rows are
        time-clustered, so parquet row-group min/max stats on
        recorded_at_time prune time-range scans WITHIN a day.  The staged
        files are then renamed into place: pure metadata moves (per-file
        copy on an object store), no data pass.
        """
        parts, sort_by = SNAPSHOT_GROUP_TABLES[name]
        stage = self.table_path(name) + "._incoming"
        self.fs.rmtree(stage)
        cols = [f.name for f in schemas.ALL_TABLES[name].fields]
        (
            rows.select(*cols)
            .withColumn("snapshot_group", F.regexp_replace("snapshot_id", "/", "-"))
            .sortWithinPartitions(*parts, "snapshot_group", *sort_by)
            .write.mode("overwrite")
            .partitionBy(*parts, "snapshot_group")
            .parquet(stage)
        )
        self.delete_snapshot_groups(name, replace_ids)
        self._adopt(name, stage, parts, grouped=True)

    def delete_snapshot_groups(self, name: str, snapshot_ids: list[str]) -> None:
        """Remove all rows of ``snapshot_ids`` from group table ``name``: list
        the partitions the ids name once, unlink their file groups, and if
        any rows survive inside group-less files there (reload of history
        older than the last compact()), filter-rewrite only those files."""
        if not snapshot_ids or not self.exists(name):
            return
        parts, sort_by = SNAPSHOT_GROUP_TABLES[name]
        path = self.table_path(name)
        victims = tuple(f"snap-{self._snapshot_group(s)}-" for s in snapshot_ids)
        dirs = {
            os.path.join(path, *[f"{c}={_PARTITION_VALUE[c](s)}" for c in parts])
            for s in snapshot_ids
        }
        compacted = []
        for d in sorted(dirs):
            for f in self.fs.glob(os.path.join(d, "*.parquet")):
                base = os.path.basename(f)
                if base.startswith(victims):
                    self.fs.remove(f)
                elif not base.startswith("snap-"):
                    compacted.append(f)
        if not compacted:
            return
        in_scope = F.col("snapshot_id").isin(snapshot_ids)
        scan = self.spark.read.option("basePath", path).parquet
        touched = sorted(
            r["f"]
            for r in scan(*compacted)
            .filter(in_scope)
            .select(F.input_file_name().alias("f"))
            .distinct()
            .collect()
        )
        if not touched:
            return
        # rewrite ONLY the compacted files holding the victim rows
        retained = scan(*touched).filter(~in_scope)
        if parts or sort_by:
            retained = retained.sortWithinPartitions(*parts, *sort_by)
        stage = path + "._rewrite"
        self.fs.rmtree(stage)
        retained.write.mode("overwrite").partitionBy(*parts).parquet(stage)
        from urllib.parse import unquote, urlparse

        for p in touched:
            self.fs.remove(unquote(urlparse(p).path) if "://" in p or p.startswith("file:") else p)
        self._adopt(name, stage, parts, grouped=False)

    def _adopt(self, name: str, stage: str, parts: list[str], grouped: bool) -> None:
        """Rename the files staged under ``stage`` (partitioned by ``parts``,
        then by ``snapshot_group`` when ``grouped``) into the same partition
        of table ``name``; a group's files take the ``snap-<group>-`` name
        prefix.  Drops the staging directory."""
        levels = [f"{c}=*" for c in parts] + (["snapshot_group=*"] if grouped else [])
        for src in self.fs.glob(os.path.join(stage, *levels, "*.parquet")):
            rel_dir, fname = os.path.split(os.path.relpath(src, stage))
            if grouped:
                rel_dir, group = os.path.split(rel_dir)
                fname = f"snap-{group.split('=', 1)[1]}-{fname}"
            dest_dir = os.path.join(self.table_path(name), rel_dir)
            self.fs.makedirs(dest_dir)
            self.fs.rename(src, os.path.join(dest_dir, fname))
        self.fs.rmtree(stage)

    # -- keyed writes: the control log, whole-table overwrite --------------

    @staticmethod
    def _resolve_log(df: DataFrame, key_cols: list[str]) -> DataFrame:
        """Latest row per key by ``log_seq`` (the read side of LOG_TABLES)."""
        w = Window.partitionBy(*key_cols).orderBy(F.col(_LOG_SEQ_COL).desc())
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    def logged_keys(self, name: str) -> DataFrame:
        """The key columns of every row in a log table, all versions.

        For an existence check any logged row is enough, so this skips the
        latest-version window ``read`` resolves.  The table must exist."""
        schema = schemas.ALL_TABLES[name]
        keys = T.StructType([schema[k] for k in LOG_TABLES[name]])
        return self.spark.read.schema(keys).parquet(self.table_path(name))

    def upsert_rows(self, name: str, rows: DataFrame, key_cols: list[str]) -> None:
        """Replace rows matching ``key_cols`` in a log-structured table
        (LOG_TABLES, i.e. the control table): APPEND the replacement rows
        stamped with a fresh ``log_seq`` — no read, no lock, no rewrite of
        sibling rows; the latest-per-key resolution on ``key_cols``
        happens on read and the daily compact() bounds log growth.
        Production analog: Delta MERGE keyed on ``key_cols``.  Any other
        table raises ``ValueError``: facts and dead letters are replaced per
        snapshot by ``write_snapshot_groups``, a whole table by ``overwrite``.
        """
        if name not in LOG_TABLES:
            raise ValueError(
                f"upsert_rows: {name!r} is not a log-structured table "
                f"({sorted(LOG_TABLES)}); use write_snapshot_groups or overwrite"
            )
        self._sync_log_seq(name)
        self.append(name, rows.withColumn(_LOG_SEQ_COL, F.lit(_next_log_seq())))

    def overwrite(self, name: str, df: DataFrame) -> None:
        if name in LOG_TABLES:
            self._sync_log_seq(name)
            df = df.withColumn(_LOG_SEQ_COL, F.lit(_next_log_seq()))
        df.localCheckpoint(eager=True).write.mode("overwrite").parquet(
            self.table_path(name)
        )

    # -- maintenance: small-file compaction ---------------------------------

    def n_files(self, name: str) -> int:
        """Count a table's data files (flat + one partition level) — the
        single definition of "file count" shared by compact()'s return
        value and the ingest benchmarks, so the two can't drift."""
        path = self.table_path(name)
        return len(
            self.fs.glob(os.path.join(path, "*.parquet"))
            + self.fs.glob(os.path.join(path, "*", "*.parquet"))
        )

    def compact(self, name: str, target_files: int = 1) -> int:
        """Rewrite a table into ``target_files`` files per partition.

        Minute-cadence ingest appends one small file set per snapshot; after
        a day the dim tables hold ~1440 tiny files and every anti-join scan
        pays per-file open cost.  Run compact() periodically (the daily
        pending-sweep DAG slot in the reference is the natural place).
        Facts keep their snapshot_date partitioning.  Returns the number of
        data files after compaction.
        """
        if not self.exists(name):
            return 0
        path = self.table_path(name)
        df = self.spark.read.parquet(path)
        log_keys = LOG_TABLES.get(name)
        if log_keys and _LOG_SEQ_COL in df.columns:
            # collapse the status log to its latest row per key (keeping
            # that row's log_seq so the file schema stays homogeneous with
            # post-compaction appends)
            df = self._resolve_log(df, log_keys)
        parts, sort_by = SNAPSHOT_GROUP_TABLES.get(name, ([], []))
        df = df.repartition(target_files)
        if parts or sort_by:
            # re-establish the within-file order write_snapshot_groups keeps:
            # compaction must not trade file count for row-group skipping
            df = df.sortWithinPartitions(*parts, *sort_by)
        self._staged_rewrite(name, df, parts)
        return self.n_files(name)
