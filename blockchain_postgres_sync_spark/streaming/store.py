"""Versioned parquet table store with atomic batch promotion.

The reference applies each micro-batch inside ONE Postgres transaction
(src/lib/consumer/mod.rs:168-186) — all 25+ tables move together or not at
all.  The append-only analog (T1, SURVEY.md §2.9): every table write lands
in a new versioned directory, and a batch "commits" by atomically replacing
a single manifest file that maps table -> current version.  Readers resolve
through the manifest, so a crashed batch leaves only unreferenced garbage,
never a torn state.  (Same idea as Delta/Iceberg's manifest pointer, reduced
to the minimum this engine needs.)
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

#: directory name Spark/Hive uses for NULL partition values
_HIVE_NULL_PART = "__HIVE_DEFAULT_PARTITION__"


class TableStore:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)
        self._manifest_path = os.path.join(root, "MANIFEST.json")
        self._manifest: dict[str, int] = {}
        if os.path.exists(self._manifest_path):
            with open(self._manifest_path) as f:
                self._manifest = json.load(f)
        self._staged: dict[str, int] = {}
        self._frames: dict[tuple[str, int], DataFrame] = {}
        # data-file schema of every version THIS instance wrote: re-reading
        # its own writes then skips parquet schema inference (one footer job
        # per read).  Partition columns are left out — Spark discovers them
        # from the directory names (driver-side, no job) with the same type
        # inference a fresh reader applies.  In memory only: other readers
        # (views, a restarted consumer) infer as before.
        self._schemas: dict[tuple[str, int], StructType] = {}

    # -- read side -----------------------------------------------------

    def exists(self, name: str) -> bool:
        return name in {**self._manifest, **self._staged}

    def read(self, name: str) -> DataFrame:
        versions = {**self._manifest, **self._staged}
        if name not in versions:
            raise KeyError(f"table {name} not in store")
        # memoize the frame handle per (name, version): a version's files
        # are immutable once staged, and every spark.read.parquet schedules
        # its own footer/schema job — a batch reads the same version of a
        # table several times (tail scan, uid continuation, candle input),
        # so the memo removes one tiny driver job per repeat read
        key = (name, versions[name])
        if key not in self._frames:
            reader = self.spark.read
            if key in self._schemas:
                reader = reader.schema(self._schemas[key])
            self._frames[key] = reader.parquet(self._dir(*key))
        return self._frames[key]

    def read_or_none(self, name: str) -> DataFrame | None:
        return self.read(name) if self.exists(name) else None

    # -- write side ----------------------------------------------------

    def stage(self, name: str, df: DataFrame, partition_by: list[str] | None = None) -> None:
        """Write ``df`` as the next version of ``name`` (visible to this
        store instance immediately, to other readers only after commit)."""
        next_v = max(self._manifest.get(name, -1), self._staged.get(name, -1)) + 1
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        # label the write's jobs (guide §1.5) — descriptions are
        # thread-local, so concurrent wave writes each label their own
        self.spark.sparkContext.setJobDescription(f"stage {name}")
        try:
            w.parquet(self._dir(name, next_v))
        finally:
            self.spark.sparkContext.setJobDescription(None)
        self._remember_schema(name, next_v, df, partition_by or [])
        self._staged[name] = next_v

    def _remember_schema(
        self,
        name: str,
        version: int,
        df: DataFrame,
        partition_by: list[str],
        has_files: bool = False,
    ) -> None:
        """Record the data-file schema of a version just written, after
        making sure it has one: a partitioned write of an EMPTY frame emits
        no parquet files (and thus no schema), so it is rewritten flat — the
        partition column stays a data column (filters still work) and is
        remembered as one."""
        d = self._dir(name, version)
        if not has_files and not any(
            f.endswith(".parquet")
            for _root, _dirs, files in os.walk(d)
            for f in files
        ):
            df.limit(0).write.mode("overwrite").parquet(d)
            partition_by = []
        self._schemas[(name, version)] = StructType(
            [f for f in df.schema.fields if f.name not in partition_by]
        )

    def stage_range_replace(
        self,
        name: str,
        new_df: DataFrame,
        partition_col: str,
        replace_from,
    ) -> None:
        """Stage a new version where every partition with value >=
        ``replace_from`` (string order) comes from ``new_df`` and every
        partition below it is HARDLINKED from the previous version (no data
        copy, no read).  ``replace_from`` may also be a callable
        ``(partition_value: str) -> bool`` returning True for REPLACED
        partitions — used when the replaced set isn't a single ordered
        range (e.g. the unified candles table, where each interval has its
        own month boundary).  This is the 100 TB form of the per-batch
        candle upsert/rollback: a reorg or candle recompute touches a
        bounded, right-open time range, so the rewrite cost is O(affected
        partitions), not O(table) — and stale partitions above the boundary
        that ``new_df`` no longer produces disappear, which is exactly the
        rollback delete (S7).  ``new_df`` must contain exactly the rows of
        the replaced partitions.

        Falls back to a plain partitioned stage when the table doesn't
        exist yet.
        """
        # cluster rows by the partition value before the write: without it
        # every input partition of the (stored-tail ∪ new) plan emits one
        # file into EVERY partition dir it touches, so per-dir file counts
        # compound batch over batch and the next trigger's stored-tail scan
        # pays one task per file (measured: the candle write reached 72
        # input tasks by batch 5).  One small shuffle per staged write
        # keeps it at one file per replaced dir (guide §6 small files).
        new_df = new_df.repartition(F.col(partition_col))
        prev_v = self._staged.get(name, self._manifest.get(name))
        if prev_v is None:
            self.stage(name, new_df, partition_by=[partition_col])
            return
        next_v = max(self._manifest.get(name, -1), self._staged.get(name, -1)) + 1
        new_dir = self._dir(name, next_v)
        self.spark.sparkContext.setJobDescription(f"stage {name}")
        try:
            new_df.write.mode("overwrite").partitionBy(partition_col).parquet(new_dir)
        finally:
            self.spark.sparkContext.setJobDescription(None)
        # link kept (strictly-below-boundary) partition dirs from prev version
        prev_dir = self._dir(name, prev_v)
        prefix = f"{partition_col}="

        def _ge(a: str, b: str | int) -> bool:
            try:
                return int(a) >= int(b)
            except ValueError:
                return str(a) >= str(b)

        if callable(replace_from):
            replaced = replace_from
        else:
            replaced = lambda v: _ge(v, replace_from)

        from urllib.parse import unquote

        linked = False
        for entry in os.listdir(prev_dir):
            src = os.path.join(prev_dir, entry)
            if not entry.startswith(prefix) or not os.path.isdir(src):
                continue
            if replaced(unquote(entry[len(prefix):])):
                continue  # replaced (or deleted) range
            dst = os.path.join(new_dir, entry)
            os.makedirs(dst, exist_ok=True)
            for fn in os.listdir(src):
                if fn.endswith(".parquet"):
                    os.link(os.path.join(src, fn), os.path.join(dst, fn))
                    linked = True
        self._remember_schema(
            name, next_v, new_df, [partition_col], has_files=linked
        )
        self._staged[name] = next_v

    def compact(
        self,
        name: str,
        partition_col: str | None = None,
        max_files: int = 4,
        target_files: int = 1,
    ) -> bool:
        """Small-file compaction — the OPTIMIZE of a long-running store.
        A partition written by a parallel stage carries one file per write
        task, and ``stage_range_replace`` hardlinks untouched partitions
        forward with their historical file counts intact — so over a long
        run hot partitions fragment and per-file task setup starts to
        dominate scans.  Rewrites each partition whose parquet-file count exceeds
        ``max_files`` down to one file (each partition value hashes to
        exactly one task of the repartition, so one file per directory);
        already-compact partitions HARDLINK forward unchanged.  Content is
        row-identical, the new version goes live atomically at
        :meth:`commit` like any staged write.  Returns False when nothing
        needed compaction (no new version staged).

        Unpartitioned tables (small dimensions) rewrite to
        ``target_files`` files when over ``max_files``.  At 100 TB run
        this per hot partition on a schedule, exactly like any lakehouse
        OPTIMIZE job; cost is O(fat partitions), never O(table).
        """
        prev_v = self._staged.get(name, self._manifest.get(name))
        if prev_v is None:
            raise KeyError(f"table {name} not in store")
        prev_dir = self._dir(name, prev_v)

        def n_parquet(d: str) -> int:
            return sum(
                1 for fn in os.listdir(d) if fn.endswith(".parquet")
            ) if os.path.isdir(d) else 0

        if partition_col is None:
            if n_parquet(prev_dir) <= max_files:
                return False
            self.stage(name, self.read(name).coalesce(target_files))
            return True

        prefix = f"{partition_col}="
        from urllib.parse import unquote

        fat = {
            unquote(e[len(prefix):])
            for e in os.listdir(prev_dir)
            if e.startswith(prefix)
            and n_parquet(os.path.join(prev_dir, e)) > max_files
        }
        if not fat:
            return False
        df = self.read(name)
        # NULL partition values live in the Hive default-partition dir; an
        # isin() filter never matches NULL rows, so without an explicit
        # isNull() branch a fat NULL partition would be dropped from the
        # rewrite while the replace predicate still retires its old dir —
        # silent data loss.  (A literal string equal to the sentinel shares
        # the dir — Hive's own ambiguity — so the isin branch keeps it too.)
        cond = F.col(partition_col).cast("string").isin(*fat)
        if _HIVE_NULL_PART in fat:
            cond = cond | F.col(partition_col).isNull()
        # stage_range_replace clusters by the partition column itself
        fat_rows = df.filter(cond)
        self.stage_range_replace(
            name, fat_rows, partition_col, lambda v: v in fat
        )
        return True

    def commit(self) -> None:
        """Atomically promote all staged tables (the per-batch transaction).
        os.replace is atomic on POSIX; on an object store this would be a
        conditional-put of the manifest object."""
        if not self._staged:
            return
        merged = {**self._manifest, **self._staged}
        tmp = self._manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(merged, f)
        os.replace(tmp, self._manifest_path)
        old = self._manifest
        self._manifest = merged
        self._staged = {}
        # garbage-collect superseded versions (and their memoized frames —
        # a handle over a deleted directory must never be handed out again)
        for name, v in merged.items():
            prev = old.get(name)
            if prev is not None and prev != v:
                shutil.rmtree(self._dir(name, prev), ignore_errors=True)
                self._frames.pop((name, prev), None)
                self._schemas.pop((name, prev), None)

    def rollback_staged(self) -> None:
        for name, v in self._staged.items():
            shutil.rmtree(self._dir(name, v), ignore_errors=True)
            self._frames.pop((name, v), None)
            self._schemas.pop((name, v), None)
        self._staged = {}

    def _dir(self, name: str, version: int) -> str:
        return os.path.join(self.root, name, f"v{version:06d}")
