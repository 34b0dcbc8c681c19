"""Lakehouse table layer: managed parquet tables with MERGE upsert.

The reference persists every medallion layer as Delta and upserts with
``DeltaTable.merge`` (silver_orders.py:72-79, silver_enrich.py:46-53,
fct_sales_minute.sql:2-6). delta-spark is not bundled in this environment, so
this module provides the same *semantics* over plain parquet:

- ``whenMatchedUpdateAll / whenNotMatchedInsertAll`` == anti-join the target
  against the update keys, union the updates back in, rewrite.
- Writes are atomic at directory granularity (write to a temp dir, swap) so a
  failed job never leaves a half-written table — the property Delta gets from
  its transaction log.

Scale design (100 TB): a full-table rewrite per merge is wrong at scale.
The merge is built around three mitigations:

1. **The update set is pinned once inside ``merge``.** A lazy
   ``localCheckpoint`` on the incremental path makes every pass over the
   updates (change capture, key probe, rewrite or append) read the batch
   from the block manager, so callers hand in their lineage unpinned and
   it is evaluated once per merge.
2. **One key probe serves both the append decision and relocation.** On a
   partitioned table (e.g. silver by ``event_date``, per the reference's
   own recommendation README.md:295) a single ``collect`` of the target's
   (keys + partition columns) semi-joined against the update keys, unioned
   with the update set's own partitions, yields every partition the merge
   touches. An empty hit set is the insert-only case: the batch is
   appended and no existing file is rewritten.
3. **The rewrite is staged in the block manager.** Only touched
   partitions are rewritten: their rows are merged, rebalanced by the
   partition columns, pinned with an eager ``localCheckpoint`` and written
   once by dynamic partition overwrite. A
   2-hour late-data merge then touches a handful of date partitions out of
   thousands — the I/O profile of a Delta MERGE with partition pruning.

If delta-spark is importable the same API can delegate to a real
``DeltaTable.merge`` (file-level rewrite + transaction log).

Update sets must be unique per key (the same precondition Delta MERGE
enforces); ``latest_wins`` pre-dedupes by an ordering column when the caller
expects redeliveries.
"""

from __future__ import annotations

import os
import shutil
import uuid
import warnings

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

try:  # pragma: no cover - delta not bundled here
    from delta.tables import DeltaTable

    _HAS_DELTA = True
except ImportError:
    DeltaTable = None  # patched by tests to exercise the delegation
    _HAS_DELTA = False

# Characters Spark escapes in Hive partition directory names
# (ExternalCatalogUtils.charToEscape) — needed to address stale partition
# dirs on disk; f"{col}={value}" alone misses nulls and escaped values.
_HIVE_ESCAPE_CHARS = set('"#%\'*/:=?\\{[]^') | {chr(c) for c in range(0x20)} | {"\x7f"}

# Largest composite-partition touch set pruned with a flat OR-of-AND
# predicate; past it a rewrite covers the whole table (with a warning).
_MAX_COMPOSITE_PARTITIONS = 64


def _hive_partition_value(v) -> str:
    """The directory-name form Spark writes for a partition value."""
    if v is None:
        return "__HIVE_DEFAULT_PARTITION__"
    return "".join(
        f"%{ord(ch):02X}" if ch in _HIVE_ESCAPE_CHARS else ch for ch in str(v)
    )


def sync_all_columns(
    target: DataFrame, updates: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Schema evolution for MERGE — dbt ``on_schema_change: sync_all_columns``
    (analytics/dbt/ecom_analytics/dbt_project.yml:13) / Delta ``mergeSchema``
    parity:

    - columns NEW in ``updates`` are appended to the table contract; existing
      target rows read them as null;
    - columns the updates DROPPED are retained (a MERGE must not destroy
      history) and null-filled in the update rows;
    - same-named columns keep the TARGET's type and updates are cast to it.
      In-place type changes are not supported: a partition-pruned merge
      rewrites only touched partitions, so changing the type of an existing
      column would leave mixed file schemas behind.

    Returns the aligned (target, updates) pair sharing the union schema,
    target columns first (stable contract order), new columns appended in
    update order.
    """
    tgt_fields = {f.name: f for f in target.schema.fields}
    new_fields = [f for f in updates.schema.fields if f.name not in tgt_fields]
    dropped = [f for f in target.schema.fields if f.name not in updates.columns]
    out_cols = target.columns + [f.name for f in new_fields]
    target = target.select(
        *target.columns,
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in new_fields],
    )
    updates = updates.select(
        *[
            F.col(f.name).cast(tgt_fields[f.name].dataType).alias(f.name)
            if f.name in tgt_fields
            else F.col(f.name)
            for f in updates.schema.fields
        ],
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in dropped],
    )
    return target.select(*out_cols), updates.select(*out_cols)


def merge_upsert(target: DataFrame, updates: DataFrame, keys: list[str]) -> DataFrame:
    """Pure-DataFrame MERGE: rows of ``target`` whose key appears in
    ``updates`` are replaced (update-all), new keys are inserted.

    The anti-join build side is the distinct update keys. No broadcast hint:
    for a gold merge that set is tiny and AQE broadcasts it anyway; for a
    silver merge it is the whole batch's key set, which at real batch sizes
    would OOM a forced broadcast — AQE picks shuffle join there. Column
    order follows the target contract.
    """
    cols = target.columns
    update_keys = updates.select(*keys).distinct()
    kept = target.join(update_keys, on=keys, how="left_anti")
    return kept.unionByName(updates.select(*cols))


def latest_wins(df: DataFrame, keys: list[str], order_col: str) -> DataFrame:
    """Collapse an at-least-once update set to one row per key, keeping the
    row with the greatest ``order_col`` (W1 dedup shape, silver_orders.py:47-50).
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(*keys).orderBy(F.col(order_col).desc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


class ParquetTable:
    """A managed, path-addressed table with atomic overwrite and MERGE.

    ``partition_by`` enables partition-pruned merges; silver tables should be
    partitioned by ``event_date`` and gold facts can stay unpartitioned until
    they outgrow a single rewrite (minute buckets: ~0.5M rows/year — tiny).
    """

    def __init__(
        self,
        path: str,
        partition_by: list[str] | None = None,
        use_delta: bool = False,
        keep_versions: int = 0,
    ):
        self.path = path
        self.partition_by = partition_by or []
        if use_delta and not _HAS_DELTA:
            raise ImportError(
                "use_delta=True requires delta-spark (pip install delta-spark "
                "and configure spark.sql.extensions per docs.delta.io)"
            )
        self.use_delta = use_delta
        # Time travel (Delta `VERSION AS OF` parity for plain parquet):
        # with keep_versions > 0, every mutation first snapshots the
        # current table into {path}__hist/v{n} via HARD LINKS — parquet
        # files are immutable once written, so a snapshot costs directory
        # entries, not data bytes (same-filesystem only; falls back to
        # copy). Delta tables get real time travel from their log instead.
        self.keep_versions = int(keep_versions)

    # -- time travel ------------------------------------------------------

    @property
    def _hist_root(self) -> str:
        return f"{self.path}__hist"

    def versions(self) -> list[int]:
        """Archived snapshot versions, oldest first (v0 = first mutation's
        pre-image)."""
        if not os.path.isdir(self._hist_root):
            return []
        return sorted(
            int(d[1:])
            for d in os.listdir(self._hist_root)
            if d.startswith("v") and d[1:].isdigit()
        )

    def _archive(self) -> None:
        """Hard-link-snapshot the current table into the next history slot
        and prune to ``keep_versions`` newest."""
        if self.keep_versions <= 0 or not self.exists():
            return
        vs = self.versions()
        dst = os.path.join(self._hist_root, f"v{(vs[-1] + 1) if vs else 0}")
        for root, _dirs, files in os.walk(self.path):
            rel = os.path.relpath(root, self.path)
            out = os.path.join(dst, rel) if rel != "." else dst
            os.makedirs(out, exist_ok=True)
            for f in files:
                src = os.path.join(root, f)
                try:
                    os.link(src, os.path.join(out, f))
                except OSError:  # cross-device or FS without hard links
                    shutil.copy2(src, os.path.join(out, f))
        for stale in self.versions()[: -self.keep_versions]:
            shutil.rmtree(
                os.path.join(self._hist_root, f"v{stale}"), ignore_errors=True
            )

    def read_version(self, spark: SparkSession, version: int) -> DataFrame:
        """Read an archived snapshot (Delta ``VERSION AS OF`` parity)."""
        vdir = os.path.join(self._hist_root, f"v{int(version)}")
        if not os.path.isdir(vdir):
            raise ValueError(
                f"version {version} not archived (have {self.versions()})"
            )
        return spark.read.option("mergeSchema", "true").parquet(vdir)

    def restore(self, spark: SparkSession, version: int) -> None:
        """Delta ``RESTORE TABLE ... TO VERSION AS OF`` parity: archive the
        current state, then make ``version``'s snapshot current."""
        snap = self.read_version(spark, version).localCheckpoint(eager=True)
        self.overwrite(snap)

    def exists(self) -> bool:
        if self.use_delta:
            log = os.path.join(self.path, "_delta_log")
            return os.path.isdir(log) and any(
                f.endswith(".json") for f in os.listdir(log)
            )
        if not os.path.isdir(self.path):
            return False
        for root, _dirs, files in os.walk(self.path):
            if any(f.endswith(".parquet") for f in files):
                return True
        return False

    def read(self, spark: SparkSession) -> DataFrame:
        if self.use_delta:
            return spark.read.format("delta").load(self.path)
        # mergeSchema: after an evolving merge, untouched partitions keep
        # their pre-evolution files; the union schema (old files null-fill
        # the appended columns) is what Delta would serve from its log. The
        # footer-sampling cost is parallelized and paid at planning time.
        return spark.read.option("mergeSchema", "true").parquet(self.path)

    def repair_swap(self) -> dict:
        """Self-heal ``overwrite``'s swap crash window (the same
        non-transactional-commit class as the posting compactor's
        manifest/repair — operators/postings.py).

        The commit point of a plain-parquet ``overwrite`` is the rename of
        the staged ``__tmp_*`` dir onto ``self.path``. A crash BEFORE that
        — after the current table was renamed aside to ``__old_*`` —
        leaves the table path missing with the old dir holding the last
        committed state: roll back by renaming it into place (the staged
        tmp never committed, so rollback is the deterministic contract).
        Uncommitted ``__tmp_*`` stages and ``__old_*`` leftovers from a
        crash after the commit point are garbage — removed. Runs
        automatically at the start of every plain-parquet ``overwrite``;
        idempotent; single-writer assumption (readers racing a writer
        should not call this). Returns
        ``{restored, removed_old, removed_tmp}``."""
        parent = os.path.dirname(self.path) or "."
        base = os.path.basename(self.path)
        stats = {"restored": None, "removed_old": [], "removed_tmp": []}
        if self.use_delta or not os.path.isdir(parent):
            return stats
        olds = [
            d for d in os.listdir(parent) if d.startswith(f"{base}__old_")
        ]
        tmps = [
            d for d in os.listdir(parent) if d.startswith(f"{base}__tmp_")
        ]
        if olds and not os.path.exists(self.path):
            # Crash between the two renames: restore the most recent
            # pre-image (with repair-on-every-overwrite at most one old
            # can exist; mtime breaks the unreachable tie).
            newest = max(
                olds, key=lambda d: os.path.getmtime(os.path.join(parent, d))
            )
            os.rename(os.path.join(parent, newest), self.path)
            stats["restored"] = newest
            olds.remove(newest)
        for d in olds:
            shutil.rmtree(os.path.join(parent, d), ignore_errors=True)
            stats["removed_old"].append(d)
        for d in tmps:
            shutil.rmtree(os.path.join(parent, d), ignore_errors=True)
            stats["removed_tmp"].append(d)
        return stats

    def overwrite(self, df: DataFrame) -> None:
        """Bootstrap write (operator S8: mode=overwrite, overwriteSchema).

        Atomic: materialize to a sibling temp dir, then swap directories, so
        readers never observe a partial table. Delta tables get atomicity
        from the transaction log instead — a plain overwrite commit. A
        crash inside the swap self-heals on the next overwrite (or an
        explicit ``repair_swap()``) — see that method for the contract.
        """
        if self.use_delta:
            writer = (
                df.write.format("delta")
                .mode("overwrite")
                .option("overwriteSchema", "true")
            )
            if self.partition_by:
                writer = writer.partitionBy(*self.partition_by)
            writer.save(self.path)
            return
        self.repair_swap()
        self._archive()
        tmp = f"{self.path}__tmp_{uuid.uuid4().hex[:8]}"
        writer = df.write.mode("overwrite")
        if self.partition_by:
            writer = writer.partitionBy(*self.partition_by)
        writer.parquet(tmp)
        old = f"{self.path}__old_{uuid.uuid4().hex[:8]}"
        if os.path.exists(self.path):
            os.rename(self.path, old)
        os.rename(tmp, self.path)
        if os.path.exists(old):
            shutil.rmtree(old, ignore_errors=True)

    def merge(
        self,
        spark: SparkSession,
        updates: DataFrame,
        keys: list[str],
        capture_changes: bool = False,
        probe_insert_only: bool = True,
    ) -> DataFrame | None:
        """Upsert ``updates`` by ``keys`` (operators S6/S7/S9).

        Bootstrap if the table does not exist yet (the reference's
        first-run-overwrite path, silver_orders.py:81-85). Otherwise the
        update set is pinned once here (lazy localCheckpoint), so its
        lineage is evaluated once however many passes the merge makes;
        callers need not pin it.

        On a partitioned table one key probe — the target's (keys +
        partition columns) semi-joined against the update keys, unioned
        with the update set's own partitions, in one ``collect`` — decides
        everything: no hit means INSERT ALL (the batch is appended, no
        existing file is rewritten); otherwise the touched partitions are
        the updates' own plus every partition where an update key already
        lives (a redelivered event with a corrected event_date — its stale
        row must not survive and duplicate the key). Only those partitions
        are rewritten, staged in the block manager (see ``_rewrite``).

        An unpartitioned table probes for any matched key (a column-pruned
        semi-join with an early-out limit(1)) and appends when there is
        none; ``probe_insert_only=False`` skips that probe for callers
        whose update set overlaps the target BY CONSTRUCTION — an
        incremental gold merge always re-merges the max bucket, since its
        lookback starts 2h BEFORE it — and goes straight to the rewrite.

        With ``capture_changes`` (Delta Change Data Feed parity), returns
        the change set of this merge — the update rows tagged
        ``_change_type`` 'insert' (new key) or 'update_postimage'
        (existing key). Computed as one key-pruned semi/anti join pair and
        pinned with localCheckpoint BEFORE the table mutates, so the
        returned frame does not depend on the overwritten files.
        Downstream incrementals (a gold refresh, a replication sink)
        consume this instead of diffing snapshots.
        """
        if not self.exists():
            self.overwrite(updates)
            if capture_changes:
                return updates.withColumn(
                    "_change_type", F.lit("insert")
                ).localCheckpoint(eager=True)
            return None
        target: DataFrame | None = None
        if not self.use_delta:
            target = self.read(spark)
            if set(updates.columns) != set(target.columns):
                # Schema drift: apply sync_all_columns before merging. A
                # partition column may never be dropped by an update set —
                # its null-fill would silently re-route rows to the null
                # partition.
                missing_parts = [
                    c for c in self.partition_by if c not in updates.columns
                ]
                if missing_parts:
                    raise ValueError(
                        f"updates are missing partition column(s) {missing_parts}; "
                        "schema evolution cannot null-fill a partition key"
                    )
                target, updates = sync_all_columns(target, updates)
        updates = updates.localCheckpoint(eager=False)
        changes: DataFrame | None = None
        if capture_changes:
            if target is None:
                target = self.read(spark)
            tgt_keys = target.select(*keys).distinct()
            changes = (
                updates.join(tgt_keys, keys, "left_semi")
                .withColumn("_change_type", F.lit("update_postimage"))
                .unionByName(
                    updates.join(tgt_keys, keys, "left_anti").withColumn(
                        "_change_type", F.lit("insert")
                    )
                )
                .localCheckpoint(eager=True)
            )
        if self.use_delta:
            # Real MERGE with file-level rewrite + transaction log
            # (reference behavior: silver_orders.py:72-79). Delta prunes
            # touched files itself; the parquet partition machinery below
            # is the no-delta substitute for exactly this.
            cond = " AND ".join(f"t.{k} <=> u.{k}" for k in keys)
            (
                DeltaTable.forPath(spark, self.path)
                .alias("t")
                .merge(updates.alias("u"), cond)
                .whenMatchedUpdateAll()
                .whenNotMatchedInsertAll()
                .execute()
            )
            return changes
        touched: set[tuple] | None = None
        if self.partition_by:
            parts = self.partition_by
            found = (
                target.select(*keys, *parts)
                .join(updates.select(*keys).distinct(), keys, "left_semi")
                .select(*parts, F.lit(True).alias("__hit"))
                .unionByName(updates.select(*parts, F.lit(False).alias("__hit")))
                .distinct()
                .collect()
            )
            insert_only = not any(r["__hit"] for r in found)
            touched = {tuple(r)[:-1] for r in found}
        elif not probe_insert_only:
            insert_only = False
        elif changes is not None:
            # A key exists in the target iff the pinned change set tagged
            # it 'update_postimage' — no second target-key semi-join.
            insert_only = (
                changes.filter(F.col("_change_type") == "update_postimage")
                .limit(1)
                .count()
                == 0
            )
        else:
            insert_only = (
                updates.select(*keys)
                .join(target.select(*keys), keys, "left_semi")
                .limit(1)
                .count()
                == 0
            )
        if insert_only:
            # MERGE degenerates to INSERT ALL: append files instead of
            # rewriting — the hot case for append-mostly streams (every
            # Kafka (topic,partition,offset) key is new) and the difference
            # between O(batch) and O(table) I/O per trigger at scale.
            self._archive()
            writer = updates.write.mode("append")
            if self.partition_by:
                writer = writer.partitionBy(*self.partition_by)
            writer.parquet(self.path)
        else:
            self._rewrite(
                target, touched, lambda rows: merge_upsert(rows, updates, keys)
            )
        return changes

    def _partition_predicate(self, touched: set[tuple]):
        """Pruning filter selecting exactly the ``touched`` partitions, or
        None (with a warning) past the composite-partition cap.

        A single partition column gets one flat IN-list, which reaches the
        scan as a partition-pruning predicate; an OR-of-AND chain over
        hundreds of partitions would overflow the Catalyst visitor stack,
        so composite keys keep that shape only while it is small."""
        cols = self.partition_by
        if len(cols) == 1:
            c = cols[0]
            vals = [t[0] for t in touched if t[0] is not None]
            pred = F.col(c).isin(vals) if vals else F.lit(False)
            if any(t[0] is None for t in touched):
                pred = pred | F.col(c).isNull()
            return pred
        if len(touched) > _MAX_COMPOSITE_PARTITIONS:
            warnings.warn(
                f"{self.path}: {len(touched)} composite partitions touched, "
                f"over the pruning cap of {_MAX_COMPOSITE_PARTITIONS}; "
                "rewriting the whole table",
                stacklevel=4,
            )
            return None
        pred = F.lit(False)
        for values in touched:
            clause = F.lit(True)
            for c, v in zip(cols, values):
                clause = clause & (
                    F.col(c).isNull() if v is None else (F.col(c) == F.lit(v))
                )
            pred = pred | clause
        return pred

    def _rewrite(self, target: DataFrame, touched: set[tuple] | None, rewrite) -> None:
        """Replace the ``touched`` partitions of ``target`` with
        ``rewrite`` applied to their rows; ``touched=None`` (unpartitioned)
        rewrites the whole table.

        The rewritten rows are rebalanced by the partition columns (AQE
        sizes the output files: one per small partition, split past the
        advisory size) and pinned in the block manager (eager
        localCheckpoint) before the table mutates, so the write reads no
        file it replaces, then written once by dynamic partition
        overwrite. A touched partition the rewrite leaves empty (all its
        rows were relocated or deleted keys) is not written, so dynamic
        overwrite keeps its old directory: its file listing is unchanged
        after the write, and it is dropped. Unpartitioned tables, and
        composite touch sets past the pruning cap, take the atomic
        full-table ``overwrite``."""
        pred = None if touched is None else self._partition_predicate(touched)
        if pred is None:
            self.overwrite(rewrite(target))
            return
        rows = (
            rewrite(target.filter(pred))
            .hint("rebalance", *self.partition_by)
            .localCheckpoint(eager=True)
        )

        def listing(d: str) -> set[str]:
            return set(os.listdir(d)) if os.path.isdir(d) else set()

        dirs = [
            os.path.join(
                self.path,
                *[
                    f"{c}={_hive_partition_value(v)}"
                    for c, v in zip(self.partition_by, values)
                ],
            )
            for values in touched
        ]
        before = {d: listing(d) for d in dirs}
        self._archive()
        (
            rows.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*self.partition_by)
            .parquet(self.path)
        )
        for d, files in before.items():
            if files and listing(d) == files:  # not rewritten: left empty
                shutil.rmtree(d, ignore_errors=True)

    def delete_keys(
        self,
        spark: SparkSession,
        doomed: DataFrame,
        keys: list[str],
        capture_changes: bool = False,
    ) -> int | tuple[int, DataFrame]:
        """DELETE by key set (Delta ``DELETE WHERE key IN (...)`` parity —
        the GDPR / right-to-be-forgotten path). Returns rows removed; with
        ``capture_changes`` returns ``(removed, change_set)`` where the
        change set is the removed rows' pre-images tagged ``_change_type``
        'delete' (Delta CDF parity) — pinned with localCheckpoint before
        the table mutates so CDF consumers (e.g. a gold refresh that must
        RETRACT buckets) can read it afterwards.

        Partitioned tables rewrite ONLY the partitions that contain a
        doomed key, through the same ``_rewrite`` as ``merge`` (so a
        partition left empty has its directory dropped, and past the
        composite-partition cap the whole table is rewritten, with a
        warning). Unpartitioned tables anti-join and rewrite atomically.

        The removed-row count is computed from the pre-mutation semi-join
        (never by re-reading the table afterwards): a delete that empties
        the table entirely leaves no parquet files behind, and the table
        then reads as non-existent — the next ``merge`` bootstraps it.
        """
        empty_changes = None
        if capture_changes:
            empty_changes = (
                doomed.select(*keys)
                .limit(0)
                .withColumn("_change_type", F.lit("delete"))
            )
        if not self.exists():
            return (0, empty_changes) if capture_changes else 0
        target = self.read(spark)
        doomed_keys = doomed.select(*keys).distinct()
        # Pre-images of every row about to be removed, pinned BEFORE any
        # mutation. Doubles as the removed-row count (one scan, no
        # before/after full-table counts).
        removed_rows = target.join(doomed_keys, keys, "left_semi").localCheckpoint(
            eager=True
        )
        removed = removed_rows.count()
        changes = (
            removed_rows.withColumn("_change_type", F.lit("delete"))
            if capture_changes
            else None
        )
        if removed == 0:
            return (0, changes) if capture_changes else 0
        if self.use_delta:
            # DELETE WHERE key IN (...) via MERGE whenMatchedDelete — the
            # log-tracked file rewrite (Delta DELETE parity).
            cond = " AND ".join(f"t.{k} <=> d.{k}" for k in keys)
            (
                DeltaTable.forPath(spark, self.path)
                .alias("t")
                .merge(doomed_keys.alias("d"), cond)
                .whenMatchedDelete()
                .execute()
            )
            return (removed, changes) if capture_changes else removed
        hit = None
        if self.partition_by:
            hit = {
                tuple(r)
                for r in removed_rows.select(*self.partition_by).distinct().collect()
            }
        self._rewrite(
            target, hit, lambda rows: rows.join(doomed_keys, keys, "left_anti")
        )
        return (removed, changes) if capture_changes else removed

    def vacuum(self, retain_versions: int = 0) -> int:
        """Delta ``VACUUM`` parity: drop archived snapshots beyond
        ``retain_versions`` newest plus any leftover tmp/old dirs from
        interrupted writes. Returns the number of dirs removed.
        Hard-linked files release disk only once the last snapshot
        referencing them is removed — exactly Delta's data/log retention
        split."""
        removed = 0
        vs = self.versions()
        for stale in vs[: max(0, len(vs) - retain_versions)]:
            shutil.rmtree(
                os.path.join(self._hist_root, f"v{stale}"), ignore_errors=True
            )
            removed += 1
        if retain_versions == 0 and os.path.isdir(self._hist_root):
            shutil.rmtree(self._hist_root, ignore_errors=True)
        parent, base = os.path.split(self.path.rstrip("/"))
        for d in os.listdir(parent or "."):
            full = os.path.join(parent, d)
            if (
                d.startswith(f"{base}__")
                and not d.startswith(f"{base}__hist")
                and os.path.isdir(full)
            ):
                shutil.rmtree(full, ignore_errors=True)
                removed += 1
        return removed

    def compact(self, spark: SparkSession, target_file_bytes: int = 128 * 1024 * 1024) -> int:
        """OPTIMIZE-equivalent: rewrite the table into ~target-sized files.

        Repeated MERGEs leave many small files (every micro-batch writes a
        few); small files are the classic lakehouse scan-throughput killer
        at 100 TB (per-file open cost + tiny rowgroups defeat the
        vectorized reader). Mirrors the reference's recommended
        ``OPTIMIZE`` (README.md:295). Returns the file count after
        compaction. Partitioned tables keep their partitioning.
        """
        if not self.exists():
            return 0
        total_bytes = 0
        for root, _dirs, files in os.walk(self.path):
            for f in files:
                if f.endswith(".parquet"):
                    total_bytes += os.path.getsize(os.path.join(root, f))
        n_files = max(1, -(-total_bytes // target_file_bytes))  # ceil
        df = self.read(spark)
        if self.partition_by:
            # coalesce within partitions via one shuffle on the partition key
            compacted = df.repartition(n_files, *[F.col(c) for c in self.partition_by])
        else:
            compacted = df.repartition(n_files)
        self.overwrite(compacted)
        count = 0
        for root, _dirs, files in os.walk(self.path):
            count += sum(1 for f in files if f.endswith(".parquet"))
        return count
