"""Incremental-load sinks: watermark + delete-overlap + append
(S8-S11 in SURVEY.md §2.1).

The reference re-extracts a lookback window each run, DELETEs the
overlap region from SQL Server (per line/server, with a -10 s
clock-skew pad) and appends the fresh rows
(ref/RCO_Overall_orchestrator.R:304-394,483-494); BRANDCODE master is
a read-anti-join-rewrite (:556-585) and Script_Data an
insert-or-update (:236-282,502-546).

Spark-first: on Delta/Iceberg these are MERGE INTO / replaceWhere —
one atomic commit, no read-modify-write. Those jars aren't in this
environment, so the sink implements the same semantics over plain
parquet with a **version-pointer table layout** (the same idea Delta's
transaction log and Iceberg's metadata pointer implement):

    <root>/<table>/
        _schema.json      # table schema, stored by every write
        _version.json     # {"version": N} — the ONLY mutable file
        v000001/ ...      # immutable data snapshots (flat or hive)

One private writer, :meth:`ParquetIncrementalSink._write_snapshot`,
makes every snapshot. It writes the new frame into a private
``.stage-*`` dir and hard-links files of the current snapshot forward
(none, all, or every partition the new write did not produce — same
inodes, no data copy). Then it stores the schema, claims ``v{N+1}``
with one atomic rename and commits by atomically replacing
``_version.json``. Each public write method builds its frame and
calls that writer once.

Readers resolve the pointer and scan one immutable snapshot with the
stored schema, so nothing is inferred: hive partition values come back
typed as stored (a ``"01"`` key stays ``"01"``). A reader concurrent
with a load sees either the old table or the new table, never a mix
(snapshot isolation; property-tested by
tests/test_incremental.py::test_concurrent_reader_sees_single_version).
A crash before the pointer flip leaves an orphan ``v{M}`` (M >
pointer) or ``.stage-*`` dir that no reader sees and a later commit
garbage-collects once it is stale; a crash after the flip is already
committed.

``delete_overlap_append`` tables are hive-partitioned by the
delete-scope key (default ``LINE``/``Server``) and a load rewrites
ONLY the partitions whose keys appear in the batch (the
``replaceWhere`` pattern): survivors for those keys come from a
partition-pruned scan, union the batch, and land in the new snapshot
next to hard-links of every untouched partition. Write amplification
is O(batch partitions), not O(table). Small state tables (brandcode
master, Script_Data) snapshot whole — they are tiny by construction.

Idempotence invariant (property-tested): loading the same window twice
yields the same table.
"""

from __future__ import annotations

import json
import operator
import os
import shutil
import time
import uuid
from collections.abc import Sequence
from datetime import datetime, timedelta
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import align_to_schema

#: How many superseded snapshots to keep after a commit. Readers
#: resolve the pointer per read and scan immediately, so one previous
#: version is enough to cover a reader that resolved just before a
#: flip; two adds slack for slow readers. Hard links make the cost of
#: a retained version O(touched partitions), not O(table).
_KEEP_PREVIOUS_VERSIONS = 2

#: A staged (".stage-*") or claimed-but-never-committed ("v{n}" above the
#: pointer) directory younger than this is treated as a LIVE writer and
#: left alone; older ones are crashed-writer leftovers and get GC'd.
#: Generous on purpose: deleting an in-flight write to save a dot-dir a
#: reader can't even see is a terrible trade.
_STALE_GRACE_SECONDS = 24 * 3600.0


def lookback_start(now: datetime, watermark: datetime | None) -> datetime:
    """Reference lookback policy (App/utils/time_utils.py:25-51): the
    re-extraction window depends on the run hour — hour 3 → 7 d,
    20 → 2 d, 21 → 14 d, 22 → 7 d, else 3 d — and is always anchored
    at ``watermark - days`` (never wall-clock), so late modifications
    just before a stale watermark are still re-extracted.  With no
    watermark the reference falls back to ``now`` as the anchor."""
    hour = now.hour
    if hour == 3:
        days = 7
    elif hour == 20:
        days = 2
    elif hour == 21:
        days = 14
    elif hour == 22:
        days = 7
    else:
        days = 3
    anchor = watermark if watermark is not None else now
    return anchor - timedelta(days=days)


def _link_tree(src: str, dst: str, skip_written: bool = False) -> None:
    """Hard-link every file under ``src`` into ``dst`` (same inodes, no
    data copy), leaving files ``dst`` already has (the new write's
    ``_SUCCESS`` marker) alone. With ``skip_written``, a leaf dir that
    ``dst`` already has is skipped whole: the new write replaced that
    partition (for a flat table the leaf is the root)."""
    for d, subdirs, files in os.walk(src):
        out = os.path.join(dst, os.path.relpath(d, src))
        if skip_written and not subdirs and os.path.isdir(out):
            continue
        os.makedirs(out, exist_ok=True)
        for name in files:
            if not os.path.exists(os.path.join(out, name)):
                os.link(os.path.join(d, name), os.path.join(out, name))


class ParquetIncrementalSink:
    """Directory-per-table parquet sink with the reference's
    incremental semantics and snapshot-isolated reads."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _path(self, table: str) -> str:
        return os.path.join(self.root, table)

    # --- version pointer --------------------------------------------------

    def _pointer_path(self, table: str) -> str:
        return os.path.join(self._path(table), "_version.json")

    def _version_dir(self, table: str, n: int) -> str:
        return os.path.join(self._path(table), f"v{n:06d}")

    def _pointer_meta(self, table: str) -> dict:
        pp = self._pointer_path(table)
        if not os.path.exists(pp):
            return {}
        with open(pp) as f:
            return json.load(f)

    def _current_version(self, table: str) -> int | None:
        n = self._pointer_meta(table).get("version")
        return None if n is None else int(n)

    def _data_path(self, table: str) -> str | None:
        """Path of the current immutable snapshot (resolving the
        pointer), or None if the table doesn't exist."""
        n = self._current_version(table)
        return None if n is None else self._version_dir(table, n)

    def _commit_version(self, table: str, n: int, meta: dict | None = None) -> None:
        """Atomically flip the pointer to snapshot ``n`` (optionally
        carrying extra commit metadata, e.g. the streaming batch id —
        written in the SAME atomic rename as the version flip), then GC
        snapshots older than ``n - _KEEP_PREVIOUS_VERSIONS`` and any
        orphan staged snapshot above ``n`` (a crashed writer's
        leftovers — its pointer flip never happened, so it was never
        visible).

        Optimistic concurrency, second line of defense: the commit
        asserts the pointer still reads ``n - 1``.  The FIRST line is
        :meth:`_publish`'s atomic rename-claim of ``v{n}`` — two racing
        writers stage in private ``.stage-*`` dirs and only one rename
        to ``v{n}`` can succeed, so neither can clobber the other's
        staged files (the pre-round-6 design had both writing the same
        ``v{n}`` directory, which let a loser delete the winner's
        staged data before either pointer flip).  Either failure mode
        surfaces as a visible conflict the caller retries — the
        single-writer-per-table contract."""
        cur = self._current_version(table)
        if cur is not None and cur != n - 1:
            raise RuntimeError(
                f"{table}: concurrent commit detected (expected current "
                f"v{n - 1}, found v{cur}) — retry the load"
            )
        p = self._path(table)
        os.makedirs(p, exist_ok=True)
        tmp = self._pointer_path(table) + ".tmp-" + uuid.uuid4().hex[:8]
        with open(tmp, "w") as f:
            json.dump({**(meta or {}), "version": n}, f)
        os.replace(tmp, self._pointer_path(table))
        for e in os.listdir(p):
            full = os.path.join(p, e)
            if e.startswith("v") and e[1:].isdigit():
                m = int(e[1:])
                if m < n - _KEEP_PREVIOUS_VERSIONS:
                    shutil.rmtree(full, ignore_errors=True)
                elif m > n and self._is_stale(full):
                    # claimed but never committed, and old enough that
                    # no live writer can still own it — evict via the
                    # same atomic rename discipline as _publish (a
                    # direct rmtree could race a writer that just
                    # evicted this orphan and claimed the path anew)
                    self._evict_orphan(table, full)
            elif e.startswith(".stage-") and self._is_stale(full):
                # a YOUNG .stage-* may be another writer mid-flight —
                # deleting it here would be the lost-update bug again,
                # one directory earlier
                shutil.rmtree(full, ignore_errors=True)
            elif e.startswith(".trash-") and self._is_stale(full):
                # a crash between _evict_orphan's rename and its rmtree
                # leaves the claimed dir parked under .trash-<uuid>;
                # no path re-creates it, so without this sweep orphaned
                # trash accumulates unboundedly. Stale-only: a YOUNG
                # .trash- belongs to an evictor mid-flight (it may still
                # restore the dir on its freshness re-check).
                shutil.rmtree(full, ignore_errors=True)

    def _evict_orphan(
        self, table: str, path: str, min_age_seconds: float | None = None
    ) -> bool:
        """Atomically move an orphaned dir out of the way and delete
        it. The rename is the claim: concurrent evictors/claimants of
        the same path cannot interleave into deleting each other's
        fresh snapshot. After winning the rename, staleness is
        re-checked on the captured dir — if a live writer's brand-new
        claim slipped in between our check and our rename, it is
        restored instead of destroyed."""
        age_limit = (
            _STALE_GRACE_SECONDS if min_age_seconds is None else min_age_seconds
        )
        if min_age_seconds is None and not self._is_stale(path):
            # Default grace path: a FRESH dir is (or may be) a live
            # writer's claim — renaming it away even briefly opens a
            # window where a concurrent pointer flip targets a missing
            # dir. Decline without touching it; the post-rename
            # re-check below remains as the second line for the race
            # where the dir turns fresh between this check and the
            # rename.
            return False
        trash = os.path.join(self._path(table), f".trash-{uuid.uuid4().hex}")
        try:
            os.rename(path, trash)
        except OSError:
            return False  # someone else evicted or committed first
        try:
            age = time.time() - os.path.getmtime(trash)
        except OSError:
            age = float("inf")
        if age <= age_limit and min_age_seconds is None:
            # fresher than the grace window: not the orphan we checked —
            # put it back (best-effort; if the path was re-claimed in
            # the meantime the rename fails and the claimant wins)
            try:
                os.rename(trash, path)
            except OSError:
                shutil.rmtree(trash, ignore_errors=True)
            return False
        shutil.rmtree(trash, ignore_errors=True)
        return True

    def reclaim_orphans(self, table: str, min_age_seconds: float | None = None) -> int:
        """Operator-driven recovery: evict claimed-but-uncommitted
        ``v{n}`` orphans (a writer that crashed between its claim and
        its pointer flip). By default only orphans older than the
        stale-grace window go; pass ``min_age_seconds=0`` when the
        claimant is KNOWN dead to unwedge the table immediately —
        without this, writes raise 'concurrent writer detected' until
        the grace window elapses. Returns the number evicted."""
        p = self._path(table)
        cur = self._current_version(table)
        if cur is None or not os.path.isdir(p):
            return 0
        evicted = 0
        for e in os.listdir(p):
            if e.startswith("v") and e[1:].isdigit() and int(e[1:]) > cur:
                if self._evict_orphan(
                    table, os.path.join(p, e), min_age_seconds
                ):
                    evicted += 1
        return evicted

    @staticmethod
    def _is_stale(path: str) -> bool:
        try:
            return (time.time() - os.path.getmtime(path)) > _STALE_GRACE_SECONDS
        except OSError:
            return False

    def _begin_write(self, table: str) -> tuple[str, int]:
        """Start a snapshot write: a PRIVATE staging dir plus the target
        version number (current + 1, fixed now so a racer committing in
        between is detected at publish/commit instead of silently
        rebased).  Writers produce the full snapshot in the stage dir,
        then :meth:`_publish` claims ``v{n}`` atomically."""
        cur = self._current_version(table) or 0
        stage = os.path.join(self._path(table), ".stage-" + uuid.uuid4().hex[:8])
        os.makedirs(stage, exist_ok=True)
        return stage, cur + 1

    def _publish(self, table: str, stage: str, n: int) -> None:
        """Atomically claim ``v{n}`` by renaming the staged snapshot
        onto it.  rename(2) fails if ``v{n}`` already exists non-empty,
        so a racing writer's claimed-or-committed snapshot can never be
        clobbered; only a STALE orphan (crashed writer: claimed v{n},
        died before its pointer flip, so it was never visible) is
        evicted and the claim retried once.

        The eviction itself is ALSO an atomic rename (orphan ->
        private ``.trash-`` dir), never an in-place rmtree: two writers
        racing over the same stale orphan would otherwise interleave
        rmtree/rename so that one deletes the other's freshly claimed
        snapshot — exactly one eviction rename can succeed, and after
        it exactly one stage->v{n} rename can succeed.
        """
        vd = self._version_dir(table, n)
        try:
            os.rename(stage, vd)
            return
        except OSError:
            pass
        if os.path.exists(vd) and self._is_stale(vd):
            self._evict_orphan(table, vd)  # atomic rename-claim: one winner
            try:
                os.rename(stage, vd)
                return
            except OSError:
                pass
        shutil.rmtree(stage, ignore_errors=True)
        raise RuntimeError(
            f"{table}: concurrent writer detected (v{n} already claimed) "
            f"— retry the load once the other writer commits; if it is "
            f"known dead, reclaim_orphans({table!r}, min_age_seconds=0) "
            f"clears its claim immediately instead of after the "
            f"{int(_STALE_GRACE_SECONDS)}s grace window"
        )

    # --- schema sidecar (hidden from parquet readers: leading "_") ----

    def _store_schema(self, table: str, schema: T.StructType) -> None:
        # tmp + rename: a concurrent reader never sees a half-written file
        tmp = os.path.join(self._path(table), "_schema.json.tmp-" + uuid.uuid4().hex[:8])
        with open(tmp, "w") as f:
            f.write(schema.json())
        os.replace(tmp, os.path.join(self._path(table), "_schema.json"))

    def _stored_schema(self, table: str) -> T.StructType | None:
        sp = os.path.join(self._path(table), "_schema.json")
        if not os.path.exists(sp):
            return None
        with open(sp) as f:
            return T.StructType.fromJson(json.load(f))

    def read(
        self,
        table: str,
        schema: T.StructType | None = None,
        version: int | None = None,
    ) -> DataFrame | None:
        """Snapshot-isolated read: resolve the version pointer once and
        scan that immutable snapshot with the stored schema (no
        inference job; hive partition values are typed as stored, so a
        string key "01" never becomes 1), aligned to ``schema`` when
        given. Never mutates the table (safe for concurrent read-only
        consumers).

        ``version`` time-travels to a specific retained snapshot
        (the pointer keeps the last ``_KEEP_PREVIOUS_VERSIONS`` behind
        the current one alive). Raises ValueError for a version that
        was never committed or has been GC'd — silently reading the
        wrong snapshot is worse than failing."""
        cur = self._current_version(table)
        if cur is None:
            return None
        dp = self._version_dir(table, cur if version is None else version)
        if version is not None and (version > cur or not os.path.isdir(dp)):
            raise ValueError(
                f"{table}: snapshot v{version} not available "
                f"(current={cur}, retention={_KEEP_PREVIOUS_VERSIONS} back)"
            )
        stored = self._stored_schema(table)
        reader = self.spark.read if stored is None else self.spark.read.schema(stored)
        df = reader.option("basePath", dp).parquet(dp)
        schema = schema if schema is not None else stored
        return align_to_schema(df, schema) if schema is not None else df

    # --- the snapshot writer ----------------------------------------------

    def _write_snapshot(
        self,
        df: DataFrame,
        table: str,
        schema: T.StructType | None = None,
        partition_cols: Sequence[str] = (),
        link: str | None = None,
        meta: dict | None = None,
    ) -> int:
        """Make ``df`` the next snapshot of ``table``; return its version.

        ``link`` says which files of the current snapshot carry forward
        as hard links: None (``df`` is the whole table), ``"all"``
        (``df`` is appended) or ``"untouched"`` (every partition ``df``
        did not produce; ``df`` replaces the ones it writes). The
        table's schema (``schema``, else ``df.schema``) is stored for
        :meth:`read`; ``meta`` adds commit metadata to what the pointer
        already carries."""
        stage, n = self._begin_write(table)
        writer = df.write.mode("append")
        if partition_cols:
            writer = writer.partitionBy(*partition_cols)
        writer.parquet(stage)
        if link is not None and n > 1:
            _link_tree(
                self._version_dir(table, n - 1), stage, skip_written=link == "untouched"
            )
        self._store_schema(table, schema if schema is not None else df.schema)
        self._publish(table, stage, n)
        self._commit_version(table, n, meta={**self._carry_meta(table), **(meta or {})})
        return n

    def _layout_partition_cols(self, table: str) -> list[str]:
        """Partition columns of the current snapshot's hive layout, read
        from the first leaf dir's ``k=v`` path components ([] for a flat
        or missing table)."""
        cols: list[str] = []
        d = self._data_path(table)
        while d is not None:
            subs = [
                n for n in os.listdir(d)
                if "=" in n and os.path.isdir(os.path.join(d, n))
            ]
            if not subs:
                break
            cols.append(subs[0].split("=", 1)[0])
            d = os.path.join(d, subs[0])
        return cols

    def append_aligned(self, new_rows: DataFrame, table: str, schema: T.StructType) -> None:
        """S8: append with target-schema alignment (reorder, pad
        missing with NULL, cast) — reference
        App/etl/overall_etl.py:12-43.

        The append lands in a NEW snapshot (existing files hard-linked,
        new files written beside them, pointer flipped once) so
        concurrent readers never see a half-appended table.

        Appending into a partition-scoped table (see
        :meth:`delete_overlap_append`) follows the existing hive
        layout — a flat append there would mix layouts and break
        reads."""
        self._write_snapshot(
            align_to_schema(new_rows, schema), table, schema,
            self._layout_partition_cols(table), link="all",
        )

    def delete_overlap_append(
        self,
        new_rows: DataFrame,
        table: str,
        schema: T.StructType,
        ts_col: str,
        watermark: datetime,
        partition_cols: tuple[str, ...] = ("LINE", "Server"),
        pad_seconds: float = 10.0,
    ) -> None:
        """S9: for every partition key present in the new batch, drop
        existing rows with ``ts >= watermark - pad`` then append the
        batch (reference R:304-317; -10 s pad :308, Gantt uses a
        (15+5) min pad :362).

        Delta equivalent: ``MERGE``/``replaceWhere``. Here the table is
        hive-partitioned by ``partition_cols`` and only the partition
        directories whose keys appear in the batch are rewritten:
        survivors for those keys come from a partition-pruned scan,
        union the batch, land in a new snapshot whose untouched
        partitions are hard-links of the previous snapshot's files. At
        100 TB this bounds each load's write amplification to the
        touched (LINE, Server) partitions instead of the whole table.
        A flat table (first written by :meth:`append_aligned`) is
        rewritten whole into the partitioned layout once.

        Hive layout folds NULL and empty-string key values into the
        same ``__HIVE_DEFAULT_PARTITION__`` directory, which would
        corrupt the key on read-back — such batches are rejected up
        front (the reference keys LINE/Server are non-empty by
        construction, but the API is generic).
        """
        new_aligned = align_to_schema(new_rows, schema)
        # Batch partition keys: driver-side, bounded by the number of
        # (LINE, Server) combinations in one load — tiny by design.
        keys = new_aligned.select(*partition_cols).distinct().collect()
        if not keys:
            # Empty batch: the DELETE scope is the batch's keys — no
            # keys, nothing to delete or append. (Also keeps an empty
            # FIRST load from creating a rowless table.)
            return
        for row in keys:
            for k in partition_cols:
                if row[k] is None or row[k] == "":
                    raise ValueError(
                        f"delete_overlap_append: partition column {k!r} has a "
                        f"NULL/empty value in the batch — hive layout cannot "
                        f"round-trip it (folds into __HIVE_DEFAULT_PARTITION__)"
                    )
        existing = self.read(table, schema)
        link = None
        if existing is not None:
            # Cast each key literal to the column's schema type: a Python
            # float is a double literal, and comparing it with a float
            # column widens the column instead of matching the value.
            types = {f.name: f.dataType for f in schema.fields}
            in_batch = reduce(operator.or_, [
                reduce(operator.and_, [
                    F.col(k).eqNullSafe(F.lit(row[k]).cast(types[k]))
                    for k in partition_cols
                ])
                for row in keys
            ])
            cutoff = watermark - timedelta(seconds=pad_seconds)
            # coalesce: `ts >= cutoff` is NULL for NULL-ts rows and a bare
            # `~overlap` filter would silently drop them every load; the
            # reference DELETE (`ts >= cutoff`) keeps NULL-ts rows, so must we.
            overlap = F.coalesce(F.col(ts_col) >= F.lit(cutoff), F.lit(False))
            if self._layout_partition_cols(table):
                existing = existing.filter(in_batch)  # partition-pruned scan
                link = "untouched"
            new_aligned = existing.filter(~(in_batch & overlap)).unionByName(new_aligned)
        self._write_snapshot(new_aligned, table, schema, partition_cols, link=link)

    def _replace_keys(
        self, new_rows: DataFrame, table: str, schema: T.StructType, keys: list[str]
    ) -> None:
        """Anti-join rewrite shared by the two key merges: stored rows
        whose key is absent from the batch are kept, everything else
        comes from the batch (deduplicated on the key)."""
        new_aligned = align_to_schema(new_rows, schema).dropDuplicates(keys)
        existing = self.read(table, schema)
        if existing is not None:
            keep = existing.join(new_aligned.select(*keys), keys, "left_anti")
            new_aligned = keep.unionByName(new_aligned)
        self._write_snapshot(new_aligned, table, schema)

    def merge_dedup_overwrite(
        self,
        new_rows: DataFrame,
        table: str,
        schema: T.StructType,
        key: str | tuple[str, ...] = "BRANDCODE",
    ) -> None:
        """S10: historical rows whose key is absent from the new batch
        are kept; everything else comes from the batch (reference
        R:556-585 anti-join + rewrite). ``key`` may be composite —
        (BRANDCODE, Server) when several sites share the master table."""
        self._replace_keys(
            new_rows, table, schema, [key] if isinstance(key, str) else list(key)
        )

    def upsert_script_data(
        self,
        new_rows: DataFrame,
        table: str,
        schema: T.StructType,
        keys: tuple[str, ...] = ("System", "Server"),
    ) -> None:
        """S11: insert-or-replace state rows per (System, Server)
        (reference R:236-282 insert, :502-546 update). Delta
        equivalent: MERGE on the key."""
        self._replace_keys(new_rows, table, schema, list(keys))

    def maintain_rollup(
        self,
        source_table: str,
        rollup_table: str,
        batch_keys: DataFrame,
        rollup_fn,
        group_cols: tuple[str, ...],
        rollup_schema: T.StructType | None = None,
        deleted_group_keys: DataFrame | None = None,
        source_keys_fn=None,
    ) -> None:
        """Continuous-aggregate maintenance (the TimescaleDB/Materialize
        idea expressed with snapshots): keep ``rollup_table`` equal to
        ``rollup_fn(source)`` while recomputing ONLY the groups a new
        batch touched.

        Call AFTER loading the batch into ``source_table`` (via
        ``delete_overlap_append``/``append_aligned``), passing the
        batch itself as ``batch_keys``. The affected group set is
        ``batch_keys`` projected to ``group_cols`` (distinct, tiny);
        the source is re-scanned ONLY for those groups (broadcast
        semi-join — partition-pruned when ``group_cols`` lead the
        source's hive layout) and the recomputed groups replace their
        predecessors in a new rollup snapshot.

        Recompute-from-truth, not partial-merge, on purpose: merging
        mergeable partials into the stored rollup double-counts on
        replay, while recompute is idempotent under at-least-once batch
        delivery and under delete-overlap re-extraction — the same
        replay model as the rest of this sink. Write amplification is
        O(affected groups); the untouched rollup rows carry over via
        anti-join (a rollup is orders of magnitude smaller than its
        source, so the snapshot rewrite is cheap next to one source
        scan).

        ``rollup_fn(source_rows) -> DataFrame`` must emit one row per
        group including ``group_cols``.

        **Deletion caveat**: the batch only names the groups it TOUCHES.
        A ``delete_overlap_append`` whose overlap window dropped source
        rows of groups the batch no longer contains leaves those groups'
        rollup rows stale (they carry over via the anti-join). Pass
        ``deleted_group_keys`` for such loads — the previous snapshot is
        still readable (``read(table, version=cur-1)``), so the deleted
        scope is one partition-pruned scan of the old version filtered
        to the overlap window, projected to ``group_cols``. Recomputing
        a group with zero surviving source rows correctly REMOVES its
        rollup row (rollup_fn emits nothing for it). (Group sets no
        finer than the sink's partition columns never need this:
        delete_overlap_append only deletes inside partitions the batch
        itself names, so every deletable group is already affected.)

        ``source_keys_fn`` materializes DERIVED group columns on the
        source before the scoping semi-join (e.g. ``Day`` from a
        timestamp) — required when ``group_cols`` aren't physical
        source columns; the scoped frame it returns is what
        ``rollup_fn`` receives.
        """
        source = self.read(source_table)
        if source is None:
            raise ValueError(f"{source_table}: no source to roll up")
        if source_keys_fn is not None:
            source = source_keys_fn(source)
        cols = list(group_cols)
        affected = batch_keys.select(*cols).distinct()
        if deleted_group_keys is not None:
            affected = affected.unionByName(
                deleted_group_keys.select(*cols)
            ).distinct()
        scoped = source.join(F.broadcast(affected), cols, "left_semi")
        recomputed = rollup_fn(scoped)
        existing = self.read(rollup_table, rollup_schema)
        if existing is None:
            merged = recomputed
        else:
            keep = existing.join(F.broadcast(affected), cols, "left_anti")
            merged = keep.unionByName(recomputed)
        if rollup_schema is not None:
            merged = align_to_schema(merged, rollup_schema)
        self._write_snapshot(merged, rollup_table, rollup_schema)

    def read_dim_as_of(self, table: str, ts: datetime) -> DataFrame | None:
        """Point-in-time read over an SCD2 dimension (``FOR SYSTEM_TIME
        AS OF`` semantics on the VALIDITY axis, complementing
        ``read(version=)`` on the snapshot axis): the version of each
        business key that was in effect at ``ts`` — rows with
        ``valid_from <= ts < valid_to`` (open versions: valid_to NULL).
        A key first effective after ``ts`` yields no row. One
        partition-pruned scan + filter; joins against facts at their
        event time reconstruct history exactly."""
        dim = self.read(table)
        if dim is None:
            return None
        t = F.lit(ts)
        return dim.filter(
            (F.col("valid_from") <= t)
            & (F.col("valid_to").isNull() | (F.col("valid_to") > t))
        ).drop("is_current")

    def merge_scd2(
        self,
        new_dims: DataFrame,
        table: str,
        key_cols: tuple[str, ...],
        change_cols: tuple[str, ...],
        ts_col: str = "effective_ts",
    ) -> None:
        """Type-2 slowly-changing-dimension merge (the warehouse-native
        history pattern): each business key keeps a chain of versioned
        rows with ``valid_from`` / ``valid_to`` / ``is_current``.

        For each incoming (key, attributes, effective_ts):
        - unseen key            -> insert an open version;
        - changed ``change_cols`` -> close the current version at the
          batch's effective_ts and insert the new open version;
        - unchanged             -> no-op (idempotent under replay).

        All set logic, no row loops: the batch dedups to latest-per-key
        (deterministic row_number), joins the CURRENT slice once, and
        the next snapshot is history UNION closed UNION carried UNION
        inserted — written atomically, so readers never observe a
        half-merged chain. At 100 TB the join key is the dimension's
        business key: dims are the small side of every star join, and
        this merge is one shuffle of the dimension, never the facts."""
        from pyspark.sql import Window

        keys = list(key_cols)
        w = Window.partitionBy(*keys).orderBy(F.col(ts_col).desc())
        batch = (
            new_dims.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        attr_cols = [c for c in batch.columns if c not in (*keys, ts_col)]
        existing = self.read(table)
        if existing is None:
            out = batch.select(
                *keys,
                *attr_cols,
                F.col(ts_col).cast("timestamp").alias("valid_from"),
                F.lit(None).cast("timestamp").alias("valid_to"),
                F.lit(True).alias("is_current"),
            )
            self._write_snapshot(out, table)
            return
        history = existing.filter(~F.col("is_current"))
        # presence markers, NOT key-null checks: the join is eqNullSafe,
        # so NULL business keys are legal and match each other — testing
        # keys[0].isNotNull() would silently drop a null-key chain from
        # the new snapshot (and discard null-key batch rows)
        current = existing.filter(F.col("is_current")).withColumn(
            "__c_present", F.lit(True)
        )
        b = batch.select(
            *[F.col(c).alias(f"__b_{c}") for c in (*keys, ts_col, *attr_cols)],
            F.lit(True).alias("__b_present"),
        )
        key_eq = [current[k].eqNullSafe(F.col(f"__b_{k}")) for k in keys]
        j = current.join(F.broadcast(b), key_eq, "full_outer")
        same = None
        for c in change_cols:
            eq = current[c].eqNullSafe(F.col(f"__b_{c}"))
            same = eq if same is None else (same & eq)
        in_batch = F.col("__b_present").isNotNull()
        in_cur = current["__c_present"].isNotNull()
        cur_cols = [current[c] for c in existing.columns]
        # current rows: carried (no batch row, or unchanged) or closed
        carried = j.filter(in_cur & (~in_batch | same)).select(*cur_cols)
        closed = j.filter(in_cur & in_batch & ~same).select(
            *[current[c] for c in (*keys, *attr_cols, "valid_from")],
            F.col(f"__b_{ts_col}").cast("timestamp").alias("valid_to"),
            F.lit(False).alias("is_current"),
        )
        inserted = j.filter(in_batch & (~in_cur | ~same)).select(
            *[F.col(f"__b_{c}").alias(c) for c in (*keys, *attr_cols)],
            F.col(f"__b_{ts_col}").cast("timestamp").alias("valid_from"),
            F.lit(None).cast("timestamp").alias("valid_to"),
            F.lit(True).alias("is_current"),
        )
        cols = existing.columns
        out = (
            history.select(*cols)
            .unionByName(carried.select(*cols))
            .unionByName(closed.select(*cols))
            .unionByName(inserted.select(*cols))
        )
        self._write_snapshot(out, table)

    def changes_between(
        self, table: str, v_from: int, v_to: int, key_cols: tuple[str, ...]
    ) -> DataFrame:
        """Change feed between two retained snapshots (the CDF surface
        the version pointer makes nearly free): one full-outer join of
        the two immutable snapshots on the business key, classifying
        each key as inserted / deleted / updated / unchanged. Returns
        (key_cols..., change_type, before struct, after struct)."""
        old = self.read(table, version=v_from)
        new = self.read(table, version=v_to)
        keys = list(key_cols)
        val_cols = [c for c in new.columns if c not in keys]
        o = old.select(
            *[F.col(k).alias(f"__o_{k}") for k in keys],
            F.struct(*[F.col(c) for c in val_cols]).alias("before"),
        )
        n = new.select(
            *[F.col(k).alias(f"__n_{k}") for k in keys],
            F.struct(*[F.col(c) for c in val_cols]).alias("after"),
        )
        cond = [F.col(f"__o_{k}").eqNullSafe(F.col(f"__n_{k}")) for k in keys]
        j = o.join(n, cond, "full_outer")
        in_old = F.col(f"__o_{keys[0]}").isNotNull() | F.col("before").isNotNull()
        in_new = F.col(f"__n_{keys[0]}").isNotNull() | F.col("after").isNotNull()
        change = (
            F.when(~in_old, F.lit("inserted"))
            .when(~in_new, F.lit("deleted"))
            .when(F.col("before").eqNullSafe(F.col("after")), F.lit("unchanged"))
            .otherwise(F.lit("updated"))
        )
        return j.select(
            *[
                F.coalesce(F.col(f"__n_{k}"), F.col(f"__o_{k}")).alias(k)
                for k in keys
            ],
            change.alias("change_type"),
            "before",
            "after",
        ).filter(F.col("change_type") != "unchanged")

    def watermark(self, table: str = "Script_Data") -> datetime | None:
        """A7: max(Data_Update_Time) from the state table
        (App/utils/time_utils.py:11-14)."""
        df = self.read(table)
        if df is None:
            return None
        row = df.agg(F.max("Data_Update_Time").alias("wm")).first()
        return row.wm

    # --- maintenance + streaming bridge -----------------------------------

    def compact(self, table: str, target_files: int = 8) -> int:
        """Small-file compaction: rewrite the current snapshot with
        ``target_files`` files (per partition for hive layouts), flip
        the pointer. Data is byte-identical; only the file layout
        changes. The at-scale maintenance op for tables grown by many
        small incremental appends — scan cost is dominated by file
        count once files shrink below a row group.

        Returns the new version number. Concurrent readers keep their
        snapshot (old versions retained per the GC policy)."""
        df = self.read(table)
        if df is None:
            raise ValueError(f"{table}: nothing to compact")
        pcols = self._layout_partition_cols(table)
        df = df.repartition(target_files, *pcols) if pcols else df.coalesce(target_files)
        return self._write_snapshot(df, table, self._stored_schema(table), pcols)

    def _carry_meta(self, table: str) -> dict:
        """Commit metadata that must survive unrelated commits (e.g.
        the streaming batch id)."""
        return {
            k: v
            for k, v in self._pointer_meta(table).items()
            if k.startswith("stream_batch:")
        }

    def last_stream_batch(self, table: str, query_id: str) -> int:
        return int(
            self._pointer_meta(table).get(f"stream_batch:{query_id}", -1)
        )

    def foreach_batch_appender(self, table: str, schema: T.StructType, query_id: str):
        """Exactly-once bridge from Structured Streaming to this sink:
        pass the returned function to ``writeStream.foreachBatch``.

        Structured Streaming guarantees at-least-once foreachBatch
        delivery with a MONOTONIC batch_id (replayed after restart with
        the same id). The appender records the last committed batch id
        INSIDE the version pointer — the same atomic rename that makes
        the data visible — so a replayed batch sees itself already
        committed and becomes a no-op: at-least-once delivery + an
        idempotent transactional commit = exactly-once table state.

        ``query_id`` is the Delta ``txnAppId`` contract and has two
        REQUIREMENTS the dedup logic cannot check for you: (1) unique
        per logical stream — two streams sharing an id would dedup each
        other's batches; (2) tied to ONE checkpoint location for the
        stream's lifetime — restarting with a fresh checkpoint resets
        batch_id to 0, which this guard would read as already-committed
        replays and silently drop. When retiring a checkpoint, retire
        the query_id with it (e.g. suffix a run epoch).
        """

        def append_batch(batch_df: DataFrame, batch_id: int) -> None:
            if batch_id <= self.last_stream_batch(table, query_id):
                return  # replay of a committed batch
            # follows the existing hive layout, like append_aligned
            self._write_snapshot(
                align_to_schema(batch_df, schema), table, schema,
                self._layout_partition_cols(table), link="all",
                meta={f"stream_batch:{query_id}": batch_id},
            )

        return append_batch
