"""MergeTable — an idempotent, key-bucketed MERGE INTO sink on parquet.

This is the rebuild of the reference's Mongo knowledge-graph upsert sink
(knowledge_graph_exporter.py:32-143 + mongo_db.py:13-124 — SURVEY.md §2.8 K5)
and its last_synced_block checkpoint commit (streamer.py:102-134, K6), as a
lakehouse table:

- **Key-bucketed layout**: rows live in ``n_buckets`` hash buckets of the
  merge key (xxhash64 → pmod), so a MERGE only rewrites the buckets the
  batch touches — merge cost scales with the *delta*, not the table
  (Iceberg's ``bucket(N, key)`` transform; the snapshot/commit protocol is
  implemented here directly, behind the ``SnapshotCatalog`` seam).

- **Snapshot isolation + atomic commit**: every merge writes new immutable
  parquet files, then a new snapshot manifest, then atomically swaps the
  ``manifest.json`` pointer (``os.replace``). A crash at any point leaves
  the previous snapshot intact — readers never see a partial merge.

- **Exactly-once**: each merge carries a ``batch_id``; committed ids are
  recorded in the snapshot, and re-merging a committed batch is a no-op.
  Combined with replay-idempotent keys this upgrades the reference's
  at-least-once checkpointing (re-export after crash, streamer.py:102-106)
  to exactly-once *effective* semantics.

- **Additive schema evolution** (reference rule, SURVEY.md §1.3): new
  columns union in by name into the schema each manifest carries; old rows
  read as NULL; nothing is rewritten.

- **Latest-wins resolution**: within a merge key, the row with the highest
  ``order_col`` (seq) wins — the CDC upsert semantic of mongo_db.py:72-83
  ``replace_one``.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import uuid
from dataclasses import dataclass, field
from functools import cached_property
from typing import Iterable, Sequence

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType


class CommitConflict(RuntimeError):
    """Another writer committed to this table after the current operation
    read its base snapshot. The loser must re-read the table and redo its
    merge: blindly retrying the commit would drop the other writer's
    changes (a lost update). Iceberg's optimistic-concurrency semantic."""


_BUCKET_COL = "__bucket"
_RN_COL = "__rn"
_SNAP_COL = "__snap"


def _nullable(t: DataType) -> DataType:
    """``t`` with every field, array element and map value nullable — the
    way a parquet scan reports it."""
    if isinstance(t, StructType):
        return StructType([StructField(f.name, _nullable(f.dataType), True, f.metadata)
                           for f in t.fields])
    if isinstance(t, ArrayType):
        return ArrayType(_nullable(t.elementType), True)
    if isinstance(t, MapType):
        return MapType(_nullable(t.keyType), _nullable(t.valueType), True)
    return t


def _union_type(ours: DataType, theirs: DataType, name: str = "") -> DataType:
    """By-name union of two nullable types: ``ours``' struct fields in
    order (merged recursively), then the fields only ``theirs`` has. Any
    other pair of types must be equal; a clash raises ValueError."""
    if isinstance(ours, StructType) and isinstance(theirs, StructType):
        added = {f.name: f for f in theirs.fields}
        fields = []
        for f in ours.fields:
            t = f.dataType
            if f.name in added:
                t = _union_type(t, added.pop(f.name).dataType, f"{name}{f.name}.")
            fields.append(StructField(f.name, t, True, f.metadata))
        return StructType(fields + list(added.values()))
    if isinstance(ours, ArrayType) and isinstance(theirs, ArrayType):
        return ArrayType(_union_type(ours.elementType, theirs.elementType, name), True)
    if isinstance(ours, MapType) and isinstance(theirs, MapType):
        return MapType(_union_type(ours.keyType, theirs.keyType, name),
                       _union_type(ours.valueType, theirs.valueType, name), True)
    if ours != theirs:
        raise ValueError(f"column {name.rstrip('.')!r}: {theirs.simpleString()} "
                         f"cannot merge into the table's {ours.simpleString()}")
    return ours


def _referenced_paths(snapshots: Iterable[dict]) -> set[str]:
    """Normalized data paths the given snapshot manifests reference."""
    return {os.path.normpath(p)
            for s in snapshots for plist in s["buckets"].values() for p in plist}


@dataclass
class MergeMetrics:
    """Per-merge lineage record (the A6 analog — SURVEY.md §2.6)."""

    batch_id: str
    snapshot_id: int
    rows_in: int
    rows_after_dedup: int
    buckets_touched: int
    n_buckets: int
    seconds: float
    noop: bool = False
    extra: dict = field(default_factory=dict)

    def to_dict(self) -> dict:
        fields = {k: v for k, v in vars(self).items() if k != "extra"}
        return {**fields, "seconds": round(self.seconds, 4), **self.extra}


class SnapshotCatalog:
    """The commit-protocol seam (Iceberg adapter point): ``MergeTable``
    reads and publishes snapshot manifests ONLY through this interface, so
    the file protocol (``FileSnapshotCatalog``, the default) and a real
    Iceberg catalog (whose ``commit()`` is a catalog compare-and-swap) are
    swappable without touching any merge/read logic.

    A snapshot is a plain dict: ``id``, ``parent``, ``buckets`` (bucket id
    -> list of data paths), ``committed_batches``, ``schema`` (the table
    schema as Spark StructType JSON: the all-nullable by-name union of every
    frame committed so far, so scans pass it instead of inferring it from
    file footers; manifests written before it existed lack it), ``bounds``
    (data path -> ``[min, max]`` of ``order_col`` over the write that made
    it; a path without an entry is unbounded), plus the persisted table
    config (``merge_keys``, ``order_col``, ``n_buckets``,
    ``merge_salts``, ``delete_where``) that ``MergeTable.open`` reads back.
    """

    def current_snapshot(self) -> dict | None:
        raise NotImplementedError

    def snapshot_at(self, snapshot_id: int) -> dict:
        """Manifest of a specific snapshot — raises ValueError if it never
        existed or was expired (time-travel horizon)."""
        raise NotImplementedError

    def snapshot_ids(self) -> list[int]:
        """Retained snapshot ids, ascending."""
        raise NotImplementedError

    def commit(self, snapshot: dict) -> None:
        """Atomically publish ``snapshot`` iff the table pointer still
        names ``snapshot['parent']``; raise CommitConflict otherwise."""
        raise NotImplementedError

    def remove_snapshot(self, snapshot_id: int) -> None:
        raise NotImplementedError

    def log_lineage(self, record: dict) -> None:
        raise NotImplementedError


class FileSnapshotCatalog(SnapshotCatalog):
    """Snapshot manifests as JSON files + an atomically-swapped pointer.

    Layout (under the table root)::

        manifest.json            -> {"snapshot": <id>}   (atomic pointer)
        snapshots/<id>.json      -> immutable snapshot manifest
        lineage.jsonl            -> one MergeMetrics line per commit

    ``commit()`` serializes the check+swap pair through a short O_EXCL
    lock file. Locks left by crashed writers are STOLEN after ``lock_ttl``
    seconds of inactivity, by atomic rename: of N concurrent stealers
    exactly one wins, and a fresh lock taken by a third writer in between
    is never unlinked. A live writer stalled past ``lock_ttl`` inside the
    critical section re-verifies ownership (lock inode) right before
    publishing and aborts with CommitConflict if it was stolen. That
    NARROWS the race with the stealer to the gap between the re-verify
    and the two renames; closing it needs a compare-and-swap the
    filesystem lacks, which a real Iceberg catalog ``commit()`` provides
    through this same ``SnapshotCatalog`` seam.
    """

    def __init__(self, root: str, lock_ttl: float = 30.0):
        self.root = root
        self.lock_ttl = lock_ttl
        os.makedirs(os.path.join(root, "snapshots"), exist_ok=True)

    def _manifest_path(self) -> str:
        return os.path.join(self.root, "manifest.json")

    def _snapshot_path(self, snapshot_id: int) -> str:
        return os.path.join(self.root, "snapshots", f"{snapshot_id}.json")

    def current_snapshot(self) -> dict | None:
        mp = self._manifest_path()
        if not os.path.exists(mp):
            return None
        with open(mp) as f:
            pointer = json.load(f)
        with open(self._snapshot_path(pointer["snapshot"])) as f:
            return json.load(f)

    def snapshot_at(self, snapshot_id: int) -> dict:
        spath = self._snapshot_path(snapshot_id)
        if not os.path.exists(spath):
            raise ValueError(
                f"snapshot {snapshot_id} does not exist or has been expired "
                f"(expire_snapshots bounds the time-travel horizon)"
            )
        with open(spath) as f:
            return json.load(f)

    def snapshot_ids(self) -> list[int]:
        sdir = os.path.join(self.root, "snapshots")
        return sorted(int(f[:-5]) for f in os.listdir(sdir) if f.endswith(".json"))

    def remove_snapshot(self, snapshot_id: int) -> None:
        os.remove(self._snapshot_path(snapshot_id))

    def log_lineage(self, record: dict) -> None:
        with open(os.path.join(self.root, "lineage.jsonl"), "a") as f:
            f.write(json.dumps(record) + "\n")

    # -- the commit critical section --

    @staticmethod
    def _owns(lock: str, ino: int) -> bool:
        """Does the lock file at ``lock`` still have OUR inode? False once
        a stealer renamed it away (even if a third writer re-created it)."""
        try:
            return os.stat(lock).st_ino == ino
        except OSError:
            return False

    def _acquire_lock(self, lock: str) -> int:
        # The wait budget must EXCEED lock_ttl: a crashed writer's lock is
        # stealable only after lock_ttl of inactivity, so a shorter budget
        # would fail every commit behind a crash. 2x lock_ttl + 5 s outlives
        # the TTL, wins the steal and absorbs contention.
        deadline = time.time() + 2.0 * self.lock_ttl + 5.0
        while time.time() < deadline:
            try:
                return os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            except FileExistsError:
                try:
                    stale = time.time() - os.path.getmtime(lock) > self.lock_ttl
                except OSError:
                    continue  # raced with the holder's release
                if stale:
                    # steal by atomic rename: exactly one stealer succeeds,
                    # and a fresh third-party lock is untouchable
                    grave = lock + f".stale-{uuid.uuid4().hex[:8]}"
                    try:
                        os.rename(lock, grave)
                    except OSError:
                        continue  # lost the steal race (or holder released)
                    try:
                        os.unlink(grave)
                    except OSError:
                        pass
                    continue
                time.sleep(0.05)
        raise CommitConflict(f"could not acquire {lock} — another writer is mid-commit")

    def _write_temp_files(self, snapshot: dict, spath: str, mp: str) -> tuple[str, str]:
        """Stage the snapshot manifest + pointer to temp names (published
        by two renames AFTER the ownership re-verify — a writer that lost
        its lock mid-section must never touch the real paths, which may
        now belong to the stealer's same-id commit)."""
        stmp = spath + f".tmp-{uuid.uuid4().hex}"
        with open(stmp, "w") as f:
            json.dump(snapshot, f)
        tmp = mp + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump({"snapshot": snapshot["id"]}, f)
        return stmp, tmp

    def commit(self, snapshot: dict) -> None:
        sid = snapshot["id"]
        spath = self._snapshot_path(sid)
        mp = self._manifest_path()
        lock = os.path.join(self.root, "manifest.lock")
        fd = self._acquire_lock(lock)
        my_ino = os.fstat(fd).st_ino
        try:
            current = None
            if os.path.exists(mp):
                with open(mp) as f:
                    current = json.load(f)["snapshot"]
            expected = snapshot.get("parent")
            if current != expected:
                raise CommitConflict(
                    f"base snapshot {expected} was superseded by {current}; "
                    f"re-read the table and redo this merge"
                )
            stmp, tmp = self._write_temp_files(snapshot, spath, mp)
            if not self._owns(lock, my_ino):
                # we stalled past lock_ttl and a stealer took over — its
                # check+swap may be mid-flight; publishing now would be
                # exactly the lost update the lock exists to prevent
                for t in (stmp, tmp):
                    try:
                        os.unlink(t)
                    except OSError:
                        pass
                raise CommitConflict(
                    f"lock was stolen mid-commit (held past {self.lock_ttl}s); "
                    f"snapshot {sid} not published — re-read and retry"
                )
            # manifest write lands INSIDE the verified critical section: a
            # stale racer with the same next_id can never clobber the
            # winner's committed snapshots/<sid>.json
            os.replace(stmp, spath)
            os.replace(tmp, mp)  # atomic pointer swap
        finally:
            os.close(fd)
            if self._owns(lock, my_ino):
                try:
                    os.unlink(lock)
                except OSError:
                    pass


class MergeTable:
    """A parquet-backed upsert table with snapshot manifests.

    Layout::

        root/
          manifest.json            -> {"snapshot": <id>}   (atomic pointer)
          snapshots/<id>.json      -> immutable snapshot manifest
          data/s<id>/b=<k>/*.parquet
          lineage.jsonl            -> one MergeMetrics line per commit

    Snapshot metadata I/O goes through ``self.catalog`` (a
    ``SnapshotCatalog``); the file layout above is the default
    ``FileSnapshotCatalog``'s.
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        merge_keys: Sequence[str] = ("repo", "path", "commit"),
        order_col: str = "seq",
        n_buckets: int = 32,
        mode: str = "cow",
        compact_threshold: int = 8,
        merge_salts: int = 1,
        auto_expire_keep: int | None = None,
        delete_where: str | None = None,
        catalog: SnapshotCatalog | None = None,
    ):
        """``mode``:

        - ``"cow"`` (copy-on-write): each merge rewrites the touched buckets
          with winners resolved — reads are raw scans. Best for bulk replay.
        - ``"mor"`` (merge-on-read): each merge APPENDS a delta file per
          touched bucket (merge cost O(batch)); winners are resolved at
          read time, and buckets holding more than ``compact_threshold``
          files are compacted inside the next merge's commit. Best for
          micro-batch streaming.

        ``merge_salts``: sub-partition count for the merge-apply window. The
        winner sort's parallelism is otherwise capped at ``n_buckets``. The
        salt is a *key-determined* hash (all rows of a merge key share a
        salt), so the per-key window stays correct while the sort fans out
        to ``n_buckets * merge_salts`` partitions (≈ cluster cores * k).
        Default 1 = off.

        ``auto_expire_keep``: when set, every commit is followed by
        ``expire_snapshots(keep_last=auto_expire_keep)`` — bounded disk for
        long-running streams.

        ``delete_where``: a SQL boolean over the row marking it a CDC
        DELETE (binlog/WAL ``op = 'd'`` semantics), e.g. ``"op = 'd'"``.
        Tombstones take part in latest-wins resolution and are PERSISTED
        (a late-replayed pre-delete row must still lose to the tombstone —
        the reason Iceberg MOR keeps delete files); ``read()`` filters
        them out of the visible state. The predicate is evaluated
        null-safely, so pre-evolution rows without the op column (read as
        NULL under additive schema evolution) are kept, not dropped.
        """
        if mode not in ("cow", "mor"):
            raise ValueError(mode)
        if merge_salts < 1:
            raise ValueError("merge_salts must be >= 1")
        self.spark = spark
        self.root = root
        self.merge_keys = list(merge_keys)
        self.order_col = order_col
        self.n_buckets = n_buckets
        self.mode = mode
        self.compact_threshold = compact_threshold
        self.merge_salts = merge_salts
        if auto_expire_keep is not None and auto_expire_keep < 1:
            raise ValueError("auto_expire_keep must be >= 1")
        self.auto_expire_keep = auto_expire_keep
        self.delete_where = delete_where
        self.catalog = catalog if catalog is not None else FileSnapshotCatalog(root)
        self._delete_binds: dict[StructType, bool] = {}  # see _delete_pred
        os.makedirs(os.path.join(root, "data"), exist_ok=True)

    @classmethod
    def open(
        cls,
        spark: SparkSession,
        root: str,
        catalog: SnapshotCatalog | None = None,
        **kwargs,
    ) -> "MergeTable":
        """Construct from the table's OWN persisted config: every snapshot
        manifest records ``merge_keys`` / ``order_col`` / ``n_buckets`` /
        ``merge_salts`` / ``delete_where``; guessed defaults would resolve
        winners with the wrong key/order columns.

        Explicit kwargs that CONFLICT with the persisted config raise
        ValueError; config keys absent from the manifest (pre-persistence
        tables) and purely operational kwargs (mode, compact_threshold,
        auto_expire_keep) pass through unchanged. Falls back to constructor
        defaults when the table has no snapshot yet."""
        cat = catalog if catalog is not None else FileSnapshotCatalog(root)
        snap = cat.current_snapshot()
        if snap is not None:
            for k in ("merge_keys", "order_col", "n_buckets", "merge_salts",
                      "delete_where"):
                if k not in snap or snap[k] is None:
                    continue  # pre-persistence manifest / unconfigured
                persisted = snap[k]
                if k in kwargs and kwargs[k] is not None:
                    given = kwargs[k]
                    same = (
                        list(given) == list(persisted)
                        if k == "merge_keys"
                        else given == persisted
                    )
                    if not same:
                        raise ValueError(
                            f"{k}={given!r} conflicts with the table's persisted "
                            f"{k}={persisted!r} (snapshot {snap['id']} at {root})"
                        )
                elif persisted is not None:
                    kwargs[k] = persisted
        kwargs = {k: v for k, v in kwargs.items() if v is not None}
        return cls(spark, root, catalog=cat, **kwargs)

    # ---------------- snapshot plumbing (via the catalog) ----------------

    def current_snapshot(self) -> dict | None:
        return self.catalog.current_snapshot()

    def snapshot_at(self, snapshot_id: int) -> dict:
        """Manifest of a specific snapshot — raises if it never existed or
        was reclaimed by ``expire_snapshots`` (time-travel horizon)."""
        return self.catalog.snapshot_at(snapshot_id)

    def history(self) -> list[dict]:
        """Retained snapshots, oldest first (Iceberg's ``snapshots``
        metadata table): id, parent, batch count, file count, and whether it
        is the current pointer — the ids time travel and ``changes_since``
        accept."""
        cur = self.current_snapshot()
        out = []
        for i in self.catalog.snapshot_ids():
            s = self.catalog.snapshot_at(i)
            out.append({
                "id": s["id"],
                "parent": s.get("parent"),
                "n_batches": len(s.get("committed_batches", [])),
                "n_files": sum(len(v) for v in s["buckets"].values()),
                "is_current": bool(cur) and s["id"] == cur["id"],
            })
        return out

    def committed_batches(self) -> set[str]:
        snap = self.current_snapshot()
        return set(snap["committed_batches"]) if snap else set()

    def _commit(self, snapshot: dict) -> None:
        self.catalog.commit(snapshot)

    def _publish(self, snapshot: dict, bounds: dict, attempt_dirs: list[str]) -> None:
        """Commit ``snapshot`` with the ``bounds`` of the paths it lists,
        then auto-expire. A CommitConflict loser's dirs resolved against a
        superseded base and no snapshot references them: reclaim them now."""
        listed = {p for plist in snapshot["buckets"].values() for p in plist}
        snapshot["bounds"] = {p: b for p, b in bounds.items() if p in listed}
        try:
            self._commit(snapshot)
        except CommitConflict:
            for d in attempt_dirs:
                shutil.rmtree(d, ignore_errors=True)
            raise
        if self.auto_expire_keep is not None:
            self.expire_snapshots(keep_last=self.auto_expire_keep)

    def _log_lineage(self, m: MergeMetrics) -> None:
        self.catalog.log_lineage(m.to_dict())

    def verify_integrity(self) -> dict:
        """Offline consistency check (the table 'fsck'): verifies the
        invariants the commit protocol promises, without running a single
        Spark job. Returns a report dict; ``ok`` is False iff a promise is
        BROKEN (missing referenced files, broken parent chain, shrinking
        batch sets). Unreferenced data dirs are NOT failures — they are the
        debris of crashed/lost OCC attempts, listed as ``orphan_dirs``
        (reclaimed by ``expire_snapshots``).
        """
        report: dict = {
            "ok": True, "issues": [], "snapshots": 0,
            "missing_paths": [], "orphan_dirs": [], "current_snapshot": None,
        }

        def bad(msg: str) -> None:
            report["ok"] = False
            report["issues"].append(msg)

        try:
            cur = self.current_snapshot()
        except Exception as exc:  # unreadable pointer/manifest
            bad(f"current snapshot unreadable: {exc}")
            return report
        if cur is None:
            return report  # empty table: trivially consistent
        report["current_snapshot"] = cur["id"]

        ids = self.catalog.snapshot_ids()
        if cur["id"] not in ids:
            bad(f"pointer names snapshot {cur['id']} but its manifest is missing")
        # a manifest beyond the pointer is a crash between snapshot write
        # and pointer swap — benign debris (the next commit overwrites it),
        # but reported so time-travel readers don't trust it as committed
        report["dangling_snapshots"] = [i for i in ids if i > cur["id"]]
        ids = [i for i in ids if i <= cur["id"]]
        report["snapshots"] = len(ids)

        snaps = [self.catalog.snapshot_at(i) for i in sorted(ids)]
        prev_batches: set[str] | None = None
        prev_id: int | None = None
        for i, s in zip(sorted(ids), snaps):
            if s["id"] != i:
                bad(f"snapshot file {i}.json carries id {s['id']}")
            # parent chain: each retained snapshot's parent is the previous
            # retained id (or expired, for the oldest retained)
            if prev_id is not None and s.get("parent") != prev_id:
                bad(f"snapshot {i} parent={s.get('parent')}, expected {prev_id}")
            # committed batches only grow along the chain (idempotence set)
            batches = set(s.get("committed_batches", []))
            if prev_batches is not None and not prev_batches <= batches:
                bad(f"snapshot {i} dropped committed batches "
                    f"{sorted(prev_batches - batches)}")
            prev_batches, prev_id = batches, i

        referenced = _referenced_paths(snaps)
        for p in sorted(referenced):
            if not os.path.isdir(p):
                report["missing_paths"].append(p)
                bad(f"referenced data path missing: {p}")

        report["orphan_dirs"] = [
            os.path.basename(d) for d, bdirs in self._data_dirs()
            if bdirs and not any(b in referenced for b in bdirs)
        ]
        return report

    def _data_dirs(self) -> list[tuple[str, list[str]]]:
        """(dir, its normalized child dirs) for every write-attempt dir
        under ``data/``: the children are its bucket dirs."""
        root = os.path.join(self.root, "data")
        out = []
        for d in sorted(os.listdir(root)) if os.path.isdir(root) else []:
            dpath = os.path.join(root, d)
            if os.path.isdir(dpath):
                out.append((dpath, [os.path.normpath(os.path.join(dpath, b))
                                    for b in sorted(os.listdir(dpath))
                                    if os.path.isdir(os.path.join(dpath, b))]))
        return out

    def expire_snapshots(self, keep_last: int = 2) -> dict:
        """Delete snapshot manifests — and the data directories no retained
        snapshot references — the Iceberg ``expire_snapshots`` + ``vacuum``
        analog (every COW merge strands the superseded copy of each touched
        bucket).

        Retains the current snapshot plus the ``keep_last - 1`` before it
        (older snapshots are no longer time-travel-readable). Readers are
        safe: the manifest pointer always names a retained snapshot, and
        files referenced by any retained snapshot are never touched. Orphan
        snapshots *newer* than the manifest pointer (a crash between
        snapshot write and pointer swap) are cleaned up too.
        """
        stats = {"snapshots_removed": 0, "dirs_removed": 0}
        snap = self.current_snapshot()
        if snap is None or keep_last < 1:
            return stats
        ids = self.catalog.snapshot_ids()
        cur = snap["id"]
        retained = {i for i in ids if cur - keep_last < i <= cur}
        referenced = _referenced_paths(self.catalog.snapshot_at(i) for i in retained)
        for dpath, bdirs in self._data_dirs():
            dropped = [b for b in bdirs if b not in referenced]
            for b in dropped:
                shutil.rmtree(b, ignore_errors=True)
            stats["dirs_removed"] += len(dropped)
            # drop the attempt dir once no bucket dirs remain (write-marker
            # files like _SUCCESS don't keep it alive)
            if len(dropped) == len(bdirs):
                shutil.rmtree(dpath, ignore_errors=True)
        for i in ids:
            if i not in retained:
                self.catalog.remove_snapshot(i)
                stats["snapshots_removed"] += 1
        return stats

    # ---------------- read path ----------------
    #
    # Column expressions are built once per table and reused by every call:
    # each F.* call is a few Py4J round trips, which a micro-batch loop
    # would otherwise pay again on every cycle.

    @cached_property
    def _bucket(self) -> Column:
        return F.pmod(F.xxhash64(*[F.col(k) for k in self.merge_keys]), F.lit(self.n_buckets))

    @cached_property
    def _winner(self) -> Column:
        """True on the first row of every merge-key run, ordered by (keys,
        order_col desc, __snap desc) within the bucket partition. An
        incoming batch carries the next snapshot id as ``__snap``, above
        every committed row's, so it wins ``order_col`` ties: the CDC
        ``replace_one`` semantic (mongo_db.py:72-83). With merge_salts > 1
        the partitioning is (bucket, key-salt): a second, independent hash
        of the merge key (seeded so it does not correlate with the bucket
        hash), so every row of a key maps to one salt and keys never
        straddle partitions."""
        parts = [F.col(_BUCKET_COL)]
        if self.merge_salts > 1:
            parts.append(F.pmod(
                F.xxhash64(F.lit("__merge_salt"), *[F.col(k) for k in self.merge_keys]),
                F.lit(self.merge_salts),
            ))
        snap_ord = F.coalesce(F.col(_SNAP_COL), F.lit(-1)).desc()
        w = Window.partitionBy(*parts).orderBy(
            *self.merge_keys, F.col(self.order_col).desc(), snap_ord
        )
        key_struct = F.struct(*[F.col(k) for k in self.merge_keys])
        prev_key = F.lag(key_struct).over(w)
        return prev_key.isNull() | (prev_key != key_struct)

    def _resolve_winners(self, df: DataFrame) -> DataFrame:
        """Latest row per merge key in ONE bucket-partitioned sort: keep
        the first row of every key run."""
        return df.withColumn(_RN_COL, self._winner).filter(_RN_COL).drop(_RN_COL)

    def _winners(
        self, snap: dict | None, dirs: Sequence[Sequence[str]], batch: DataFrame | None = None
    ) -> DataFrame | None:
        """Latest row per merge key, with ``__bucket``, over the data dirs
        of ``snap`` in ``dirs`` (one list per bucket) plus an incoming
        ``batch`` that already carries its ``__snap``; None when there is
        nothing to read. Files without ``__snap`` are legacy: their rows
        rank below every row the engine wrote since. Every dir the engine
        writes is key-unique, so the winner sort runs only when a bucket
        reads two dirs or a batch joins them."""
        parts = [] if batch is None else [batch]
        paths = sorted({p for plist in dirs for p in plist})
        if paths:
            df = self._scan(snap, paths)
            parts.append(df if _SNAP_COL in df.columns else df.withColumn(_SNAP_COL, F.lit(-1)))
        if not parts:
            return None
        # bucket value is derivable from the key; recompute rather than
        # trusting directory names (survives schema drift)
        df, *rest = [p.withColumn(_BUCKET_COL, self._bucket) for p in parts]
        for other in rest:
            df = df.unionByName(other, allowMissingColumns=True)
        if batch is None and all(len(plist) <= 1 for plist in dirs):
            return df
        return self._resolve_winners(df)

    def _no_rows(self, cols: Sequence[str]) -> DataFrame:
        """An empty frame of string columns ``cols``: what a read returns
        when there is no file to scan."""
        return self.spark.createDataFrame([], ", ".join(f"`{c}` string" for c in cols))

    def _scan(self, snap: dict, paths: Sequence[str]) -> DataFrame:
        """Data files ``paths`` of snapshot ``snap``, read with the schema
        its manifest carries, so no footer-inference job runs. A manifest
        without one falls back to ``mergeSchema`` inference."""
        reader = self.spark.read
        if "schema" in snap:
            reader = reader.schema(StructType.fromJson(snap["schema"]))
        else:
            reader = reader.option("mergeSchema", "true")
        return reader.parquet(*paths)

    def _schema(self, snap: dict | None) -> StructType | None:
        """Table schema as of ``snap``; inferred from its files (once: the
        next commit writes it) when the manifest predates the key."""
        if snap is None:
            return None
        if "schema" in snap:
            return StructType.fromJson(snap["schema"])
        paths = sorted({p for plist in snap["buckets"].values() for p in plist})
        return self._scan(snap, paths).schema if paths else None

    def _next_schema(self, parent: dict | None, frame: DataFrame) -> dict:
        """Manifest schema of a commit writing ``frame`` on ``parent``: the
        all-nullable by-name union of the parent's schema and the frame's
        columns, ``__bucket`` dropped. A type clash raises ValueError
        before anything is written or committed."""
        written = _nullable(StructType([f for f in frame.schema if f.name != _BUCKET_COL]))
        base = self._schema(parent)
        return (written if base is None else _union_type(base, written)).jsonValue()

    @cached_property
    def _write_stats(self) -> list[Column]:
        oc = F.col(self.order_col)
        return [F.count(F.lit(1)).alias("rows"), F.count(oc).alias("ordered"),
                F.min(oc).alias("lo"), F.max(oc).alias("hi")]

    def _write_buckets(self, df: DataFrame, name: str, bounds: dict) -> tuple[str, dict, int]:
        """Write ``df`` partitioned by ``__bucket`` into ``data/<name>-<token>``
        (racing writers never share a dir); return that dir, {bucket: its
        dir} and the rows written. An Observation on the write puts its
        [min, max] of ``order_col`` in ``bounds`` for each dir, with no extra
        job; a null or non-int/str ``order_col`` leaves them unbounded."""
        out_dir = os.path.join(self.root, "data", f"{name}-{uuid.uuid4().hex[:6]}")
        obs = Observation()
        df = df.observe(obs, *self._write_stats)
        df.write.mode("overwrite").partitionBy(_BUCKET_COL).parquet(out_dir)
        prefix = f"{_BUCKET_COL}="
        dirs = {int(d[len(prefix):]): os.path.join(out_dir, d)
                for d in os.listdir(out_dir) if d.startswith(prefix)}
        if not dirs:
            return out_dir, dirs, 0  # an empty write may report no observed metrics
        m = obs.get
        if m["ordered"] == m["rows"] and isinstance(m["lo"], (int, str)):
            bounds.update({p: [m["lo"], m["hi"]] for p in dirs.values()})
        return out_dir, dirs, int(m["rows"])

    def _rewrite(self, snap: dict | None, buckets: Iterable[int | str], name: str, bounds: dict,
                 batch: DataFrame | None = None, keep: Column | None = None) -> tuple:
        """Write the winners of ``buckets``' dirs in ``snap`` plus
        ``batch``, less the rows ``keep`` rejects, into one new data dir
        (see ``_write_buckets``). Returns that dir, the bucket lists it
        replaces (a rewritten bucket left with no row maps to ``[]``), the
        rows written and the manifest schema. The schema comes first: a
        type clash fails before anything is written."""
        buckets = [str(b) for b in buckets]
        df = self._winners(snap, [snap["buckets"].get(b, []) for b in buckets], batch)
        if keep is not None:
            df = df.filter(keep)
        schema = self._next_schema(snap, df)
        out_dir, written, rows = self._write_buckets(df, name, bounds)
        replaced = {b: [] for b in buckets} | {str(b): [p] for b, p in written.items()}
        return out_dir, replaced, rows, schema

    def _manifest(self, snap: dict | None, buckets: dict, schema: dict, batch_id=None) -> dict:
        """The snapshot after ``snap`` (None: the first) listing
        ``buckets`` with ``schema``, with ``batch_id`` added to the
        committed batches and the table config persisted for ``open``.
        ``_publish`` adds the bounds."""
        batches = set(snap["committed_batches"]) if snap else set()
        if batch_id is not None:
            batches.add(batch_id)
        return {
            "id": snap["id"] + 1 if snap else 0,
            "parent": snap["id"] if snap else None,
            "buckets": buckets,
            "committed_batches": sorted(batches),
            "merge_keys": self.merge_keys,
            "order_col": self.order_col,
            "n_buckets": self.n_buckets,
            "merge_salts": self.merge_salts,
            "delete_where": self.delete_where,
            "schema": schema,
        }

    def read(
        self, buckets: Sequence[int] | None = None, as_of: int | None = None
    ) -> DataFrame:
        """Current table state (snapshot-consistent). In MOR mode (any
        bucket holding delta files) superseded versions are resolved here.

        ``buckets`` prunes the scan to the given bucket ids: a
        read-modify-write cycle touching k of N buckets reads k/N of the
        table.

        ``as_of`` time-travels: read the table exactly as snapshot
        ``as_of`` committed it, with that snapshot's schema (retained
        until ``expire_snapshots`` reclaims it)."""
        snap = self.current_snapshot() if as_of is None else self.snapshot_at(as_of)
        wanted = {} if snap is None else (
            snap["buckets"]
            if buckets is None
            else {str(b): snap["buckets"].get(str(b), []) for b in buckets}
        )
        df = self._winners(snap, list(wanted.values()))
        if df is None:
            return self._no_rows(self.merge_keys)
        return self._drop_tombstones(df.drop(_SNAP_COL, _BUCKET_COL))

    @cached_property
    def _delete_col(self) -> Column:
        return F.coalesce(F.expr(self.delete_where), F.lit(False))

    def _delete_pred(self, df: DataFrame):
        """``delete_where`` as a null-safe boolean Column bound to ``df``,
        or None when ``df`` carries no binding for it (pre-evolution files
        read the op column as absent — nothing can be a tombstone yet).
        Only AnalysisException falls back; other errors propagate, and all
        three consumers (read, changes_since, purge) degrade identically.
        The analysis probe runs once per schema."""
        if self.delete_where is None:
            return None
        schema = df.schema
        if schema not in self._delete_binds:
            try:
                df.select(self._delete_col)  # analysis-only probe: no job runs
                self._delete_binds[schema] = True
            except AnalysisException:
                self._delete_binds[schema] = False
        return self._delete_col if self._delete_binds[schema] else None

    def _drop_tombstones(self, df: DataFrame) -> DataFrame:
        """Hide CDC-deleted rows from the visible state (see delete_where).
        Runs AFTER winner resolution: only a key whose *latest* row is a
        tombstone disappears. coalesce(False) keeps rows where the
        predicate is NULL (pre-evolution files lacking the op column)."""
        is_del = self._delete_pred(df)
        return df if is_del is None else df.filter(~is_del)

    def _snapshot_dir_id(self, path: str) -> int:
        """Snapshot id that wrote a data path, parsed from the path segment
        DIRECTLY UNDER the table's data dir (a table root like
        ``/mnt/s3-cache/…`` must not parse). Unparseable paths return a
        +inf sentinel so pruning degrades to scanning, never to dropping
        changes."""
        data_root = os.path.normpath(os.path.join(self.root, "data"))
        rel = os.path.relpath(os.path.normpath(path), data_root)
        seg = rel.replace(os.sep, "/").split("/", 1)[0]
        m = re.match(r"s(\d+)(?:-.*)?$", seg)
        return int(m.group(1)) if m else 1 << 62

    def _changed_dirs(self, plist: list[str], snapshot_id: int, bounds: dict) -> list[str]:
        """The dirs of one bucket that ``changes_since(snapshot_id)`` reads:
        those written after it, plus each older dir that is unbounded or
        whose max ``order_col`` reaches the new dirs' smallest min — only
        such a dir can hold a late or replayed row that beats a newer one."""
        new = [p for p in plist if self._snapshot_dir_id(p) > snapshot_id]
        if not new:
            return []
        lows = [bounds[p][0] for p in new if p in bounds]
        floor = min(lows) if len(lows) == len(new) else None
        return new + [p for p in plist if p not in new and (
            floor is None or p not in bounds or bounds[p][1] >= floor)]

    def changes_since(self, snapshot_id: int, as_of: int | None = None) -> DataFrame:
        """Net row-level changes committed AFTER ``snapshot_id`` — the
        CDC-out / incremental-consumption surface (Iceberg's incremental
        scan): each key that changed appears ONCE with its current row,
        plus ``_change_type`` = 'upsert' | 'delete' (tombstones are
        INCLUDED here — downstream consumers must see deletes — unlike
        ``read()``, which hides them).

        ``as_of`` pins the read to a retained snapshot, giving a closed
        range (snapshot_id, as_of] — what ``CdcRelay`` needs so commits
        landing mid-poll are not double-shipped. Default: the current
        snapshot.

        Works because every row persists the snapshot id that wrote it
        (``__snap``), and winner resolution keeps the winner's own id: a
        key's current version carries exactly the snapshot that last
        changed it. Such a row lives in a dir written after ``snapshot_id``
        (dirs are ``s<id>/``): each bucket reads those dirs and only the
        older ones ``_changed_dirs`` keeps, so the cost follows the churn,
        not the table. Every dir the engine writes is key-unique, so when
        each bucket reads one dir the winner sort is skipped.
        """
        snap = self.current_snapshot() if as_of is None else self.snapshot_at(as_of)
        buckets = {} if snap is None or snapshot_id >= snap["id"] else snap["buckets"]
        picked = [self._changed_dirs(plist, snapshot_id, snap.get("bounds", {}))
                  for plist in buckets.values()]
        df = self._winners(snap, picked)
        if df is None:
            return self._no_rows([*self.merge_keys, "_change_type"])
        out = df.drop(_BUCKET_COL).filter(F.col(_SNAP_COL) > snapshot_id)
        is_del = self._delete_pred(out)
        if is_del is None:
            is_del = F.lit(False)
        return out.withColumn(
            "_change_type", F.when(is_del, F.lit("delete")).otherwise(F.lit("upsert"))
        ).drop(_SNAP_COL)

    def purge_tombstones(self, below_seq: int) -> dict:
        """Physically remove tombstones with ``order_col < below_seq`` —
        the delete-file compaction a long-running CDC table needs
        (tombstones otherwise accumulate forever; see delete_where for why
        they must be retained at merge time).

        SAFETY CONTRACT: only call with ``below_seq`` at or below the
        replay low-watermark (e.g. the stream checkpoint's last synced
        seq). A tombstone may be dropped only when no future batch can
        carry a lower-seq row for its key — otherwise that late row would
        resurrect the key.

        Rewrites only the buckets holding purgeable tombstones, from their
        own files (resolving winners first where a bucket holds more than
        one dir: a compaction of its MOR delta chain too), and commits a
        new snapshot.
        """
        if self.delete_where is None:
            raise ValueError("purge_tombstones requires delete_where")
        t0 = time.time()
        snap = self.current_snapshot()
        stats = {"buckets_rewritten": 0, "tombstones_removed": 0, "snapshot_id": None}
        paths = sorted({p for plist in snap["buckets"].values() for p in plist}) if snap else []
        df = self._scan(snap, paths) if paths else None
        is_del = None if df is None else self._delete_pred(df)
        if is_del is None:
            return stats  # no file carries the op column yet: no tombstones
        purgeable = is_del & (F.col(self.order_col) < F.lit(below_seq))
        hit = self._bucket_counts(df.filter(purgeable))
        if not hit:
            return stats
        next_id = snap["id"] + 1
        bounds = dict(snap.get("bounds", {}))
        out_dir, replaced, _, schema = self._rewrite(
            snap, sorted(hit), f"s{next_id:06d}-purge", bounds, keep=~purgeable)
        self._publish(self._manifest(snap, snap["buckets"] | replaced, schema), bounds, [out_dir])
        stats.update(buckets_rewritten=len(hit), tombstones_removed=sum(hit.values()),
                     snapshot_id=next_id)
        self._log_lineage(MergeMetrics(
            f"purge-below-{below_seq}", next_id, 0, 0, len(hit), self.n_buckets,
            time.time() - t0, extra={"tombstones_removed": stats["tombstones_removed"]},
        ))
        return stats

    def _bucket_counts(self, df: DataFrame) -> dict[int, int]:
        """Rows of ``df`` per bucket its keys hash into: one column-pruned
        aggregate, at most ``n_buckets`` rows collected."""
        rows = df.select(self._bucket.alias(_BUCKET_COL)).groupBy(_BUCKET_COL).count().collect()
        return {int(r[0]): int(r[1]) for r in rows}

    def touched_buckets(self, df: DataFrame) -> list[int]:
        """Bucket ids a batch's keys hash into."""
        return sorted(self._bucket_counts(df))

    def latest_state(self, keys: Sequence[str] | None = None) -> DataFrame:
        """Latest row per (sub)key by order_col — the 'current file content'
        view (the reference's wallet/token current-state collections).
        Defaults to the table's own merge keys minus the last (version)
        component, tie-broken by the remaining merge-key columns."""
        if keys is None:
            keys = self.merge_keys[:-1] if len(self.merge_keys) > 1 else self.merge_keys
        tie = [F.col(c).desc() for c in self.merge_keys if c not in keys]
        w = Window.partitionBy(*keys).orderBy(F.col(self.order_col).desc(), *tie)
        return (
            self.read()
            .withColumn(_RN_COL, F.row_number().over(w))
            .filter(F.col(_RN_COL) == 1)
            .drop(_RN_COL)
        )

    # ---------------- merge (the upsert) ----------------

    def merge(
        self, batch: DataFrame, batch_id: str, conflict_retries: int = 0
    ) -> MergeMetrics:
        """MERGE batch INTO table ON merge_keys, latest-order_col-wins.

        Idempotent per ``batch_id`` AND per key: re-merging a committed batch
        is a pointer-level no-op; re-merging the same *rows* under a new
        batch_id converges to the same state (dedup on merge keys).

        ``conflict_retries``: how many times to redo the merge against a
        freshly-read base when another writer commits first
        (``CommitConflict``). Each retry recomputes winner resolution
        against the new snapshot (an OCC loser's files resolved against
        superseded state), and the losing attempt's dirs are reclaimed
        eagerly. Default 0: single-writer paths surface the conflict.
        """
        attempt = 0
        while True:
            try:
                return self._merge_once(batch, batch_id)
            except CommitConflict:
                if attempt >= conflict_retries:
                    raise
                attempt += 1

    def _merge_once(self, batch: DataFrame, batch_id: str) -> MergeMetrics:
        t0 = time.time()
        snap = self.current_snapshot()
        if snap and batch_id in snap["committed_batches"]:
            m = MergeMetrics(batch_id, snap["id"], 0, 0, 0, self.n_buckets, time.time() - t0, noop=True)
            self._log_lineage(m)
            return m
        next_id = (snap["id"] + 1) if snap else 0
        old_buckets: dict[str, list[str]] = dict(snap["buckets"]) if snap else {}
        mor_append = self.mode == "mor"

        # 1. light pass — only a CoW merge into a table with files unions
        #    existing rows, so only it needs the touched buckets BEFORE the
        #    main pass: one column-pruned aggregation of ~n_buckets rows.
        #    A MOR merge only appends; supersession is resolved at read time.
        touched = [] if mor_append or not any(old_buckets.values()) else sorted(
            self._bucket_counts(batch))

        # 2. main pass — ONE shuffle, ONE sort: in-batch dedup and
        #    resolve-vs-existing are the same latest-wins rule, so both
        #    collapse into a single window over the bucket exchange
        #    (write-aligned; a key never straddles buckets). The batch
        #    carries __snap = next_id, so it beats existing rows on order_col
        #    ties. The data is already exchanged on the bucket column, so
        #    partitionBy writes straight out of the window's partitioning.
        obs = Observation()
        tagged = batch.withColumn(_SNAP_COL, F.lit(next_id)).observe(
            obs, F.count(F.lit(1)).alias("rows_in"))
        bounds = dict(snap.get("bounds", {})) if snap else {}
        out_dir, replaced, rows_dedup, schema = self._rewrite(
            snap, touched, f"s{next_id:06d}", bounds, batch=tagged)
        attempt_dirs = [out_dir]
        # every batch row has a winner, so the written bucket dirs are
        # exactly the buckets the batch touches; an empty write may report
        # no observed metrics: skip the wait
        rows_in = int(obs.get["rows_in"]) if replaced else 0
        new_buckets = dict(old_buckets)
        for b, bpaths in replaced.items():
            new_buckets[b] = (new_buckets.get(b, []) if mor_append else []) + bpaths
        snapshot = self._manifest(snap, new_buckets, schema, batch_id)

        # 3. auto-compaction (MOR): buckets whose delta chain grew past the
        #    threshold are rewritten to a single winners file inside this
        #    same commit, bounding read-time resolution cost
        overlong = [b for b, fs in new_buckets.items() if len(fs) > self.compact_threshold]
        if mor_append and overlong:
            cdir, compacted, _, _ = self._rewrite(
                snapshot, overlong, f"s{next_id:06d}-compact", bounds)
            attempt_dirs.append(cdir)
            new_buckets.update(compacted)

        self._publish(snapshot, bounds, attempt_dirs)
        m = MergeMetrics(
            batch_id, next_id, rows_in, rows_dedup, len(replaced), self.n_buckets, time.time() - t0
        )
        self._log_lineage(m)
        return m
