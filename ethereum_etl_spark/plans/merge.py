"""MergeTable — an idempotent, key-bucketed MERGE INTO sink on parquet.

This is the rebuild of the reference's Mongo knowledge-graph upsert sink
(knowledge_graph_exporter.py:32-143 + mongo_db.py:13-124 — SURVEY.md §2.8 K5)
and its last_synced_block checkpoint commit (streamer.py:102-134, K6), as a
lakehouse table:

- **Key-bucketed layout**: rows live in ``n_buckets`` hash buckets of the
  merge key (xxhash64 → pmod), so a MERGE only rewrites the buckets the
  batch touches — merge cost scales with the *delta*, not the table. This
  is Iceberg's ``bucket(N, key)`` partition transform; on a real cluster the
  same code targets Iceberg ``MERGE INTO`` and a storage-partitioned join
  removes the union shuffle entirely. (No Iceberg runtime jar ships in this
  sandbox, so the snapshot/commit protocol is implemented here directly.)

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
  columns union in by name; old rows read as NULL; nothing is rewritten.

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
from typing import Sequence

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

class CommitConflict(RuntimeError):
    """Another writer committed to this table after the current operation
    read its base snapshot. The losing writer must re-read the table state
    and redo its merge — blindly retrying the commit would silently drop
    the other writer's changes (the lost-update anomaly this check exists
    to prevent). Single-writer-per-table is the supported deployment (one
    Streamer owns a table); this turns accidental concurrent writers from
    silent corruption into a loud error — Iceberg's optimistic-concurrency
    commit semantic."""


_BUCKET_COL = "__bucket"
_IS_NEW_COL = "__is_new"
_RN_COL = "__rn"
_SNAP_COL = "__snap"


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
        return {
            "batch_id": self.batch_id,
            "snapshot_id": self.snapshot_id,
            "rows_in": self.rows_in,
            "rows_after_dedup": self.rows_after_dedup,
            "buckets_touched": self.buckets_touched,
            "n_buckets": self.n_buckets,
            "seconds": round(self.seconds, 4),
            "noop": self.noop,
            **self.extra,
        }


class SnapshotCatalog:
    """The commit-protocol seam (Iceberg adapter point): ``MergeTable``
    reads and publishes snapshot manifests ONLY through this interface, so
    the hand-built file protocol (``FileSnapshotCatalog``, the default) and
    a real Iceberg catalog — whose ``commit()`` would be an Iceberg
    transaction (REST/Hive catalog compare-and-swap on the table metadata
    pointer) — are swappable without touching any merge/read logic.

    A snapshot is a plain dict: ``id``, ``parent``, ``buckets`` (bucket id
    -> list of data paths), ``committed_batches``, plus the persisted table
    config (``merge_keys``, ``order_col``, ``n_buckets``, ``merge_salts``,
    ``delete_where``) that ``MergeTable.open`` reads back.
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
    seconds of inactivity — via atomic rename, so of N concurrent stealers
    exactly one wins (the losers' renames raise) and a fresh lock acquired
    by a third writer in between can never be unlinked by a late stealer.
    A live writer stalled past ``lock_ttl`` inside the critical section
    (GC pause, slow network FS) re-verifies ownership (lock inode) right
    before publishing and aborts with CommitConflict if it was stolen —
    this NARROWS the window in which a stalled holder can race the
    stealer's check+swap (to the gap between the re-verify and the two
    renames) rather than eliminating it; a holder that stalls precisely
    inside that gap can still publish over the stealer. True elimination
    needs a compare-and-swap primitive the filesystem doesn't offer —
    that is exactly what a real Iceberg catalog ``commit()`` provides
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
        # The wait budget must EXCEED lock_ttl: a lock left by a crashed
        # writer only becomes stealable after lock_ttl of inactivity, so a
        # fixed attempt count shorter than that would make every commit
        # behind a crash raise CommitConflict (and merge(conflict_retries)
        # redo the full merge computation) until some attempt happened to
        # straddle the staleness boundary. Budget = 2x lock_ttl + 5 s:
        # enough to outlive the TTL, win the steal, and absorb contention.
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
                    # steal by atomic rename: exactly one stealer's rename
                    # succeeds, so two stealers can never both unlink-and-
                    # acquire, and a fresh third-party lock is untouchable
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
        raise CommitConflict(
            f"could not acquire {lock} — another writer is mid-commit"
        )

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
          touched bucket (merge cost O(batch), independent of table size —
          the Iceberg MOR pattern); winners are resolved at read time, and
          buckets holding more than ``compact_threshold`` files are
          compacted inside the next merge's commit. Best for micro-batch
          streaming where merge-apply latency is the headline metric.

        ``merge_salts``: sub-partition count for the merge-apply window (the
        north rule's salted repartitioning before merge-apply). The winner
        sort's parallelism is otherwise capped at ``n_buckets`` — at 100 TB
        with 32 buckets that is ~3 TB per sort partition. The salt is a
        *key-determined* hash (all rows of a merge key share a salt), so the
        per-key window stays correct while the sort fans out to
        ``n_buckets * merge_salts`` partitions. Sizing rule: buckets*salts ≈
        cluster cores * k. Default 1 = off.

        ``auto_expire_keep``: when set, every commit is followed by
        ``expire_snapshots(keep_last=auto_expire_keep)`` — the bounded-disk
        mode for long-running streams (a micro-batch stream otherwise
        accumulates one superseded copy of every touched bucket per merge).

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
        ``merge_salts`` / ``delete_where``, and guessing defaults instead
        (the old CLI behavior) silently resolves winners with the wrong
        key/order columns on any table built with non-default keys.

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
                            f"{k}={given!r} conflicts with the table's "
                            f"persisted {k}={persisted!r} (snapshot "
                            f"{snap['id']} at {root})"
                        )
                elif persisted is not None:
                    kwargs[k] = persisted
        kwargs = {k: v for k, v in kwargs.items() if v is not None}
        return cls(spark, root, catalog=cat, **kwargs)

    # ---------------- snapshot plumbing (via the catalog) ----------------

    @staticmethod
    def _attempt_token() -> str:
        """Per-attempt data-dir suffix: two writers racing the same next_id
        can both write files, but never into the same directory — the
        commit CAS then rejects the loser, whose orphan dir is reclaimed by
        ``expire_snapshots`` (it is referenced by no retained snapshot)."""
        return uuid.uuid4().hex[:6]

    def current_snapshot(self) -> dict | None:
        return self.catalog.current_snapshot()

    def snapshot_at(self, snapshot_id: int) -> dict:
        """Manifest of a specific snapshot — raises if it never existed or
        was reclaimed by ``expire_snapshots`` (time-travel horizon)."""
        return self.catalog.snapshot_at(snapshot_id)

    def history(self) -> list[dict]:
        """Retained snapshots, oldest first — the audit/observability view
        (Iceberg's ``snapshots`` metadata table): id, parent, batch count,
        file count, and whether it is the current pointer. Time-travel and
        ``changes_since`` cursors are valid exactly for the ids listed."""
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

    def _log_lineage(self, m: MergeMetrics) -> None:
        self.catalog.log_lineage(m.to_dict())

    def verify_integrity(self) -> dict:
        """Offline consistency check (the table 'fsck'): verifies the
        invariants the commit protocol promises, without running a single
        Spark job. Returns a report dict; ``ok`` is False iff a promise is
        BROKEN (missing referenced files, broken parent chain, shrinking
        batch sets). Unreferenced data dirs are NOT failures — they are the
        expected debris of crashed/lost OCC attempts, listed as
        ``orphan_dirs`` (reclaimed by ``expire_snapshots``).

        Run it after a crash, before trusting a restored backup, or as a
        periodic janitor assertion alongside the relay.
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

        referenced: set[str] = set()
        prev_batches: set[str] | None = None
        prev_id: int | None = None
        for i in sorted(ids):
            s = self.catalog.snapshot_at(i)
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
            for plist in s["buckets"].values():
                referenced.update(os.path.normpath(p) for p in plist)

        for p in sorted(referenced):
            if not os.path.isdir(p):
                report["missing_paths"].append(p)
                bad(f"referenced data path missing: {p}")

        data_root = os.path.join(self.root, "data")
        if os.path.isdir(data_root):
            for d in sorted(os.listdir(data_root)):
                dpath = os.path.join(data_root, d)
                if not os.path.isdir(dpath):
                    continue
                bdirs = [
                    os.path.normpath(os.path.join(dpath, b))
                    for b in os.listdir(dpath)
                    if os.path.isdir(os.path.join(dpath, b))
                ]
                if bdirs and not any(b in referenced for b in bdirs):
                    report["orphan_dirs"].append(d)
        return report

    def expire_snapshots(self, keep_last: int = 2) -> dict:
        """Delete snapshot manifests — and the data directories no retained
        snapshot references — the Iceberg ``expire_snapshots`` + ``vacuum``
        analog this table previously lacked (every COW merge strands the
        superseded copy of each touched bucket; a long stream grows the
        table's footprint linearly in merges, not in data).

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
        referenced: set[str] = set()
        for i in sorted(retained):
            s = self.catalog.snapshot_at(i)
            for plist in s["buckets"].values():
                referenced.update(os.path.normpath(p) for p in plist)
        data_root = os.path.join(self.root, "data")
        for d in sorted(os.listdir(data_root)):
            dpath = os.path.join(data_root, d)
            if not os.path.isdir(dpath):
                continue
            for b in sorted(os.listdir(dpath)):
                bpath = os.path.normpath(os.path.join(dpath, b))
                if os.path.isdir(bpath) and bpath not in referenced:
                    shutil.rmtree(bpath, ignore_errors=True)
                    stats["dirs_removed"] += 1
            # drop the snapshot dir once no bucket dirs remain (write-marker
            # files like _SUCCESS don't keep it alive)
            if not any(
                os.path.isdir(os.path.join(dpath, e)) for e in os.listdir(dpath)
            ):
                shutil.rmtree(dpath, ignore_errors=True)
        for i in ids:
            if i not in retained:
                self.catalog.remove_snapshot(i)
                stats["snapshots_removed"] += 1
        return stats

    # ---------------- read path ----------------

    def _bucket_expr(self, df: DataFrame):
        return F.pmod(F.xxhash64(*[F.col(k) for k in self.merge_keys]), F.lit(self.n_buckets))

    def _salt_expr(self):
        """Key-determined sub-partition salt: a second, independent hash of
        the merge key (seeded so it does not correlate with the bucket
        hash), pmod merge_salts — every row of a key maps to one salt."""
        return F.pmod(
            F.xxhash64(F.lit("__merge_salt"), *[F.col(k) for k in self.merge_keys]),
            F.lit(self.merge_salts),
        )

    def _resolve_winners(self, df: DataFrame, extra_order=()) -> DataFrame:
        """Latest row per merge key in ONE bucket-partitioned sort (see
        merge() §2): order by (keys, order_col desc, __snap desc, extras),
        keep the first row of every key run. With merge_salts > 1 the
        exchange/sort partitioning is (bucket, key-salt) — same correctness
        (keys never straddle salts), n_buckets*merge_salts-way parallel."""
        snap_ord = F.coalesce(F.col(_SNAP_COL), F.lit(-1)).desc()
        key_struct = F.struct(*[F.col(k) for k in self.merge_keys])
        parts = [F.col(_BUCKET_COL)]
        if self.merge_salts > 1:
            parts.append(self._salt_expr())
        w = Window.partitionBy(*parts).orderBy(
            *self.merge_keys, F.col(self.order_col).desc(), snap_ord, *extra_order
        )
        prev_key = F.lag(key_struct).over(w)
        return (
            df.withColumn(_RN_COL, prev_key.isNull() | (prev_key != key_struct))
            .filter(F.col(_RN_COL))
            .drop(_RN_COL)
        )

    def read(
        self, buckets: Sequence[int] | None = None, as_of: int | None = None
    ) -> DataFrame:
        """Current table state (snapshot-consistent). In MOR mode (any
        bucket holding delta files) superseded versions are resolved here.

        ``buckets`` prunes the scan to the given bucket ids — the
        lookup-side optimization for read-modify-write accumulates: a cycle
        touching k of N buckets reads k/N of the table, not all of it.

        ``as_of`` time-travels: read the table exactly as snapshot
        ``as_of`` committed it (a retained snapshot's file list IS that
        historical state — superseded files stay on disk until
        ``expire_snapshots`` reclaims them, which bounds the horizon)."""
        snap = self.current_snapshot() if as_of is None else self.snapshot_at(as_of)
        if snap is None or not any(snap["buckets"].values()):
            schema = ", ".join(f"`{k}` string" for k in self.merge_keys)
            return self.spark.createDataFrame([], schema)
        wanted = (
            snap["buckets"]
            if buckets is None
            else {str(b): snap["buckets"].get(str(b), []) for b in buckets}
        )
        paths = sorted({p for plist in wanted.values() for p in plist})
        if not paths:
            schema = ", ".join(f"`{k}` string" for k in self.merge_keys)
            return self.spark.createDataFrame([], schema)
        df = self.spark.read.option("mergeSchema", "true").parquet(*paths)
        if _SNAP_COL not in df.columns:
            return self._drop_tombstones(df)  # legacy files
        if any(len(v) > 1 for v in wanted.values()):
            df = df.withColumn(_BUCKET_COL, self._bucket_expr(df))
            df = self._resolve_winners(df)
        return self._drop_tombstones(df.drop(_SNAP_COL))

    def _delete_pred(self, df: DataFrame):
        """``delete_where`` as a null-safe boolean Column bound to ``df``,
        or None when ``df`` carries no binding for it (pre-evolution files
        read the op column as absent — nothing can be a tombstone yet).
        Only AnalysisException falls back; execution errors and type errors
        propagate loudly, and ALL three consumers (read, changes_since,
        purge) degrade identically instead of one raising and two
        swallowing (round-3 advice)."""
        if self.delete_where is None:
            return None
        pred = F.coalesce(F.expr(self.delete_where), F.lit(False))
        try:
            df.select(pred)  # analysis-only probe: no job runs
        except AnalysisException:
            return None
        return pred

    def _drop_tombstones(self, df: DataFrame) -> DataFrame:
        """Hide CDC-deleted rows from the visible state (see delete_where).
        Runs AFTER winner resolution: only a key whose *latest* row is a
        tombstone disappears. coalesce(False) keeps rows where the
        predicate is NULL (pre-evolution files lacking the op column)."""
        is_del = self._delete_pred(df)
        return df if is_del is None else df.filter(~is_del)

    def _snapshot_dir_id(self, path: str) -> int:
        """Snapshot id that wrote a data path, parsed from the path segment
        DIRECTLY UNDER the table's data dir. (A leftmost regex over the
        absolute path misparses table roots that themselves contain an
        ``/s<digits>…/`` segment — e.g. ``/mnt/s3-cache/…`` — resolving
        every file to the root's number and silently emptying
        ``changes_since``; round-3 advice.) Unparseable paths return a
        +inf sentinel so pruning degrades to scanning, never to dropping
        changes."""
        data_root = os.path.normpath(os.path.join(self.root, "data"))
        rel = os.path.relpath(os.path.normpath(path), data_root)
        seg = rel.replace(os.sep, "/").split("/", 1)[0]
        m = re.match(r"s(\d+)(?:-.*)?$", seg)
        return int(m.group(1)) if m else 1 << 62

    def changes_since(self, snapshot_id: int, as_of: int | None = None) -> DataFrame:
        """Net row-level changes committed AFTER ``snapshot_id`` — the
        CDC-out / incremental-consumption surface (Iceberg's incremental
        scan): each key that changed appears ONCE with its current row,
        plus ``_change_type`` = 'upsert' | 'delete' (tombstones are
        INCLUDED here — downstream consumers must see deletes — unlike
        ``read()``, which hides them).

        ``as_of`` pins the read to a specific retained snapshot, giving a
        closed range (snapshot_id, as_of] — the consumer-side contract
        ``CdcRelay`` needs (it names each shipped delta by the snapshot it
        read; an unpinned read could include rows from commits that land
        mid-poll and double-ship them; round-3 advice). Default: the
        current snapshot.

        Works because every row persists the snapshot id that wrote it
        (``__snap``), and winner resolution keeps the winner's own id: a
        key's current version carries exactly the snapshot that last
        changed it. Buckets whose files all predate ``snapshot_id`` are
        pruned from the scan by path (file dirs are ``s<id>/``), so the
        cost scales with changed buckets, not table size.
        """
        snap = self.current_snapshot() if as_of is None else self.snapshot_at(as_of)
        empty_schema = ", ".join(f"`{k}` string" for k in self.merge_keys)
        if snap is None or snapshot_id >= snap["id"]:
            return self.spark.createDataFrame([], empty_schema + ", `_change_type` string")

        # bucket pruning: a bucket can only hold post-sid winners if SOME
        # of its files were written after sid (conservative for -compact
        # dirs, whose rows keep their original __snap)
        wanted = {
            b: plist
            for b, plist in snap["buckets"].items()
            if any(self._snapshot_dir_id(p) > snapshot_id for p in plist)
        }
        paths = sorted({p for plist in wanted.values() for p in plist})
        if not paths:
            return self.spark.createDataFrame([], empty_schema + ", `_change_type` string")
        df = self.spark.read.option("mergeSchema", "true").parquet(*paths)
        if _SNAP_COL not in df.columns:
            return self.spark.createDataFrame([], empty_schema + ", `_change_type` string")
        df = df.withColumn(_BUCKET_COL, self._bucket_expr(df))
        out = self._resolve_winners(df).filter(F.col(_SNAP_COL) > snapshot_id)
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

        Rewrites only the buckets that actually hold purgeable tombstones
        (resolving winners first, so this doubles as a compaction of those
        buckets' delta chains in MOR mode) and commits a new snapshot;
        ``expire_snapshots`` reclaims the superseded files.
        """
        if self.delete_where is None:
            raise ValueError("purge_tombstones requires delete_where")
        t0 = time.time()
        snap = self.current_snapshot()
        stats = {"buckets_rewritten": 0, "tombstones_removed": 0, "snapshot_id": None}
        if snap is None:
            return stats
        paths = sorted({p for plist in snap["buckets"].values() for p in plist})
        if not paths:
            return stats
        df = self.spark.read.option("mergeSchema", "true").parquet(*paths)
        if _SNAP_COL not in df.columns:
            return stats
        df = df.withColumn(_BUCKET_COL, self._bucket_expr(df))
        is_del = self._delete_pred(df)
        if is_del is None:
            return stats  # no file carries the op column yet: no tombstones
        purgeable = is_del & (F.col(self.order_col) < F.lit(below_seq))
        # bounded collect: at most n_buckets rows
        hit = (
            df.filter(purgeable)
            .select(_BUCKET_COL)
            .groupBy(_BUCKET_COL)
            .count()
            .collect()
        )
        if not hit:
            return stats
        touched = sorted(int(r[0]) for r in hit)
        stats["tombstones_removed"] = int(sum(r[1] for r in hit))
        next_id = snap["id"] + 1
        sub = df.filter(F.col(_BUCKET_COL).isin(touched))
        rewritten = self._resolve_winners(sub).filter(~purgeable)
        out_dir = os.path.join(self.root, "data", f"s{next_id:06d}-purge-{self._attempt_token()}")
        rewritten.write.mode("overwrite").partitionBy(_BUCKET_COL).parquet(out_dir)
        new_buckets = dict(snap["buckets"])
        for b in touched:
            bpath = os.path.join(out_dir, f"{_BUCKET_COL}={b}")
            new_buckets[str(b)] = [bpath] if os.path.exists(bpath) else []
        snapshot = dict(snap)
        snapshot.update({"id": next_id, "parent": snap["id"], "buckets": new_buckets})
        try:
            self._commit(snapshot)
        except CommitConflict:
            # lost the OCC race: no snapshot references this attempt's dir
            shutil.rmtree(out_dir, ignore_errors=True)
            raise
        stats["buckets_rewritten"] = len(touched)
        stats["snapshot_id"] = next_id
        self._log_lineage(
            MergeMetrics(
                batch_id=f"purge-below-{below_seq}",
                snapshot_id=next_id,
                rows_in=0,
                rows_after_dedup=0,
                buckets_touched=len(touched),
                n_buckets=self.n_buckets,
                seconds=time.time() - t0,
                extra={"tombstones_removed": stats["tombstones_removed"]},
            )
        )
        if self.auto_expire_keep is not None:
            self.expire_snapshots(keep_last=self.auto_expire_keep)
        return stats

    def touched_buckets(self, df: DataFrame) -> list[int]:
        """Bucket ids a batch's keys hash into (column-pruned aggregate)."""
        rows = (
            df.select(self._bucket_expr(df).alias(_BUCKET_COL))
            .distinct()
            .collect()
        )
        return sorted(int(r[0]) for r in rows)

    def latest_state(self, keys: Sequence[str] | None = None) -> DataFrame:
        """Latest row per (sub)key by order_col — the 'current file content'
        view (the reference's wallet/token current-state collections).
        Defaults to the table's own merge keys minus the last (version)
        component, tie-broken by the remaining merge-key columns — so a
        table opened via ``MergeTable.open`` gets a correct view without
        the caller hard-coding repo/path/commit."""
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
        against the new current snapshot — an OCC loser can NEVER just
        re-point its stale files (they resolved against superseded state) —
        and the losing attempt's data dirs are reclaimed eagerly. Default 0
        (single-writer replay/stream paths surface the conflict loudly);
        concurrent multi-writer ingest passes a small positive number.
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
        committed = set(snap["committed_batches"]) if snap else set()
        next_id = (snap["id"] + 1) if snap else 0

        if batch_id in committed:
            m = MergeMetrics(batch_id, snap["id"], 0, 0, 0, self.n_buckets, time.time() - t0, noop=True)
            self._log_lineage(m)
            return m

        # 1. light pass — only a CoW merge into a table with files needs the
        #    touched buckets BEFORE the main pass (to union their existing
        #    rows). One column-pruned aggregation (only the merge-key
        #    columns are evaluated; Catalyst prunes the heavy normalize
        #    expressions upstream); partial map-side combine means only
        #    ~n_buckets rows ever shuffle. A MOR merge only appends and an
        #    empty table has nothing to union: both count rows_in with an
        #    Observation on the main pass and read the touched buckets off
        #    the written bucket dirs.
        old_buckets: dict[str, list[str]] = dict(snap["buckets"]) if snap else {}
        mor_append = self.mode == "mor"
        light_pass = not mor_append and any(old_buckets.values())
        existing_paths: list[str] = []
        if light_pass:
            bucket_stats = (
                batch.select(self._bucket_expr(batch).alias(_BUCKET_COL))
                .groupBy(_BUCKET_COL)
                .count()
                .collect()
            )
            touched = sorted(int(r[0]) for r in bucket_stats)
            rows_in = int(sum(r[1] for r in bucket_stats))
            existing_paths = [p for b in touched for p in old_buckets.get(str(b), [])]

        # 2. main pass — ONE shuffle, ONE sort: in-batch dedup and
        #    resolve-vs-existing are the same rule (latest order_col wins,
        #    incoming beats existing on ties — CDC replace_one semantics,
        #    mongo_db.py:72-83), so both collapse into a single window: hash-
        #    exchange by bucket (write-aligned), sort each partition by
        #    (bucket, key, order desc, is_new desc), keep the first row of
        #    every key run via lag(). All rows of a key share its bucket, so
        #    bucket-partitioning is correct for the per-key window.
        #    MOR mode skips the union entirely: only the deduped batch is
        #    written (as a delta per bucket) and supersession is left to
        #    read-time resolution — merge cost O(batch), not O(table).
        new_part = (
            batch.withColumn(_BUCKET_COL, self._bucket_expr(batch))
            .withColumn(_SNAP_COL, F.lit(next_id))
            .withColumn(_IS_NEW_COL, F.lit(1))
        )
        if not light_pass:
            rows_in_obs = Observation()
            new_part = new_part.observe(rows_in_obs, F.count(F.lit(1)).alias("rows_in"))
        if existing_paths:
            existing = self.spark.read.option("mergeSchema", "true").parquet(*existing_paths)
            # bucket value is derivable from the key; recompute rather
            # than trusting directory names (survives schema drift)
            existing = existing.withColumn(_BUCKET_COL, self._bucket_expr(existing))
            if _SNAP_COL not in existing.columns:
                existing = existing.withColumn(_SNAP_COL, F.lit(-1))
            existing = existing.withColumn(_IS_NEW_COL, F.lit(0))
            merged = new_part.unionByName(existing, allowMissingColumns=True)
        else:
            merged = new_part
        resolved = self._resolve_winners(
            merged, extra_order=(F.col(_IS_NEW_COL).desc(),)
        ).drop(_IS_NEW_COL)

        # 3. write files for touched buckets only; the data is already
        #    exchanged on the bucket column, so partitionBy writes straight
        #    out of the window's partitioning — no second shuffle
        out_dir = os.path.join(self.root, "data", f"s{next_id:06d}-{self._attempt_token()}")
        attempt_dirs = [out_dir]
        obs = Observation()
        resolved = resolved.observe(obs, F.count(F.lit(1)).alias("rows_out"))
        resolved.write.mode("overwrite").partitionBy(_BUCKET_COL).parquet(out_dir)
        if not light_pass:
            # every batch row has a winner, so the written bucket dirs are
            # exactly the buckets the batch touches
            prefix = f"{_BUCKET_COL}="
            touched = sorted(
                int(d[len(prefix):]) for d in os.listdir(out_dir) if d.startswith(prefix)
            )
            # an empty write may report no observed metrics: skip the wait
            rows_in = int(rows_in_obs.get["rows_in"]) if touched else 0
        rows_dedup = int(obs.get["rows_out"]) if touched else 0

        new_buckets = dict(old_buckets)
        for b in touched:
            bpath = os.path.join(out_dir, f"{_BUCKET_COL}={b}")
            if os.path.exists(bpath):
                if mor_append:
                    new_buckets[str(b)] = new_buckets.get(str(b), []) + [bpath]
                else:
                    new_buckets[str(b)] = [bpath]

        # 3b. auto-compaction (MOR): buckets whose delta chain grew past the
        #     threshold are rewritten to a single winners file inside this
        #     same commit, bounding read-time resolution cost
        if mor_append:
            overlong = {
                b: fs for b, fs in new_buckets.items() if len(fs) > self.compact_threshold
            }
            if overlong:
                cpaths = sorted({p for fs in overlong.values() for p in fs})
                cdf = self.spark.read.option("mergeSchema", "true").parquet(*cpaths)
                cdf = cdf.withColumn(_BUCKET_COL, self._bucket_expr(cdf))
                if _SNAP_COL not in cdf.columns:
                    cdf = cdf.withColumn(_SNAP_COL, F.lit(-1))
                compacted = self._resolve_winners(cdf)
                cdir = os.path.join(self.root, "data", f"s{next_id:06d}-compact-{self._attempt_token()}")
                attempt_dirs.append(cdir)
                compacted.write.mode("overwrite").partitionBy(_BUCKET_COL).parquet(cdir)
                for b in overlong:
                    bpath = os.path.join(cdir, f"{_BUCKET_COL}={b}")
                    if os.path.exists(bpath):
                        new_buckets[b] = [bpath]

        snapshot = {
            "id": next_id,
            "parent": snap["id"] if snap else None,
            "buckets": new_buckets,
            "committed_batches": sorted(committed | {batch_id}),
            "merge_keys": self.merge_keys,
            "order_col": self.order_col,
            "n_buckets": self.n_buckets,
            "merge_salts": self.merge_salts,
            "delete_where": self.delete_where,
        }
        try:
            self._commit(snapshot)
        except CommitConflict:
            # this attempt lost the OCC race: its files resolved winners
            # against a superseded base and are referenced by no snapshot
            # (unique attempt-token dirs) — reclaim them now instead of
            # waiting for expire_snapshots
            for d in attempt_dirs:
                shutil.rmtree(d, ignore_errors=True)
            raise
        if self.auto_expire_keep is not None:
            self.expire_snapshots(keep_last=self.auto_expire_keep)

        m = MergeMetrics(
            batch_id,
            next_id,
            rows_in,
            rows_dedup,
            len(touched),
            self.n_buckets,
            time.time() - t0,
        )
        self._log_lineage(m)
        return m
