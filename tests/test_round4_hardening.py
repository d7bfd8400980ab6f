"""Round-4 hardening: the commit-protocol catalog seam, manifest-driven
table opening, path-robust CDC bucket pruning, consistent tombstone
degradation, and CdcRelay crash-orphan reclamation / snapshot pinning.

Each test pins one of the round-3 advice findings:
- changes_since bucket pruning must parse snapshot ids relative to the
  table's data dir (a table root containing '/s3-cache/'-like segments
  must not empty the delta feed)
- the stale-lock steal must be single-winner (atomic rename) and a
  stalled holder whose lock was stolen must abort, not publish
- delete_where degradation must be identical (and AnalysisException-only)
  across read / changes_since / purge_tombstones
- CLI-style readers must take merge_keys/order_col/n_buckets from the
  table's own snapshot manifest (MergeTable.open), not guessed defaults
- CdcRelay must reclaim crash orphans and pin each delta to the snapshot
  captured at poll start
"""

import json
import os

import pytest

from ethereum_etl_spark.plans.merge import (
    CommitConflict,
    FileSnapshotCatalog,
    MergeTable,
)
from ethereum_etl_spark.streaming.relay import CdcRelay

KEYS = ["repo", "path", "commit"]


def _mk(spark, rows, with_op=True):
    schema = "seq long, repo string, path string, commit string, content string" + (
        ", op string" if with_op else ""
    )
    return spark.createDataFrame(rows, schema)


def _wallet_table(spark, root):
    """A table with NON-default keys/order — the shape the CLI used to
    silently mis-read with guessed (repo,path,commit)/seq defaults."""
    t = MergeTable(
        spark, root, merge_keys=("address", "token"), order_col="at_block",
        n_buckets=8, merge_salts=2, delete_where="op = 'd'",
    )
    df = spark.createDataFrame(
        [(1, "a1", "tokA", "10", "u"), (2, "a1", "tokA", "20", "u"),
         (3, "a2", "tokB", "5", "u")],
        "at_block long, address string, token string, balance string, op string",
    )
    t.merge(df, "b0")
    return t


# ---------------- FileSnapshotCatalog: lock steal + ownership ----------------

class TestCatalogLock:
    def _catalog(self, tmp_path, ttl=0.05):
        return FileSnapshotCatalog(str(tmp_path / "t"), lock_ttl=ttl)

    def _snap(self, i, parent):
        return {"id": i, "parent": parent, "buckets": {}, "committed_batches": []}

    def test_commit_and_cas(self, tmp_path):
        cat = self._catalog(tmp_path)
        cat.commit(self._snap(0, None))
        cat.commit(self._snap(1, 0))
        assert cat.current_snapshot()["id"] == 1
        with pytest.raises(CommitConflict, match="superseded"):
            cat.commit(self._snap(1, None))  # stale base

    def test_stale_lock_stolen_by_rename(self, tmp_path):
        cat = self._catalog(tmp_path)
        lock = os.path.join(cat.root, "manifest.lock")
        open(lock, "w").close()
        os.utime(lock, (1, 1))  # ancient -> stale
        cat.commit(self._snap(0, None))  # must steal and proceed
        assert cat.current_snapshot()["id"] == 0
        assert not os.path.exists(lock)
        # no stale graves left behind
        assert not [f for f in os.listdir(cat.root) if ".stale-" in f]

    def test_stalled_holder_aborts_after_steal(self, tmp_path, monkeypatch):
        """Crash-injection for the lost-update window: a holder stalled
        past lock_ttl whose lock was stolen must raise CommitConflict
        instead of publishing over the stealer's commit."""
        cat = self._catalog(tmp_path)
        cat.commit(self._snap(0, None))
        stealer = FileSnapshotCatalog(cat.root, lock_ttl=0.05)
        orig = cat._write_temp_files

        def stall_then_stolen(snapshot, spath, mp):
            # while "we" are stalled inside the critical section, a second
            # writer times us out, steals the lock, and commits snapshot 1
            import time
            time.sleep(0.1)  # exceed lock_ttl
            stealer.commit({"id": 1, "parent": 0, "buckets": {},
                            "committed_batches": [], "winner": True})
            return orig(snapshot, spath, mp)

        monkeypatch.setattr(cat, "_write_temp_files", stall_then_stolen)
        with pytest.raises(CommitConflict, match="stolen|superseded"):
            cat.commit({"id": 1, "parent": 0, "buckets": {},
                        "committed_batches": [], "winner": False})
        cur = cat.current_snapshot()
        assert cur["id"] == 1 and cur.get("winner") is True
        # no temp litter from the aborted publish
        assert not [f for f in os.listdir(cat.root) if ".tmp-" in f]

    def test_fresh_lock_not_stolen(self, tmp_path, monkeypatch):
        """A recently-touched lock is a live writer: acquisition must time
        out with CommitConflict, never unlink it. A fake clock runs the
        whole 2 x lock_ttl + 5 s wait budget at once; each of its sleeps
        re-touches the lock, as the live holder would."""
        from types import SimpleNamespace

        from ethereum_etl_spark.plans import merge as merge_mod

        cat = self._catalog(tmp_path, ttl=60.0)
        lock = os.path.join(cat.root, "manifest.lock")
        open(lock, "w").close()  # fresh mtime -> live holder
        start = os.path.getmtime(lock)
        now = [start]

        def sleep(seconds):
            now[0] += seconds
            os.utime(lock, (now[0], now[0]))

        monkeypatch.setattr(
            merge_mod, "time", SimpleNamespace(time=lambda: now[0], sleep=sleep)
        )
        with pytest.raises(CommitConflict, match="mid-commit"):
            cat.commit(self._snap(0, None))
        assert now[0] - start >= 2 * 60.0 + 5.0  # the budget was waited out
        assert os.path.exists(lock)  # untouched
        assert cat.current_snapshot() is None


# ---------------- MergeTable.open: manifest-driven config ----------------

class TestOpenFromManifest:
    def test_open_reads_persisted_config(self, spark, tmp_path):
        root = str(tmp_path / "w")
        _wallet_table(spark, root)
        t = MergeTable.open(spark, root)
        assert list(t.merge_keys) == ["address", "token"]
        assert t.order_col == "at_block"
        assert t.n_buckets == 8
        assert t.merge_salts == 2
        assert t.delete_where == "op = 'd'"
        # winner resolution uses the RIGHT keys: a1/tokA resolves to block 2
        vis = {(r["address"], r["token"]): r["balance"]
               for r in t.read().collect()}
        assert vis == {("a1", "tokA"): "20", ("a2", "tokB"): "5"}

    def test_open_default_latest_state_uses_table_keys(self, spark, tmp_path):
        root = str(tmp_path / "w")
        _wallet_table(spark, root)
        t = MergeTable.open(spark, root)
        # merge_keys minus the last component -> address; one row per address
        rows = {r["address"]: r["balance"] for r in t.latest_state().collect()}
        assert rows == {"a1": "20", "a2": "5"}

    def test_open_conflicting_kwargs_raise(self, spark, tmp_path):
        root = str(tmp_path / "w")
        _wallet_table(spark, root)
        with pytest.raises(ValueError, match="n_buckets.*conflicts"):
            MergeTable.open(spark, root, n_buckets=32)
        with pytest.raises(ValueError, match="merge_keys.*conflicts"):
            MergeTable.open(spark, root, merge_keys=("repo", "path"))

    def test_open_matching_kwargs_ok(self, spark, tmp_path):
        root = str(tmp_path / "w")
        _wallet_table(spark, root)
        t = MergeTable.open(spark, root, n_buckets=8,
                            merge_keys=("address", "token"))
        assert t.read().count() == 2

    def test_open_empty_table_uses_defaults(self, spark, tmp_path):
        t = MergeTable.open(spark, str(tmp_path / "empty"), n_buckets=4)
        assert t.n_buckets == 4 and list(t.merge_keys) == ["repo", "path", "commit"]

    def test_open_persists_delete_where_for_changes_since(self, spark, tmp_path):
        """The CDC-out reader must classify deletes without the caller
        re-passing delete_where (it lives in the manifest now)."""
        root = str(tmp_path / "w")
        w = _wallet_table(spark, root)
        w.merge(
            spark.createDataFrame(
                [(4, "a2", "tokB", None, "d")],
                "at_block long, address string, token string, balance string, op string",
            ),
            "b1",
        )
        t = MergeTable.open(spark, root)
        ch = {(r["address"], r["token"]): r["_change_type"]
              for r in t.changes_since(0).collect()}
        assert ch == {("a2", "tokB"): "delete"}


# ---------------- changes_since: path-robust bucket pruning ----------------

class TestDirIdParsing:
    def test_snapshot_dir_id_relative_to_data_root(self, spark, tmp_path):
        # table root itself contains an s<digits> segment — the leftmost-
        # regex bug resolved EVERY file to 3 and emptied the delta feed
        root = str(tmp_path / "s3-cache" / "mnt" / "t")
        t = MergeTable(spark, root, merge_keys=KEYS, n_buckets=4)
        p = os.path.join(root, "data", "s000007-ab12cd", "__bucket=3", "x.parquet")
        assert t._snapshot_dir_id(p) == 7
        # unparseable layout degrades to scan (+inf), never to drop
        assert t._snapshot_dir_id(os.path.join(root, "data", "junk", "x.parquet")) > 10**9

    def test_changes_since_correct_under_hostile_root(self, spark, tmp_path):
        root = str(tmp_path / "s1" / "t")  # hostile: '/s1/' segment in root
        t = MergeTable(spark, root, merge_keys=KEYS, n_buckets=4)
        t.merge(_mk(spark, [(1, "r", "a.py", "c1", "v1", "u")]), "b0")  # snap 0
        t.merge(_mk(spark, [(2, "r", "b.py", "c2", "v2", "u")]), "b1")  # snap 1
        delta = t.changes_since(0)
        rows = [(r["path"], r["_change_type"]) for r in delta.collect()]
        assert rows == [("b.py", "upsert")], (
            "bucket pruning must not silently drop changes when the table "
            "root contains an s<digits> path segment"
        )


# ---------------- delete_where: consistent narrow degradation ----------------

class TestDeletePredDegradation:
    def test_absent_column_degrades_identically(self, spark, tmp_path):
        """Pre-evolution table (no op column anywhere): read keeps rows,
        changes_since classifies everything upsert, purge reports zero —
        none of the three raises."""
        t = MergeTable(
            spark, str(tmp_path / "t"), merge_keys=KEYS, n_buckets=4,
            delete_where="op = 'd'",
        )
        t.merge(_mk(spark, [(1, "r", "a.py", "c1", "v1")], with_op=False), "b0")
        assert t.read().count() == 1
        ch = t.changes_since(-1).collect()
        assert [r["_change_type"] for r in ch] == ["upsert"]
        stats = t.purge_tombstones(below_seq=10**9)
        assert stats["tombstones_removed"] == 0

    def test_runtime_error_predicate_propagates(self, spark, tmp_path):
        """Only AnalysisException falls back: a predicate that analyzes
        fine but fails at runtime must raise loudly, not silently disable
        tombstone filtering."""
        t = MergeTable(
            spark, str(tmp_path / "t"), merge_keys=KEYS, n_buckets=4,
            delete_where="raise_error('boom') IS NULL",
        )
        t.merge(_mk(spark, [(1, "r", "a.py", "c1", "v1", "u")]), "b0")
        with pytest.raises(Exception, match="boom"):
            t.read().collect()


# ---------------- CdcRelay: orphans + snapshot pinning ----------------

class TestRelayHardening:
    def _table(self, spark, tmp_path):
        t = MergeTable(
            spark, str(tmp_path / "t"), merge_keys=KEYS, n_buckets=4,
            delete_where="op = 'd'",
        )
        t.merge(_mk(spark, [(1, "r", "a.py", "c1", "v1", "u")]), "b0")
        return t

    def test_crash_orphan_reclaimed_on_next_poll(self, spark, tmp_path, monkeypatch):
        t = self._table(spark, tmp_path)
        out = str(tmp_path / "out")
        relay = CdcRelay(t, out, str(tmp_path / "cursor.json"))

        # crash INJECTION: die after the delta write, before the cursor commit
        def boom(_sid):
            raise RuntimeError("crash before cursor commit")

        monkeypatch.setattr(relay, "_commit_cursor", boom)
        with pytest.raises(RuntimeError):
            relay.poll_once()
        orphans = [d for d in os.listdir(out) if d.startswith("delta-")]
        assert len(orphans) == 1 and relay.cursor() == -1  # written, uncommitted

        # recovery: a fresh relay reclaims the orphan, then re-ships
        monkeypatch.undo()
        relay2 = CdcRelay(t, out, str(tmp_path / "cursor.json"))
        removed = relay2.sweep_orphans()
        assert removed == orphans
        r = relay2.poll_once()
        assert r is not None and relay2.cursor() == r["to_snapshot"]
        dirs = [d for d in os.listdir(out) if d.startswith("delta-")]
        assert len(dirs) == 1  # exactly the committed delta, no dead output

    def test_poll_reclaims_orphans_itself(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        out = str(tmp_path / "out")
        relay = CdcRelay(t, out, str(tmp_path / "cursor.json"))
        # hand-plant an orphan (range-end far past any commit)
        os.makedirs(os.path.join(out, "delta-000000-000099"))
        r = relay.poll_once()
        assert r is not None
        assert not os.path.exists(os.path.join(out, "delta-000000-000099"))
        # committed dirs (range-end <= cursor) are never swept
        assert relay.sweep_orphans() == []

    def test_mid_poll_commit_not_leaked_into_delta(self, spark, tmp_path, monkeypatch):
        """A writer committing between the relay's snapshot capture and its
        changes_since read must land in the NEXT delta, not this one."""
        t = self._table(spark, tmp_path)  # snapshot 0
        out = str(tmp_path / "out")
        relay = CdcRelay(t, out, str(tmp_path / "cursor.json"))

        orig = t.changes_since

        def racy_changes_since(last, as_of=None):
            # the mid-poll commit: snapshot 1 lands AFTER poll_once captured
            # snapshot 0 but BEFORE the read
            if t.current_snapshot()["id"] == 0:
                t.merge(_mk(spark, [(2, "r", "b.py", "c2", "v2", "u")]), "b1")
            return orig(last, as_of=as_of)

        monkeypatch.setattr(t, "changes_since", racy_changes_since)
        r1 = relay.poll_once()
        assert r1["to_snapshot"] == 0
        shipped1 = {r["path"] for r in spark.read.parquet(r1["out"]).collect()}
        assert shipped1 == {"a.py"}, "mid-poll commit leaked into pinned delta"

        monkeypatch.undo()
        r2 = relay.poll_once()
        assert r2["from_snapshot"] == 0 and r2["to_snapshot"] == 1
        shipped2 = {r["path"] for r in spark.read.parquet(r2["out"]).collect()}
        assert shipped2 == {"b.py"}, "mid-poll commit must ship exactly once"

    def test_changes_since_as_of_pins_range(self, spark, tmp_path):
        t = self._table(spark, tmp_path)                                   # snap 0
        t.merge(_mk(spark, [(2, "r", "b.py", "c2", "v2", "u")]), "b1")     # snap 1
        t.merge(_mk(spark, [(3, "r", "c.py", "c3", "v3", "u")]), "b2")     # snap 2
        pinned = {r["path"] for r in t.changes_since(0, as_of=1).collect()}
        assert pinned == {"b.py"}
        unpinned = {r["path"] for r in t.changes_since(0).collect()}
        assert unpinned == {"b.py", "c.py"}


# ---------------- CLI reader subcommands honor the manifest ----------------

def test_cli_latest_state_uses_manifest_config(spark, tmp_path, capsys):
    """latest-state via the CLI on a non-default-keyed table: guessed
    (repo,path,commit)/seq defaults would raise (or mis-resolve); the
    manifest-driven open must produce the per-address view."""
    from ethereum_etl_spark import cli

    root = str(tmp_path / "w")
    _wallet_table(spark, root)
    out = str(tmp_path / "latest_out")
    rc = cli.main(["latest-state", "--table", root, "--out", out])
    assert rc == 0
    rows = {r["address"]: r["balance"] for r in spark.read.parquet(out).collect()}
    assert rows == {"a1": "20", "a2": "5"}
    payload = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert payload["out"] == out


# ---------------- OCC merge retry + table fsck ----------------

def _batch(spark, i, n=10):
    rows = [(i * 1000 + j, f"r{j % 3}", f"f{j}.py", f"c{i}_{j}", f"v{i}") for j in range(n)]
    return spark.createDataFrame(
        rows, "seq long, repo string, path string, commit string, content string"
    )


class TestMergeConflictRetry:
    def test_retry_recomputes_against_new_base(self, spark, tmp_path, monkeypatch):
        """An OCC loser with conflict_retries redoes the merge against the
        racing winner's snapshot — final state contains BOTH writers' rows,
        and the losing attempt's data dir is reclaimed eagerly."""
        root = str(tmp_path / "t")
        t1 = MergeTable(spark, root, n_buckets=4)
        t2 = MergeTable(spark, root, n_buckets=4)
        t1.merge(_batch(spark, 0), "b0")

        orig_commit = t2.catalog.commit
        raced = {"done": False}

        def racy_commit(snapshot):
            if not raced["done"]:
                raced["done"] = True
                t1.merge(_batch(spark, 1), "race")  # lands first -> conflict
            return orig_commit(snapshot)

        monkeypatch.setattr(t2.catalog, "commit", racy_commit)
        m = t2.merge(_batch(spark, 2), "b2", conflict_retries=2)
        assert m.snapshot_id == 2 and not m.noop
        cur = t2.current_snapshot()
        assert set(cur["committed_batches"]) == {"b0", "race", "b2"}
        assert t2.read().count() == 30
        # losing attempt's dir reclaimed: exactly one data dir per commit
        data_dirs = os.listdir(os.path.join(root, "data"))
        assert len(data_dirs) == 3, data_dirs

    def test_no_retry_by_default(self, spark, tmp_path, monkeypatch):
        from ethereum_etl_spark.plans.merge import CommitConflict

        root = str(tmp_path / "t")
        t1 = MergeTable(spark, root, n_buckets=4)
        t2 = MergeTable(spark, root, n_buckets=4)
        t1.merge(_batch(spark, 0), "b0")
        orig_commit = t2.catalog.commit
        raced = {"done": False}

        def racy_commit(snapshot):
            if not raced["done"]:
                raced["done"] = True
                t1.merge(_batch(spark, 1), "race")
            return orig_commit(snapshot)

        monkeypatch.setattr(t2.catalog, "commit", racy_commit)
        with pytest.raises(CommitConflict):
            t2.merge(_batch(spark, 2), "b2")


class TestVerifyIntegrity:
    def test_clean_table_passes(self, spark, tmp_path):
        t = MergeTable(spark, str(tmp_path / "t"), n_buckets=4)
        assert t.verify_integrity()["ok"]  # empty: trivially consistent
        for i in range(3):
            t.merge(_batch(spark, i), f"b{i}")
        rep = t.verify_integrity()
        assert rep["ok"] and not rep["issues"]
        assert rep["snapshots"] == 3 and rep["current_snapshot"] == 2
        assert rep["orphan_dirs"] == [] and rep["dangling_snapshots"] == []

    def test_orphan_attempt_dir_reported_not_failed(self, spark, tmp_path):
        t = MergeTable(spark, str(tmp_path / "t"), n_buckets=4)
        t.merge(_batch(spark, 0), "b0")
        os.makedirs(os.path.join(t.root, "data", "s000099-deadbe", "__bucket=0"))
        rep = t.verify_integrity()
        assert rep["ok"] and rep["orphan_dirs"] == ["s000099-deadbe"]

    def test_missing_referenced_path_fails(self, spark, tmp_path):
        import shutil

        t = MergeTable(spark, str(tmp_path / "t"), n_buckets=4)
        t.merge(_batch(spark, 0), "b0")
        victim = next(iter(t.current_snapshot()["buckets"].values()))[0]
        shutil.rmtree(victim)
        rep = t.verify_integrity()
        assert not rep["ok"] and rep["missing_paths"]

    def test_dangling_snapshot_beyond_pointer_reported(self, spark, tmp_path):
        t = MergeTable(spark, str(tmp_path / "t"), n_buckets=4)
        t.merge(_batch(spark, 0), "b0")
        # crash debris: snapshot manifest written, pointer never swapped
        dangle = dict(t.current_snapshot(), id=1, parent=0)
        with open(os.path.join(t.root, "snapshots", "1.json"), "w") as f:
            json.dump(dangle, f)
        rep = t.verify_integrity()
        assert rep["ok"] and rep["dangling_snapshots"] == [1]

    def test_cli_fsck_exit_codes(self, spark, tmp_path, capsys):
        import shutil

        from ethereum_etl_spark import cli

        root = str(tmp_path / "t")
        t = MergeTable(spark, root, n_buckets=4)
        t.merge(_batch(spark, 0), "b0")
        assert cli.main(["fsck", "--table", root]) == 0
        capsys.readouterr()
        victim = next(iter(t.current_snapshot()["buckets"].values()))[0]
        shutil.rmtree(victim)
        assert cli.main(["fsck", "--table", root]) == 1
        rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert not rep["ok"] and rep["missing_paths"]


def test_cli_relay_drains_and_resumes(spark, tmp_path, capsys):
    from ethereum_etl_spark import cli

    root = str(tmp_path / "t")
    t = MergeTable(spark, root, merge_keys=KEYS, n_buckets=4)
    t.merge(_mk(spark, [(1, "r", "a.py", "c1", "v1", "u")]), "b0")
    t.merge(_mk(spark, [(2, "r", "b.py", "c2", "v2", "u")]), "b1")
    out, cur = str(tmp_path / "feed"), str(tmp_path / "cursor.json")
    rc = cli.main(["relay", "--table", root, "--out", out, "--cursor", cur])
    assert rc == 0
    payload = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert payload["cursor"] == 1 and len(payload["shipped"]) == 1
    # resume: nothing new -> nothing shipped, cursor unchanged
    rc = cli.main(["relay", "--table", root, "--out", out, "--cursor", cur])
    assert rc == 0
    payload = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert payload["shipped"] == [] and payload["cursor"] == 1


def test_cli_full_lifecycle(spark, tmp_path, capsys):
    """One operator's-eye walkthrough of the whole CLI surface on a single
    table: datagen -> replay -> fsck -> history -> relay -> changes-since
    (pinned) -> latest-state -> vacuum -> fsck. Pins that the subcommands
    compose — each reads the state the previous one wrote."""
    from ethereum_etl_spark import cli

    def run(args):
        rc = cli.main(args)
        out = capsys.readouterr().out.strip().splitlines()[-1]
        return rc, json.loads(out)

    log = str(tmp_path / "log")
    table = str(tmp_path / "table")
    rc, d = run(["datagen", "--out", log, "--rows", "2000", "--partitions", "4"])
    assert rc == 0 and d["written"] == 2000

    rc, d = run(["replay", "--source", log, "--table", table,
                 "--start", "0", "--end", "1999", "--partition-size", "1000"])
    assert rc == 0 and d["change_events"] == 2000

    rc, d = run(["fsck", "--table", table])
    assert rc == 0 and d["ok"] and d["snapshots"] == 2

    rc, hist = run(["history", "--table", table])
    assert rc == 0 and [s["id"] for s in hist] == [0, 1]

    feed, cur = str(tmp_path / "feed"), str(tmp_path / "cursor.json")
    rc, d = run(["relay", "--table", table, "--out", feed, "--cursor", cur])
    assert rc == 0 and d["cursor"] == 1 and len(d["shipped"]) == 1
    shipped = spark.read.parquet(d["shipped"][0]["out"])
    assert shipped.count() == 2000  # full net state since cursor -1

    delta_out = str(tmp_path / "delta")
    rc, d = run(["changes-since", "--table", table, "--snapshot", "0",
                 "--out", delta_out, "--as-of", "1"])
    assert rc == 0 and d["current_snapshot"] == 1
    assert spark.read.parquet(delta_out).count() == 1000  # second batch only

    latest_out = str(tmp_path / "latest")
    rc, d = run(["latest-state", "--table", table, "--out", latest_out])
    assert rc == 0
    latest = spark.read.parquet(latest_out)
    assert 0 < latest.count() <= 2000

    rc, d = run(["vacuum", "--table", table, "--keep-last", "1"])
    assert rc == 0 and d["snapshots_removed"] == 1

    rc, d = run(["fsck", "--table", table])
    assert rc == 0 and d["ok"] and d["snapshots"] == 1


class _MemoryCatalog:
    """A from-scratch SnapshotCatalog living entirely in memory — the
    stand-in for an Iceberg REST/Hive catalog transaction. If MergeTable
    truly does all snapshot-metadata I/O through the seam, a full
    merge/read/changes_since/time-travel/expire cycle must work with NO
    manifest.json, snapshots/ dir, or lock file ever appearing on disk."""

    def __init__(self):
        self.snapshots: dict[int, dict] = {}
        self.pointer: int | None = None
        self.lineage: list[dict] = []

    def current_snapshot(self):
        return None if self.pointer is None else self.snapshots[self.pointer]

    def snapshot_at(self, snapshot_id):
        if snapshot_id not in self.snapshots:
            raise ValueError(f"snapshot {snapshot_id} does not exist or has been expired")
        return self.snapshots[snapshot_id]

    def snapshot_ids(self):
        return sorted(self.snapshots)

    def commit(self, snapshot):
        if snapshot.get("parent") != self.pointer:
            raise CommitConflict(
                f"base snapshot {snapshot.get('parent')} was superseded by {self.pointer}"
            )
        self.snapshots[snapshot["id"]] = snapshot
        self.pointer = snapshot["id"]

    def remove_snapshot(self, snapshot_id):
        del self.snapshots[snapshot_id]

    def log_lineage(self, record):
        self.lineage.append(record)


def test_merge_table_runs_on_injected_catalog(spark, tmp_path):
    from ethereum_etl_spark.plans.merge import SnapshotCatalog

    assert set(dir(SnapshotCatalog)) >= {
        "current_snapshot", "snapshot_at", "snapshot_ids",
        "commit", "remove_snapshot", "log_lineage",
    }
    cat = _MemoryCatalog()
    root = str(tmp_path / "t")
    t = MergeTable(spark, root, merge_keys=KEYS, n_buckets=4,
                   delete_where="op = 'd'", catalog=cat)
    t.merge(_mk(spark, [(1, "r", "a.py", "c1", "v1", "u")]), "b0")
    t.merge(_mk(spark, [(2, "r", "b.py", "c2", "v2", "u"),
                        (3, "r", "a.py", "c1", None, "d")]), "b1")
    # full read/CDC surface against the injected catalog
    assert {r["path"] for r in t.read().collect()} == {"b.py"}
    assert {r["path"] for r in t.read(as_of=0).collect()} == {"a.py"}
    ch = {(r["path"], r["_change_type"]) for r in t.changes_since(0).collect()}
    assert ch == {("b.py", "upsert"), ("a.py", "delete")}
    assert [s["id"] for s in t.history()] == [0, 1]
    assert len(cat.lineage) == 2 and cat.pointer == 1
    # idempotent redo is a catalog-level noop
    m = t.merge(_mk(spark, [(1, "r", "a.py", "c1", "v1", "u")]), "b0")
    assert m.noop
    # expire flows through remove_snapshot on the injected catalog
    t.merge(_mk(spark, [(4, "r", "c.py", "c3", "v3", "u")]), "b2")
    t.expire_snapshots(keep_last=1)
    assert cat.snapshot_ids() == [2]
    # NOTHING of the file protocol ever touched disk
    assert not os.path.exists(os.path.join(root, "manifest.json"))
    assert not os.path.exists(os.path.join(root, "manifest.lock"))
    assert not os.listdir(os.path.join(root, "snapshots")) if os.path.isdir(
        os.path.join(root, "snapshots")) else True
    assert not os.path.exists(os.path.join(root, "lineage.jsonl"))
