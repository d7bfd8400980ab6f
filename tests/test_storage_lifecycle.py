"""Storage lifecycle: scratch-dir GC + MergeTable snapshot expiry.

The round-2 lesson this guards: a long-running stream that never deletes
superseded snapshot data (or operator scratch dirs) fills the disk, and a
near-full disk crashes shuffle writers / silently degrades timings. The
bounded-footprint test below runs a long merge churn and asserts the
on-disk file count stays flat instead of growing linearly in merges.
"""

import os

import pytest
from pyspark.sql import functions as F

from ethereum_etl_spark import scratch
from ethereum_etl_spark.plans.merge import MergeTable


def _du_files(root: str) -> int:
    n = 0
    for _, _, files in os.walk(root):
        n += len(files)
    return n


def _data_dirs(root: str) -> list[str]:
    return sorted(os.listdir(os.path.join(root, "data")))


def _batch(spark, i: int, n: int = 40):
    return (
        spark.range(n)
        .select(
            F.concat(F.lit("r"), (F.col("id") % 8).cast("string")).alias("repo"),
            F.concat(F.lit("p"), (F.col("id") % 20).cast("string")).alias("path"),
            F.concat(F.lit("c"), F.col("id").cast("string")).alias("commit"),
            (F.col("id") + i * 1000).alias("seq"),
        )
    )


class TestScratchManager:
    def test_materialize_tracks_and_releases(self, spark):
        df = spark.range(10).select(F.col("id"))
        out = scratch.materialize(df, "t_scratch_")
        assert out.count() == 10
        (d,) = [p for p in scratch.tracked_dirs() if "t_scratch_" in p]
        assert os.path.isdir(d)
        scratch.release(d)
        assert not os.path.exists(d)
        assert d not in scratch.tracked_dirs()

    def test_caller_owned_path_not_tracked(self, spark, tmp_path):
        own = str(tmp_path / "mine")
        out = scratch.materialize(spark.range(5), "ignored_", path=own)
        assert out.count() == 5
        assert own not in scratch.tracked_dirs()
        scratch.release(own)  # no-op on caller-owned storage
        assert os.path.isdir(own)

    def test_operators_leave_no_untracked_tmp(self, spark):
        """The four formerly-leaking operators now place every materialized
        dir under the tracked scratch root."""
        from ethereum_etl_spark.operators.dedup import (
            minhash_lsh_pairs,
            simhash_hamming_pairs,
        )

        docs = spark.range(30).select(
            F.col("id").cast("string").alias("doc_id"),
            F.concat(
                F.lit("the quick brown fox jumps over lazy dog number "),
                (F.col("id") % 5).cast("string"),
            ).alias("text"),
        )
        before = set(scratch.tracked_dirs())
        minhash_lsh_pairs(docs, "doc_id", "text").count()
        simhash_hamming_pairs(docs, "doc_id", "text").count()
        created = set(scratch.tracked_dirs()) - before
        assert created, "materializations should be tracked"
        for d in created:
            scratch.release(d)


class TestSnapshotExpiry:
    def test_expire_keeps_current_readable(self, spark, tmp_path):
        t = MergeTable(spark, str(tmp_path / "t"), n_buckets=4)
        for i in range(5):
            t.merge(_batch(spark, i), f"b{i}")
        assert len(_data_dirs(t.root)) == 5
        stats = t.expire_snapshots(keep_last=2)
        assert stats["snapshots_removed"] == 3
        # only the data dirs of the last 2 snapshots survive (COW rewrites
        # every touched bucket, so each snapshot references only its own dir)
        assert [d[:7] for d in _data_dirs(t.root)] == ["s000003", "s000004"]
        # table still reads the same final state
        rows = t.read()
        assert rows.count() == 40  # 8x20 key space truncated to 40 distinct
        # committed-batch idempotency info survives expiry
        m = t.merge(_batch(spark, 0), "b0")
        assert m.noop

    def test_expire_preserves_mor_delta_chains(self, spark, tmp_path):
        t = MergeTable(spark, str(tmp_path / "m"), n_buckets=2, mode="mor",
                       compact_threshold=100)
        for i in range(4):
            t.merge(_batch(spark, i), f"b{i}")
        before = t.read().count()
        # every delta file is referenced by the CURRENT snapshot in MOR —
        # expiry must remove old manifests but no live delta data
        stats = t.expire_snapshots(keep_last=1)
        assert stats["snapshots_removed"] == 3
        assert stats["dirs_removed"] == 0
        assert t.read().count() == before

    def test_auto_expire_bounds_footprint_under_churn(self, spark, tmp_path):
        """The long-run guarantee: 30 merges with auto_expire_keep=2 keep
        the number of data dirs (and files) flat, while the same churn
        without expiry grows linearly."""
        grower = MergeTable(spark, str(tmp_path / "g"), n_buckets=4)
        bounded = MergeTable(spark, str(tmp_path / "b"), n_buckets=4,
                             auto_expire_keep=2)
        n_merges = 30
        for i in range(n_merges):
            grower.merge(_batch(spark, i), f"b{i}")
            bounded.merge(_batch(spark, i), f"b{i}")
        assert len(_data_dirs(grower.root)) == n_merges
        assert len(_data_dirs(bounded.root)) <= 2
        assert _du_files(bounded.root) < _du_files(grower.root) / 5
        # identical final state
        a = {tuple(r) for r in grower.read().collect()}
        b = {tuple(r) for r in bounded.read().collect()}
        assert a == b

    def test_expire_noop_on_empty_table(self, spark, tmp_path):
        t = MergeTable(spark, str(tmp_path / "e"), n_buckets=4)
        assert t.expire_snapshots() == {"snapshots_removed": 0, "dirs_removed": 0}

    def test_auto_expire_keep_validation(self, spark, tmp_path):
        with pytest.raises(ValueError):
            MergeTable(spark, str(tmp_path / "v"), auto_expire_keep=0)


class TestTimeTravel:
    def test_read_as_of_returns_historical_state(self, spark, tmp_path):
        t = MergeTable(spark, str(tmp_path / "t"), n_buckets=4)
        t.merge(_batch(spark, 0, n=10), "b0")   # snapshot 0
        t.merge(_batch(spark, 1, n=25), "b1")   # snapshot 1: updates + inserts
        t.merge(_batch(spark, 2, n=40), "b2")   # snapshot 2
        assert t.read(as_of=0).count() == 10
        assert t.read(as_of=1).count() == 25
        assert t.read(as_of=2).count() == 40
        # as-of state is the state, not just the count: seqs are the b0 ones
        seqs = {r["seq"] for r in t.read(as_of=0).select("seq").collect()}
        assert seqs == set(range(10))
        # current read unchanged
        assert t.read().count() == 40

    def test_expired_snapshot_raises_clear_error(self, spark, tmp_path):
        t = MergeTable(spark, str(tmp_path / "t"), n_buckets=4)
        for i in range(4):
            t.merge(_batch(spark, i, n=10), f"b{i}")
        t.expire_snapshots(keep_last=2)
        with pytest.raises(ValueError, match="expired"):
            t.read(as_of=0)
        # retained horizon still readable
        assert t.read(as_of=3).count() == 10


class TestCommitConflict:
    def test_stale_base_commit_raises(self, spark, tmp_path):
        """A writer whose base snapshot was superseded must get a loud
        CommitConflict, never a silent lost update."""
        from ethereum_etl_spark.plans.merge import CommitConflict

        t1 = MergeTable(spark, str(tmp_path / "t"), n_buckets=4)
        t1.merge(_batch(spark, 0, n=10), "b0")        # snapshot 0
        t2 = MergeTable(spark, str(tmp_path / "t"), n_buckets=4)
        base = t2.current_snapshot()                  # both handles see id 0
        t1.merge(_batch(spark, 1, n=10), "b1")        # t1 advances to 1
        stale = dict(base)
        stale.update({"id": 1, "parent": base["id"],
                      "loser_marker": True})  # t2's would-be commit
        with pytest.raises(CommitConflict, match="superseded"):
            t2._commit(stale)
        # the winner's state is intact — including its snapshot MANIFEST:
        # the loser shares next_id=1 and must not clobber snapshots/1.json
        cur = t1.current_snapshot()
        assert cur["id"] == 1 and "loser_marker" not in cur
        assert "b1" in cur["committed_batches"]
        assert t1.read().count() == 10

    def test_sequential_multi_handle_writers_ok(self, spark, tmp_path):
        """Non-overlapping writers through separate handles are fine: each
        reads the latest snapshot before committing."""
        t1 = MergeTable(spark, str(tmp_path / "t"), n_buckets=4)
        t2 = MergeTable(spark, str(tmp_path / "t"), n_buckets=4)
        t1.merge(_batch(spark, 0, n=10), "b0")
        t2.merge(_batch(spark, 1, n=20), "b1")
        t1.merge(_batch(spark, 2, n=30), "b2")
        assert t1.current_snapshot()["id"] == 2
        assert t2.read().count() == 30

    def test_stale_lock_is_stolen(self, spark, tmp_path):
        """A lock file left by a crashed writer must not wedge the table."""
        t = MergeTable(spark, str(tmp_path / "t"), n_buckets=4)
        lock = os.path.join(t.root, "manifest.lock")
        open(lock, "w").close()
        os.utime(lock, (1, 1))  # ancient mtime -> stale
        t.merge(_batch(spark, 0, n=10), "b0")
        assert t.read().count() == 10 and not os.path.exists(lock)

    def test_racing_writers_never_share_a_data_dir(self, spark, tmp_path):
        """Unique per-attempt dirs: even same-next-id attempts cannot
        clobber each other's files (orphans are expired later)."""
        t = MergeTable(spark, str(tmp_path / "t"), n_buckets=4)
        t.merge(_batch(spark, 0, n=10), "b0")
        t.merge(_batch(spark, 1, n=10), "b1")
        dirs = _data_dirs(t.root)
        assert len(dirs) == len(set(dirs)) == 2
        assert all(len(d) > 7 and d[7] == "-" for d in dirs), dirs


def test_history_lists_retained_snapshots(spark, tmp_path):
    t = MergeTable(spark, str(tmp_path / "t"), n_buckets=4)
    for i in range(4):
        t.merge(_batch(spark, i, n=10), f"b{i}")
    h = t.history()
    assert [s["id"] for s in h] == [0, 1, 2, 3]
    assert [s["parent"] for s in h] == [None, 0, 1, 2]
    assert [s["is_current"] for s in h] == [False, False, False, True]
    assert h[-1]["n_batches"] == 4 and h[-1]["n_files"] > 0
    t.expire_snapshots(keep_last=2)
    assert [s["id"] for s in t.history()] == [2, 3]
