"""``changes_since`` reads only the data dirs written after the cursor
(plus an older dir when its manifest ``order_col`` bounds say it may hold
a row that beats a newer one), and skips the winner sort when each bucket
reads one dir.

The oracle is the full-scan formulation it replaced: every dir of each
bucket that holds a post-cursor dir, winners resolved, then filtered on
``__snap``. Pruned and full results must be equal, rows and
``_change_type``, in every case below."""

import json
import os
from urllib.parse import urlparse

import pytest
from pyspark.sql import functions as F

from ethereum_etl_spark.plans.merge import MergeTable
from ethereum_etl_spark.plans.normalize import normalize_changes
from ethereum_etl_spark.sources.datagen import generate_repo_changes

KEYS = ["repo", "path", "commit"]
_BASE = "seq long, repo string, path string, commit string, content string, op string"


def _full_scan_changes(t: MergeTable, snapshot_id: int):
    """``changes_since(snapshot_id)`` without dir pruning or the
    one-dir shortcut: the reference the pruned scan must equal."""
    snap = t.current_snapshot()
    paths = [] if snap is None or snapshot_id >= snap["id"] else sorted({
        p for plist in snap["buckets"].values()
        if any(t._snapshot_dir_id(p) > snapshot_id for p in plist)
        for p in plist
    })
    if not paths:
        return None
    df = t._scan(snap, paths).withColumn("__bucket", t._bucket)
    out = t._resolve_winners(df).filter(F.col("__snap") > snapshot_id)
    is_del = t._delete_pred(out)
    if is_del is None:
        is_del = F.lit(False)
    return out.withColumn(
        "_change_type", F.when(is_del, F.lit("delete")).otherwise(F.lit("upsert"))
    ).drop("__snap", "__bucket")


def _rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(r) for r in df.select(*cols).collect())


def _assert_pruned_equals_full(t: MergeTable, snapshot_id: int):
    pruned = t.changes_since(snapshot_id)
    full = _full_scan_changes(t, snapshot_id)
    got = _rows(pruned)
    assert got == ([] if full is None else _rows(full)), snapshot_id
    return pruned


def _has_exchange(df) -> bool:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return "Exchange" in plan


def _dir_ids(t: MergeTable, df) -> set[int]:
    return {t._snapshot_dir_id(os.path.dirname(urlparse(f).path)) for f in df.inputFiles()}


def _mk(spark, rows):
    return spark.createDataFrame(rows, _BASE)


def _batch(spark, start, n, seed=31):
    return normalize_changes(
        generate_repo_changes(spark, n, seed=seed, start_seq=start, partitions=2, with_ops=True)
    )


def test_steady_mor_tail_reads_post_cursor_dirs_with_no_exchange(spark, tmp_path):
    """A MOR tail through one compacting commit: every poll (one commit
    behind, two or more behind, and the first poll) equals the full scan;
    the one-commit polls read only post-cursor dirs in one stage."""
    t = MergeTable(spark, str(tmp_path / "t"), n_buckets=4, mode="mor",
                   compact_threshold=3, delete_where="op = 'd'")
    for i in range(6):
        t.merge(_batch(spark, 400 * i, 400), f"b{i}")
        cur = t.current_snapshot()
        prev = cur["id"] - 1
        assert cur["bounds"], "every dir this engine writes is bounded"
        delta = _assert_pruned_equals_full(t, prev)
        if prev >= 0:
            assert not _has_exchange(delta), f"cycle {i}: poll should skip the winner sort"
            assert _dir_ids(t, delta) == {cur["id"]}
        _assert_pruned_equals_full(t, -1)
        if cur["id"] >= 3:
            _assert_pruned_equals_full(t, cur["id"] - 3)
    # the fourth merge compacted, and its dir is still listed
    assert any("-compact-" in p for ps in t.current_snapshot()["buckets"].values() for p in ps)


def test_lower_seq_row_in_post_cursor_dir_pulls_older_dirs_back(spark, tmp_path):
    """A late row for an existing key, written after the cursor with a lower
    ``seq`` than the stored version: the older dir must be read so the
    stored version wins, and the late row is not reported."""
    t = MergeTable(spark, str(tmp_path / "t"), merge_keys=KEYS, n_buckets=2, mode="mor")
    t.merge(_mk(spark, [(10, "r", "a.py", "c1", "v10", "u"),
                        (11, "r", "b.py", "c2", "v11", "u")]), "b0")
    t.merge(_mk(spark, [(5, "r", "a.py", "c1", "late", "u"),
                        (20, "r", "c.py", "c3", "v20", "u")]), "b1")
    delta = _assert_pruned_equals_full(t, 0)
    assert {r["commit"] for r in delta.collect()} == {"c3"}
    assert 0 in _dir_ids(t, delta), "the older dir holding seq 10 must be read"


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_tombstone_then_late_replay(spark, tmp_path, mode):
    t = MergeTable(spark, str(tmp_path / mode), merge_keys=KEYS, n_buckets=4,
                   mode=mode, delete_where="op = 'd'")
    batches = [
        [(1, "r", "a.py", "c1", "v1", "u"), (2, "r", "b.py", "c2", "v2", "u")],
        [(3, "r", "a.py", "c1", None, "d")],
        [(1, "r", "a.py", "c1", "v1", "u")],  # late replay: the tombstone wins
        [(4, "r", "a.py", "c1", "v1b", "u")],
    ]
    for i, rows in enumerate(batches):
        t.merge(_mk(spark, rows), f"b{i}")
        for since in range(-1, i):
            _assert_pruned_equals_full(t, since)
    assert t.changes_since(1).filter("commit = 'c1'").collect()[0]["content"] == "v1b"


def test_purge_dir_and_cow_tail(spark, tmp_path):
    """A purge rewrite is a post-cursor dir like any other; a CoW table
    holds one dir per bucket, so every poll skips the winner sort."""
    mor = MergeTable(spark, str(tmp_path / "mor"), n_buckets=4, mode="mor",
                     delete_where="op = 'd'")
    cow = MergeTable(spark, str(tmp_path / "cow"), n_buckets=4, mode="cow",
                     delete_where="op = 'd'")
    for i in range(3):
        batch = _batch(spark, 300 * i, 300, seed=37)
        mor.merge(batch, f"b{i}")
        cow.merge(batch, f"b{i}")
        _assert_pruned_equals_full(cow, i - 1)
        assert not _has_exchange(cow.changes_since(i - 1))
    stats = mor.purge_tombstones(below_seq=600)
    assert stats["tombstones_removed"] > 0
    for since in range(-1, mor.current_snapshot()["id"]):
        _assert_pruned_equals_full(mor, since)
    mor.merge(_batch(spark, 900, 300, seed=37), "b3")
    _assert_pruned_equals_full(mor, stats["snapshot_id"])


def test_manifest_without_bounds_reads_the_same_and_next_commit_writes_them(spark, tmp_path):
    t = MergeTable(spark, str(tmp_path / "t"), n_buckets=4, mode="mor")
    for i in range(3):
        t.merge(_batch(spark, 200 * i, 200), f"b{i}")
    before, state = _rows(t.changes_since(1)), _rows(t.read())
    spath = os.path.join(t.root, "snapshots", f"{t.current_snapshot()['id']}.json")
    with open(spath) as f:
        snap = json.load(f)
    del snap["bounds"]
    with open(spath, "w") as f:
        json.dump(snap, f)
    # unbounded: every older dir is read and winners are resolved
    assert _rows(_assert_pruned_equals_full(t, 1)) == before
    assert _rows(t.read()) == state
    m = t.merge(_batch(spark, 600, 200), "b3")
    cur = t.current_snapshot()
    written = {p for ps in cur["buckets"].values() for p in ps
               if t._snapshot_dir_id(p) == m.snapshot_id}
    assert written and set(cur["bounds"]) == written
    assert all(lo <= hi for lo, hi in cur["bounds"].values())
    # the older dirs stay unbounded, so a poll still reads them
    delta = _assert_pruned_equals_full(t, 2)
    assert _dir_ids(t, delta) == {0, 1, 2, m.snapshot_id}


def test_read_and_changes_since_schemas_stay_fixed_along_a_mor_chain(spark, tmp_path):
    """No internal column leaks: ``read()`` and ``changes_since`` have one
    schema at every delta-chain length, the compacting commit included."""
    t = MergeTable(spark, str(tmp_path / "t"), n_buckets=4, mode="mor",
                   compact_threshold=5, delete_where="op = 'd'")
    reads, deltas, chains = set(), set(), []
    for i in range(6):
        t.merge(_batch(spark, 200 * i, 200), f"b{i}")
        chains.append(max(len(ps) for ps in t.current_snapshot()["buckets"].values()))
        reads.add(t.read().schema.json())
        deltas.add(t.changes_since(i - 1).schema.json())
    assert chains == [1, 2, 3, 4, 5, 1]
    assert len(reads) == 1 and len(deltas) == 1
    read_cols = t.read().columns
    assert "__bucket" not in read_cols and "__snap" not in read_cols
    assert t.changes_since(4).columns == read_cols + ["_change_type"]
