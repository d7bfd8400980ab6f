"""CDC DELETE / tombstone semantics (binlog `op = 'd'` rows).

The reference's chain model is append-only (no delete path in
blockchainetl/streaming/streamer.py), but the north-rule target — a
binlog/WAL-tail lake upsert — must honor DELETEs. Semantics under test:

- a tombstone removes its key from the visible state (read / latest_state)
- tombstones PERSIST in storage: a late replay of pre-delete rows must not
  resurrect the key (the stored tombstone outranks them by order_col)
- rows written before the op column existed (additive schema evolution)
  read as op=NULL and are kept, never dropped
- MOR mode resolves winners at read time — same visibility rules
"""

import os

import pytest
from pyspark.sql import functions as F

from ethereum_etl_spark.plans.merge import MergeTable
from ethereum_etl_spark.plans.replay import replay_range
from ethereum_etl_spark.sources.datagen import generate_repo_changes


def _mk(spark, rows, with_op=True):
    schema = "seq long, repo string, path string, commit string, content string" + (
        ", op string" if with_op else ""
    )
    return spark.createDataFrame(rows, schema)


KEYS = ["repo", "path", "commit"]


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_tombstone_hides_key_and_survives_late_replay(spark, tmp_path, mode):
    t = MergeTable(
        spark, str(tmp_path / f"t_{mode}"), merge_keys=KEYS, n_buckets=4,
        mode=mode, delete_where="op = 'd'",
    )
    ins = _mk(spark, [(1, "r", "a.py", "c1", "v1", "u"), (2, "r", "b.py", "c2", "v2", "u")])
    t.merge(ins, "b1")
    t.merge(_mk(spark, [(3, "r", "a.py", "c1", None, "d")]), "b2")
    vis = {r["commit"]: r for r in t.read().collect()}
    assert set(vis) == {"c2"}, "deleted key must be hidden"
    # late replay of the pre-delete insert under a NEW batch id: the stored
    # tombstone (seq 3) outranks the re-merged seq-1 row
    t.merge(_mk(spark, [(1, "r", "a.py", "c1", "v1", "u")]), "b3")
    assert {r["commit"] for r in t.read().collect()} == {"c2"}
    # a fresh higher-seq upsert of the same key revives it (CDC re-insert)
    t.merge(_mk(spark, [(4, "r", "a.py", "c1", "v1b", "u")]), "b4")
    vis = {r["commit"]: r for r in t.read().collect()}
    assert set(vis) == {"c1", "c2"} and vis["c1"]["content"] == "v1b"


def test_delete_of_never_inserted_key_is_noop(spark, tmp_path):
    t = MergeTable(
        spark, str(tmp_path / "t"), merge_keys=KEYS, n_buckets=4,
        delete_where="op = 'd'",
    )
    t.merge(_mk(spark, [(1, "r", "a.py", "c1", "v1", "u")]), "b1")
    t.merge(_mk(spark, [(2, "r", "z.py", "c9", None, "d")]), "b2")
    assert {r["commit"] for r in t.read().collect()} == {"c1"}


def test_pre_evolution_rows_without_op_are_kept(spark, tmp_path):
    t = MergeTable(
        spark, str(tmp_path / "t"), merge_keys=KEYS, n_buckets=4,
        delete_where="op = 'd'",
    )
    # batch 1 predates the op column entirely (additive schema evolution)
    t.merge(_mk(spark, [(1, "r", "a.py", "c1", "v1")], with_op=False), "b1")
    assert {r["commit"] for r in t.read().collect()} == {"c1"}
    # op column appears later; old rows read as NULL and must be kept
    t.merge(_mk(spark, [(2, "r", "b.py", "c2", "v2", "u")]), "b2")
    vis = {r["commit"]: r["op"] for r in t.read().collect()}
    assert vis == {"c1": None, "c2": "u"}
    # and a tombstone against the pre-evolution key still lands
    t.merge(_mk(spark, [(3, "r", "a.py", "c1", None, "d")]), "b3")
    assert {r["commit"] for r in t.read().collect()} == {"c2"}


def test_ops_datagen_deterministic_and_targets_real_keys(spark):
    df = generate_repo_changes(spark, 600, seed=5, partitions=4, with_ops=True)
    rows = df.orderBy("seq").collect()
    dels = [r for r in rows if r["op"] == "d"]
    assert len(dels) == len([r for r in rows if r["seq"] % 17 == 16])
    by_seq = {r["seq"]: r for r in rows}
    for d in dels[:20]:
        t = max(d["seq"] - 1 - (d["seq"] % 7), 0)
        target = by_seq[t]
        if target["op"] == "u":  # tombstone carries the target's merge key
            assert (d["repo"], d["path"], d["commit"]) == (
                target["repo"], target["path"], target["commit"])
    # default mode output is unchanged (no op column)
    assert "op" not in generate_repo_changes(spark, 10, seed=5).columns


def test_replay_with_deletes_matches_python_oracle(spark, tmp_path):
    n = 1200
    changes = generate_repo_changes(spark, n, seed=5, partitions=4, with_ops=True)
    t = MergeTable(
        spark, str(tmp_path / "t"), n_buckets=4, delete_where="op = 'd'",
    )
    replay_range(spark, changes, t, 0, n - 1, partition_size=400)
    got = {(r["repo"], r["path"], r["commit"]) for r in t.read().collect()}
    # independent oracle: latest row per key from the raw log, drop 'd' winners
    rows = changes.select("seq", "repo", "path", "commit", "op").collect()
    latest = {}
    for r in sorted(rows, key=lambda r: r["seq"]):
        latest[(r["repo"], r["path"], r["commit"])] = r["op"]
    want = {k for k, op in latest.items() if op == "u"}
    assert got == want


# ---------------- incremental reads + tombstone compaction ----------------

def test_changes_since_reports_net_changes_with_deletes(spark, tmp_path):
    t = MergeTable(
        spark, str(tmp_path / "t"), merge_keys=KEYS, n_buckets=4,
        delete_where="op = 'd'",
    )
    t.merge(_mk(spark, [(1, "r", "a.py", "c1", "v1", "u"),
                        (2, "r", "b.py", "c2", "v2", "u")]), "b1")  # snapshot 0
    t.merge(_mk(spark, [(3, "r", "a.py", "c1", "v1b", "u"),
                        (4, "r", "c.py", "c3", "v3", "u")]), "b2")  # snapshot 1
    t.merge(_mk(spark, [(5, "r", "b.py", "c2", None, "d")]), "b3")  # snapshot 2
    ch = {r["commit"]: (r["_change_type"], r["content"])
          for r in t.changes_since(0).collect()}
    # c1 updated (net: latest row), c3 inserted, c2 deleted; b1-only keys absent
    assert ch == {"c1": ("upsert", "v1b"), "c3": ("upsert", "v3"),
                  "c2": ("delete", None)}
    ch2 = {r["commit"]: r["_change_type"] for r in t.changes_since(1).collect()}
    assert ch2 == {"c2": "delete"}
    assert t.changes_since(2).count() == 0
    # full-table scans prune to changed buckets only — sanity on schema
    assert "_change_type" in t.changes_since(1).columns


def test_changes_since_without_delete_where(spark, tmp_path):
    t = MergeTable(spark, str(tmp_path / "t"), merge_keys=KEYS, n_buckets=4)
    t.merge(_mk(spark, [(1, "r", "a.py", "c1", "v1", "u")]), "b1")
    t.merge(_mk(spark, [(2, "r", "b.py", "c2", "v2", "u")]), "b2")
    ch = {r["commit"]: r["_change_type"] for r in t.changes_since(0).collect()}
    assert ch == {"c2": "upsert"}


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_purge_tombstones_drops_old_keeps_recent(spark, tmp_path, mode):
    t = MergeTable(
        spark, str(tmp_path / f"t_{mode}"), merge_keys=KEYS, n_buckets=4,
        mode=mode, delete_where="op = 'd'",
    )
    t.merge(_mk(spark, [(1, "r", "a.py", "c1", "v1", "u"),
                        (2, "r", "b.py", "c2", "v2", "u"),
                        (3, "r", "c.py", "c3", "v3", "u")]), "b1")
    t.merge(_mk(spark, [(4, "r", "a.py", "c1", None, "d"),
                        (9, "r", "c.py", "c3", None, "d")]), "b2")
    assert {r["commit"] for r in t.read().collect()} == {"c2"}
    stats = t.purge_tombstones(below_seq=5)  # seq-4 tombstone purged, seq-9 kept
    assert stats["tombstones_removed"] == 1 and stats["buckets_rewritten"] >= 1
    # visible state unchanged by the purge
    assert {r["commit"] for r in t.read().collect()} == {"c2"}
    # the recent tombstone still guards its key; the purged one no longer does
    raw = spark.read.option("mergeSchema", "true").parquet(
        *[p for pl in t.current_snapshot()["buckets"].values() for p in pl])
    tombs = {r["commit"] for r in raw.filter(F.col("op") == "d").collect()}
    assert tombs == {"c3"}
    # idempotent: nothing left below the watermark
    assert t.purge_tombstones(below_seq=5)["tombstones_removed"] == 0


def _purge_table(spark, root):
    t = MergeTable(spark, root, merge_keys=KEYS, n_buckets=4, delete_where="op = 'd'")
    t.merge(_mk(spark, [(1, "r", "a.py", "c1", "v1", "u"),
                        (2, "r", "b.py", "c2", "v2", "u")]), "b1")
    t.merge(_mk(spark, [(4, "r", "a.py", "c1", None, "d")]), "b2")
    return t


def test_purge_tombstones_logs_its_wall_time(spark, tmp_path):
    import json

    t = _purge_table(spark, str(tmp_path / "t"))
    assert t.purge_tombstones(below_seq=5)["tombstones_removed"] == 1
    with open(os.path.join(t.root, "lineage.jsonl")) as f:
        rec = [json.loads(line) for line in f][-1]
    assert rec["batch_id"] == "purge-below-5"
    assert rec["seconds"] > 0


def test_purge_rewrites_hit_buckets_from_their_own_files_without_a_sort(
        spark, tmp_path, monkeypatch):
    """On a CoW table every bucket holds one dir, so the purge rewrites the
    buckets holding purgeable tombstones from those buckets' files alone,
    in one stage: no winner sort, so no Exchange."""
    from urllib.parse import urlparse

    t = MergeTable(spark, str(tmp_path / "t"), merge_keys=KEYS, n_buckets=8,
                   delete_where="op = 'd'")
    t.merge(_mk(spark, [(i, "r", f"f{i}.py", f"c{i}", f"v{i}", "u") for i in range(40)]), "b1")
    t.merge(_mk(spark, [(100 + i, "r", f"f{i}.py", f"c{i}", None, "d") for i in (0, 1)]), "b2")
    buckets = t.current_snapshot()["buckets"]
    assert all(len(ps) == 1 for ps in buckets.values())
    hit_dirs = {os.path.normpath(ps[0]) for ps in buckets.values() if "/s000001-" in ps[0]}
    assert 1 <= len(hit_dirs) < len(buckets)
    frames = []
    write = MergeTable._write_buckets

    def spy(self, df, name, bounds):
        frames.append(df)
        return write(self, df, name, bounds)

    monkeypatch.setattr(MergeTable, "_write_buckets", spy)
    assert t.purge_tombstones(below_seq=1000)["tombstones_removed"] == 2
    (df,) = frames
    read = {os.path.dirname(urlparse(f).path) for f in df.inputFiles()}
    assert read == hit_dirs
    assert "Exchange" not in df._jdf.queryExecution().executedPlan().toString()


def test_purge_tombstones_reclaims_its_dir_on_commit_conflict(spark, tmp_path, monkeypatch):
    from ethereum_etl_spark.plans.merge import CommitConflict

    t = _purge_table(spark, str(tmp_path / "t"))
    before = t.current_snapshot()

    def lose(snapshot):
        raise CommitConflict("another writer committed first")

    monkeypatch.setattr(t.catalog, "commit", lose)
    with pytest.raises(CommitConflict):
        t.purge_tombstones(below_seq=5)
    assert not [d for d in os.listdir(os.path.join(t.root, "data")) if "-purge-" in d]
    assert t.current_snapshot() == before
    assert t.verify_integrity()["orphan_dirs"] == []


def test_purge_requires_delete_where(spark, tmp_path):
    t = MergeTable(spark, str(tmp_path / "t"), merge_keys=KEYS, n_buckets=4)
    with pytest.raises(ValueError):
        t.purge_tombstones(below_seq=1)


def test_changes_since_prunes_unchanged_buckets(spark, tmp_path):
    """The incremental scan must read only buckets with post-snapshot files —
    cost tracks the change volume, not table size (the 100 TB contract)."""
    t = MergeTable(spark, str(tmp_path / "t"), merge_keys=KEYS, n_buckets=8)
    wide = _mk(spark, [(i, "r", f"f{i}.py", f"c{i}", f"v{i}", "u")
                       for i in range(40)])
    t.merge(wide, "b1")                                        # snapshot 0: all buckets
    t.merge(_mk(spark, [(100, "r", "f0.py", "c0", "v0b", "u")]), "b2")  # snapshot 1: one key
    ch = t.changes_since(0)
    assert [r["commit"] for r in ch.collect()] == ["c0"]
    # physical evidence: the scan's input files span only the winner's bucket
    bucket_dirs = {f.split("__bucket=")[1].split("/")[0]
                   for f in ch.inputFiles() if "__bucket=" in f}
    assert len(bucket_dirs) == 1, bucket_dirs


def test_incremental_consumer_reconstructs_state(spark, tmp_path):
    """CDC relay: a downstream consumer that applies each snapshot's
    changes_since delta to its own store must converge to exactly the
    table's visible state — upserts, deletes, and delete-then-reinsert
    churn included. This is the contract an incremental corpus/index
    consumer relies on at 100 TB (apply O(churn) per cycle, never rescan)."""
    t = MergeTable(
        spark, str(tmp_path / "t"), merge_keys=KEYS, n_buckets=4,
        delete_where="op = 'd'",
    )
    phases = [
        [(1, "r", "a.py", "c1", "v1", "u"), (2, "r", "b.py", "c2", "v2", "u")],
        [(3, "r", "a.py", "c1", "v1b", "u"), (4, "r", "c.py", "c3", "v3", "u")],
        [(5, "r", "b.py", "c2", None, "d"), (6, "r", "d.py", "c4", "v4", "u")],
        [(7, "r", "b.py", "c2", "v2-back", "u"), (8, "r", "c.py", "c3", None, "d")],
    ]
    consumer: dict = {}
    last = -1
    for i, rows in enumerate(phases):
        t.merge(_mk(spark, rows), f"b{i}")
        cur = t.current_snapshot()["id"]
        for r in t.changes_since(last).collect():
            k = (r["repo"], r["path"], r["commit"])
            if r["_change_type"] == "delete":
                consumer.pop(k, None)
            else:
                consumer[k] = r["content"]
        last = cur
    truth = {(r["repo"], r["path"], r["commit"]): r["content"]
             for r in t.read().collect()}
    assert consumer == truth
    assert consumer[("r", "b.py", "c2")] == "v2-back"  # reinsert won
    assert ("r", "c.py", "c3") not in consumer          # delete applied


# ---------------- CdcRelay: the packaged downstream consumer ----------------

def test_cdc_relay_ships_deltas_and_resumes(spark, tmp_path):
    from ethereum_etl_spark.streaming.relay import CdcRelay

    t = MergeTable(
        spark, str(tmp_path / "t"), merge_keys=KEYS, n_buckets=4,
        delete_where="op = 'd'",
    )
    out, cur = str(tmp_path / "feed"), str(tmp_path / "cursor.json")
    relay = CdcRelay(t, out, cur)
    assert relay.poll_once() is None            # empty table: nothing to ship
    t.merge(_mk(spark, [(1, "r", "a.py", "c1", "v1", "u"),
                        (2, "r", "b.py", "c2", "v2", "u")]), "b0")
    r1 = relay.poll_once()
    assert r1["from_snapshot"] == -1 and r1["to_snapshot"] == 0
    assert relay.poll_once() is None            # caught up -> idempotent no-op
    t.merge(_mk(spark, [(3, "r", "a.py", "c1", "v1b", "u")]), "b1")
    t.merge(_mk(spark, [(4, "r", "b.py", "c2", None, "d")]), "b2")
    # a NEW relay instance resumes from the persisted cursor
    shipped = CdcRelay(t, out, cur).run_until_head()
    assert [s["to_snapshot"] for s in shipped] == [2]
    # replaying every committed delta reconstructs the visible state
    state: dict = {}
    for d in sorted(os.listdir(out)):
        for r in spark.read.parquet(os.path.join(out, d)).collect():
            k = (r["repo"], r["path"], r["commit"])
            if r["_change_type"] == "delete":
                state.pop(k, None)
            else:
                state[k] = r["content"]
    truth = {(r["repo"], r["path"], r["commit"]): r["content"]
             for r in t.read().collect()}
    assert state == truth == {("r", "a.py", "c1"): "v1b"}
