"""Merge-on-read mode: same semantics as copy-on-write, O(batch) merges,
auto-compaction."""

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ethereum_etl_spark.plans.merge import MergeTable
from ethereum_etl_spark.plans.normalize import normalize_changes
from ethereum_etl_spark.sources.datagen import generate_repo_changes


def _state(table):
    return sorted(
        (r["repo"], r["path"], r["commit"], r["seq"], r["sha256"])
        for r in table.read().collect()
    )


def test_mor_equals_cow_and_compacts(spark, tmp_path):
    changes = generate_repo_changes(spark, 3000, seed=21, partitions=4)
    cow = MergeTable(spark, str(tmp_path / "cow"), n_buckets=4, mode="cow")
    mor = MergeTable(spark, str(tmp_path / "mor"), n_buckets=4, mode="mor",
                     compact_threshold=3)

    # six micro-batches; overlapping replay of batch 2 under a new id
    ranges = [(0, 499), (500, 999), (1000, 1499), (500, 1499), (1500, 2299), (2300, 2999)]
    for i, (s, e) in enumerate(ranges):
        b = normalize_changes(changes.filter((F.col("seq") >= s) & (F.col("seq") <= e)))
        cow.merge(b, f"b{i}")
        mor.merge(b, f"b{i}")

    assert _state(mor) == _state(cow)
    assert mor.read().count() == 3000  # unique keys, superseded rows resolved

    # compaction happened: no bucket chain exceeds the threshold
    snap = mor.current_snapshot()
    assert all(len(v) <= 3 for v in snap["buckets"].values())
    assert any(len(v) > 1 for v in snap["buckets"].values())  # still MOR deltas

    # batch-id idempotence unchanged
    redo = mor.merge(
        normalize_changes(changes.filter(F.col("seq") <= 499)), "b0"
    )
    assert redo.noop

    # latest_state over the resolved view
    ls = mor.latest_state(keys=("repo", "path"))
    assert ls.count() == mor.read().select("repo", "path").distinct().count()


def test_salted_merge_equals_unsalted(spark, tmp_path):
    """merge_salts sub-partitions the winner sort (parallelism beyond
    n_buckets) without changing any result — keys never straddle salts."""
    changes = generate_repo_changes(spark, 2000, seed=33, partitions=4)
    plain = MergeTable(spark, str(tmp_path / "p"), n_buckets=4)
    salted = MergeTable(spark, str(tmp_path / "s"), n_buckets=4, merge_salts=4)
    mor_salted = MergeTable(
        spark, str(tmp_path / "ms"), n_buckets=4, mode="mor",
        compact_threshold=2, merge_salts=4,
    )
    # overlapping ranges exercise resolve-vs-existing under the salt
    for i, (s, e) in enumerate([(0, 999), (500, 1499), (1000, 1999)]):
        b = normalize_changes(changes.filter((F.col("seq") >= s) & (F.col("seq") <= e)))
        plain.merge(b, f"b{i}")
        salted.merge(b, f"b{i}")
        mor_salted.merge(b, f"b{i}")
    assert _state(salted) == _state(plain)
    assert _state(mor_salted) == _state(plain)
    assert salted.current_snapshot()["merge_salts"] == 4


def test_empty_batch_merge_is_clean_commit(spark, tmp_path):
    """An empty batch commits cleanly (batch_id recorded, zero rows, no
    files), and the table state is untouched — the crash-retry path can
    replay a drained range without side effects."""
    changes = generate_repo_changes(spark, 100, seed=5, partitions=2)
    t = MergeTable(spark, str(tmp_path / "e"), n_buckets=4)
    t.merge(normalize_changes(changes), "b-full")
    before = _state(t)
    empty = normalize_changes(changes.filter(F.col("seq") < 0))
    m = t.merge(empty, "b-empty")
    assert m.rows_in == 0 and m.buckets_touched == 0 and not m.noop
    assert "b-empty" in t.committed_batches()
    assert _state(t) == before
    # re-merge of the empty batch is the no-op idempotence path
    assert t.merge(empty, "b-empty").noop


def _light_pass(table, batch):
    """(rows_in, buckets_touched) as the light-pass aggregation counts them."""
    return batch.count(), len(table.touched_buckets(batch))


def _lineage(table):
    with open(os.path.join(table.root, "lineage.jsonl")) as f:
        return [json.loads(line) for line in f]


def test_append_only_merges_skip_the_light_pass(spark, tmp_path, monkeypatch):
    """MOR merges and merges into an empty table take rows_in from an
    Observation and the touched buckets from the written bucket dirs. No
    collect runs (the light pass is the merge's only collect), and the
    lineage matches what the light pass would have counted."""
    changes = generate_repo_changes(spark, 1200, seed=12, partitions=4)
    batches = [
        normalize_changes(changes.filter((F.col("seq") >= s) & (F.col("seq") <= e)))
        for s, e in [(0, 399), (400, 409), (200, 999), (1000, 1199)]
    ]
    empty = normalize_changes(changes.filter(F.col("seq") < 0))
    mor = MergeTable(spark, str(tmp_path / "mor"), n_buckets=8, mode="mor",
                     compact_threshold=2)
    expected = [_light_pass(mor, b) for b in batches + [empty]]
    assert expected[1][1] < 8 and expected[-1] == (0, 0)
    cow = MergeTable(spark, str(tmp_path / "cow"), n_buckets=8)
    cow_empty = MergeTable(spark, str(tmp_path / "cow_empty"), n_buckets=8)

    def no_collect(self, *a, **k):
        raise AssertionError("a light pass ran")

    with monkeypatch.context() as m:
        m.setattr(DataFrame, "collect", no_collect)
        mor_ms = [mor.merge(b, f"b{i}") for i, b in enumerate(batches + [empty])]
        first = cow.merge(batches[0], "b0")  # CoW into an empty table
        none = cow_empty.merge(empty, "e0")  # empty batch into an empty table
    got = [(x.rows_in, x.buckets_touched) for x in mor_ms]
    assert got == expected
    assert (first.rows_in, first.buckets_touched) == expected[0]
    assert (none.rows_in, none.buckets_touched, none.rows_after_dedup) == (0, 0, 0)
    assert [(r["rows_in"], r["buckets_touched"]) for r in _lineage(mor)] == expected
    # CoW merges into a table with files keep the light pass
    later = [cow.merge(b, f"b{i}") for i, b in enumerate(batches) if i > 0]
    assert [(x.rows_in, x.buckets_touched) for x in later] == expected[1:4]
    assert _state(mor) == _state(cow)
    assert cow_empty.read().count() == 0 and cow_empty.verify_integrity()["ok"]
