"""End-to-end slice tests: datagen → normalize → merge → replay.

Mirrors the reference's golden-fixture style (SURVEY.md §5): deterministic
synthetic input, exact-value assertions, independent (hashlib / Python int)
oracles for the per-row invariants.
"""

import hashlib
import os

import pytest
from pyspark.sql import functions as F

from ethereum_etl_spark.plans.merge import MergeTable
from ethereum_etl_spark.plans.normalize import normalize_changes
from ethereum_etl_spark.plans.replay import replay_range
from ethereum_etl_spark.sources.datagen import generate_repo_changes

N = 2000


@pytest.fixture(scope="module")
def changes(spark):
    return generate_repo_changes(spark, N, seed=42, partitions=4).cache()


def test_datagen_deterministic(spark, changes):
    again = generate_repo_changes(spark, N, seed=42, partitions=8)  # different parallelism
    a = changes.orderBy("seq").collect()
    b = again.orderBy("seq").collect()
    assert a == b
    other_seed = generate_repo_changes(spark, N, seed=7).orderBy("seq").first()
    assert other_seed["commit"] != a[0]["commit"]


def test_datagen_shape(changes):
    rows = changes.collect()
    assert len(rows) == N
    assert all(len(r["commit"]) == 40 for r in rows[:50])
    assert any("\x00" in r["content"] for r in rows)  # sanitize fixture
    # hot-repo skew: top repo holds far more than the uniform share
    top = changes.groupBy("repo").count().orderBy(F.desc("count")).first()
    assert top["count"] > 3 * N / 200


def test_normalize_invariants(changes):
    out = normalize_changes(changes).orderBy("seq").limit(100).collect()
    raw = changes.orderBy("seq").limit(100).collect()
    for r, o in zip(raw, out):
        # sha256 invariant computed on raw content (BASELINE.json input_hint)
        assert o["sha256"] == hashlib.sha256(r["content"].encode()).hexdigest()
        assert "\x00" not in o["content"]  # sanitize rule
        # exact uint256-scale decode (values > 2**64)
        assert int(o["value_dec"]) == int(o["value_hex"], 16)
        assert o["n_tokens"] > 0 and o["content_size"] == len(o["content"])


def test_merge_latest_wins(spark, tmp_path):
    for mode, compact_threshold in (("cow", 8), ("mor", 8), ("mor", 2)):
        _check_latest_wins(spark, str(tmp_path / f"{mode}{compact_threshold}"),
                           mode, compact_threshold)


def _check_latest_wins(spark, root, mode, compact_threshold):
    tbl = MergeTable(spark, root, merge_keys=["repo", "path"], order_col="seq",
                     mode=mode, compact_threshold=compact_threshold)
    df1 = spark.createDataFrame(
        [(1, "r", "a", "v1"), (2, "r", "a", "v2"), (1, "r", "b", "w1")],
        "seq long, repo string, path string, content string",
    )
    tbl.merge(df1, "b1")
    state = {(r["repo"], r["path"]): r["content"] for r in tbl.read().collect()}
    assert state == {("r", "a"): "v2", ("r", "b"): "w1"}
    # an older change arriving later must NOT regress the row
    df2 = spark.createDataFrame(
        [(0, "r", "a", "v0"), (3, "r", "b", "w3")],
        "seq long, repo string, path string, content string",
    )
    tbl.merge(df2, "b2")
    state = {(r["repo"], r["path"]): r["content"] for r in tbl.read().collect()}
    assert state == {("r", "a"): "v2", ("r", "b"): "w3"}
    # an incoming row wins an order_col tie with a committed one: its
    # __snap is the next snapshot id. At compact_threshold=2 this merge
    # puts a third file in r/b's bucket, so the compaction decides the tie.
    tbl.merge(spark.createDataFrame([(3, "r", "b", "w3-again")], df2.schema), "b3")
    state = {(r["repo"], r["path"]): r["content"] for r in tbl.read().collect()}
    assert state == {("r", "a"): "v2", ("r", "b"): "w3-again"}, (mode, compact_threshold)
    compacted = any("-compact-" in p for ps in tbl.current_snapshot()["buckets"].values()
                    for p in ps)
    assert compacted == (compact_threshold == 2)


def test_merge_exactly_once_and_replay_idempotent(spark, changes, tmp_path):
    tbl = MergeTable(spark, str(tmp_path / "t"))
    m = replay_range(spark, changes, tbl, 0, N - 1, partition_size=1000)
    assert len(m) == 2 and not any(x.noop for x in m)
    n1 = tbl.read().count()
    # same batch ids → pointer-level no-op
    m2 = replay_range(spark, changes, tbl, 0, N - 1, partition_size=1000)
    assert all(x.noop for x in m2)
    # overlapping re-replay under fresh batch ids → same final state
    replay_range(spark, changes, tbl, 500, 1500, batch_prefix="crashredo")
    assert tbl.read().count() == n1
    shas = sorted(r[0] for r in tbl.read().select("sha256").collect())
    expected = sorted(
        r[0] for r in normalize_changes(changes).select("sha256").collect()
    )
    assert shas == expected  # bit-for-bit state equality after replay


def test_merge_schema_evolution_additive(spark, tmp_path):
    tbl = MergeTable(spark, str(tmp_path / "t"), merge_keys=["repo", "path"], order_col="seq")
    tbl.merge(
        spark.createDataFrame([(1, "r", "a", "x")], "seq long, repo string, path string, content string"),
        "b1",
    )
    # new column appears mid-stream (reference additive rule, SURVEY.md §1.3)
    tbl.merge(
        spark.createDataFrame(
            [(2, "r", "b", "y", "MIT")],
            "seq long, repo string, path string, content string, license string",
        ),
        "b2",
    )
    out = {r["path"]: r.asDict() for r in tbl.read().collect()}
    assert out["b"]["license"] == "MIT"
    assert out["a"]["license"] is None  # old rows read as NULL, no rewrite


def test_merge_bucket_pruning(spark, tmp_path):
    """A small delta must not rewrite the whole table."""
    tbl = MergeTable(spark, str(tmp_path / "t"), n_buckets=16)
    big = generate_repo_changes(spark, 1000, seed=1)
    tbl.merge(normalize_changes(big), "bulk")
    one = normalize_changes(generate_repo_changes(spark, 1, seed=1, start_seq=2_000_000))
    m = tbl.merge(one, "tiny")
    assert m.buckets_touched == 1
    assert tbl.read().count() == 1001


def test_lineage_written(spark, tmp_path):
    tbl = MergeTable(spark, str(tmp_path / "t"))
    tbl.merge(normalize_changes(generate_repo_changes(spark, 10, seed=3)), "b1")
    assert os.path.exists(os.path.join(str(tmp_path / "t"), "lineage.jsonl"))
