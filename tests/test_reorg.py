"""Reorg-aware re-export (north-star; streamer.py:110-111 lag + restart
re-export): divergence detection via the per-row sha256 invariant, fork
re-export, and bit-for-bit convergence to the canonical log."""

from pyspark.sql import functions as F

from ethereum_etl_spark.plans.merge import MergeTable
from ethereum_etl_spark.plans.normalize import normalize_changes
from ethereum_etl_spark.plans.replay import (
    find_divergence_seq,
    reexport_range,
    replay_range,
)
from ethereum_etl_spark.sources.datagen import generate_repo_changes

N, FORK = 1200, 1000


def _ingest_pre_reorg_view(spark, root):
    canonical = generate_repo_changes(spark, N, seed=17, partitions=4)
    orphan = generate_repo_changes(spark, N - FORK, seed=1717, start_seq=FORK, partitions=2)
    table = MergeTable(spark, root, merge_keys=["seq"], n_buckets=4)
    replay_range(spark, canonical, table, 0, FORK - 1)
    replay_range(spark, orphan, table, FORK, N - 1, batch_prefix="orphan")
    return canonical, table


def test_divergence_detected_then_reexport_converges(spark, tmp_path):
    canonical, table = _ingest_pre_reorg_view(spark, str(tmp_path / "t"))
    want = normalize_changes(canonical)

    # the orphaned tail genuinely diverges before re-export
    diverged = (
        table.read().select("seq", "sha256")
        .join(want.select("seq", F.col("sha256").alias("w")), "seq")
        .filter(F.col("sha256") != F.col("w"))
        .count()
    )
    assert diverged == N - FORK

    assert find_divergence_seq(table, canonical) == FORK
    # a bounded probe over the suspect tail finds the same fork
    assert find_divergence_seq(table, canonical, probe_from=900) == FORK

    reexport_range(spark, canonical, table, FORK, N - 1)
    got = table.read()
    assert got.count() == N
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    # and the detector now reports a fully consistent table
    assert find_divergence_seq(table, canonical) is None


def test_reexport_is_idempotent(spark, tmp_path):
    canonical, table = _ingest_pre_reorg_view(spark, str(tmp_path / "t"))
    reexport_range(spark, canonical, table, FORK, N - 1)
    snap_after_first = table.current_snapshot()["id"]
    # replaying the re-export a second time is a committed-batch no-op
    ms = reexport_range(spark, canonical, table, FORK, N - 1)
    assert all(m.noop for m in ms)
    assert table.current_snapshot()["id"] == snap_after_first
    assert table.read().count() == N
