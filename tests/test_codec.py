"""Parquet codec: every file the engine writes is zstd (the session default,
Iceberg's default codec), and files written with snappy keep reading,
merging, compacting and purging beside zstd ones. Parquet records the
codec per column chunk, so readers need no setting."""

import os
from contextlib import contextmanager
from urllib.parse import urlparse

import duckdb
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from ethereum_etl_spark.plans.merge import MergeTable
from ethereum_etl_spark.plans.normalize import normalize_changes
from ethereum_etl_spark.sources.datagen import generate_repo_changes
from ethereum_etl_spark.sources.tail import TailSource
from ethereum_etl_spark.streaming.relay import CdcRelay
from ethereum_etl_spark.streaming.stream import Streamer

CODEC = "spark.sql.parquet.compression.codec"
KEYS = ("repo", "path", "commit")


@contextmanager
def _codec(spark, codec):
    """Write with ``codec`` (a runtime conf, as a session not built by
    ``get_spark`` might set it), then restore the session's own."""
    old = spark.conf.get(CODEC)
    spark.conf.set(CODEC, codec)
    try:
        yield
    finally:
        spark.conf.set(CODEC, old)


def _chunk_codecs(*roots):
    """{file: codecs of its column chunks} for every .parquet file under
    ``roots`` (a dir or a file each)."""
    out = {}
    for root in roots:
        files = [root] if os.path.isfile(root) else [
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs if f.endswith(".parquet")]
        for path in files:
            md = pq.ParquetFile(path).metadata
            out[path] = {md.row_group(i).column(j).compression
                         for i in range(md.num_row_groups) for j in range(md.num_columns)}
    return out


def _codecs(*roots):
    return set().union(*_chunk_codecs(*roots).values())


def _dirs(table, tag):
    data = os.path.join(table.root, "data")
    return [os.path.join(data, d) for d in os.listdir(data) if tag in d]


def test_every_parquet_file_the_engine_writes_is_zstd(spark, tmp_path):
    changes = normalize_changes(
        generate_repo_changes(spark, 1200, seed=51, partitions=4, with_ops=True))

    def rows(lo, hi):
        return changes.filter((F.col("seq") >= lo) & (F.col("seq") <= hi))

    cow = MergeTable(spark, str(tmp_path / "cow"), n_buckets=4, delete_where="op = 'd'")
    cow_data = os.path.join(cow.root, "data")
    cow.merge(rows(0, 799), "bulk")  # into an empty table
    assert _codecs(cow_data) == {"ZSTD"}
    cow.merge(rows(800, 1199), "upsert")  # touched buckets rewritten with their rows
    assert _codecs(cow_data) == {"ZSTD"}

    mor = MergeTable(spark, str(tmp_path / "mor"), n_buckets=4, mode="mor",
                     compact_threshold=3, delete_where="op = 'd'")
    mor_data = os.path.join(mor.root, "data")
    feed = str(tmp_path / "feed")
    relay = CdcRelay(mor, feed, str(tmp_path / "cursor.json"))
    for i, lo in enumerate((0, 300, 600)):
        mor.merge(rows(lo, lo + 299), f"m{i}")
        relay.poll_once()
    assert _codecs(mor_data) == {"ZSTD"}  # delta appends
    mor.merge(rows(900, 1199), "m3")  # a 4th delta per bucket: compacted in this commit
    assert _dirs(mor, "-compact-") and _codecs(mor_data) == {"ZSTD"}
    assert mor.purge_tombstones(below_seq=1200)["tombstones_removed"] > 0
    assert _dirs(mor, "-purge-") and _codecs(mor_data) == {"ZSTD"}
    relay.run_until_head()
    assert len(os.listdir(feed)) == 4 and _codecs(feed) == {"ZSTD"}


def _apply_deltas(spark, feed):
    """The consumer's view: every relay delta applied in order."""
    state = {}
    for d in sorted(os.listdir(feed)):
        for r in spark.read.parquet(os.path.join(feed, d)).collect():
            k = tuple(r[c] for c in KEYS)
            if r["_change_type"] == "delete":
                state.pop(k, None)
            else:
                state[k] = (r["seq"], r["sha256"])
    return state


def test_snappy_table_and_log_keep_working_beside_zstd(spark, tmp_path):
    log, feed = str(tmp_path / "log"), str(tmp_path / "feed")
    t = MergeTable(spark, str(tmp_path / "t"), n_buckets=8, mode="mor",
                   compact_threshold=3, delete_where="op = 'd'")
    changes = generate_repo_changes(spark, 2400, seed=57, partitions=4, with_ops=True)
    stream = Streamer(spark, TailSource(spark, log, batch_size=500), t, str(tmp_path / "ck"))
    relay = CdcRelay(t, feed, str(tmp_path / "cursor.json"))
    with _codec(spark, "snappy"):
        changes.filter(F.col("seq") < 1500).write.parquet(log)
        assert len(stream.run_until_head()) == 3  # a chain of 3 deltas in every bucket
        relay.poll_once()
    snappy_lists = t.current_snapshot()["buckets"]
    assert _codecs(log, feed, *[p for pl in snappy_lists.values() for p in pl]) == {"SNAPPY"}

    # later changes hit buckets 0 and 1 only: the other six are never rewritten
    changes.filter((F.col("seq") >= 1500) & t._bucket.isin(0, 1)).write.mode("append").parquet(log)
    assert _codecs(log) == {"SNAPPY", "ZSTD"}
    assert len(stream.run_until_head()) == 2  # the first compacts buckets 0 and 1
    stats = t.purge_tombstones(below_seq=17)  # seq 16 is the log's first tombstone
    assert stats["tombstones_removed"] == 1 and stats["buckets_rewritten"] == 1
    relay.run_until_head()

    oracle = set(duckdb.sql(f"""
        SELECT repo, path, commit, seq, sha256(content) FROM (
          SELECT *, row_number() OVER (
              PARTITION BY repo, path, commit ORDER BY seq DESC) AS rn
          FROM read_parquet('{log}/*.parquet'))
        WHERE rn = 1 AND op <> 'd'""").fetchall())
    state = {tuple(r[:3]): tuple(r[3:])
             for r in t.read().select(*KEYS, "seq", "sha256").collect()}
    assert {(*k, *v) for k, v in state.items()} == oracle
    assert _apply_deltas(spark, feed) == state

    assert _codecs(*_dirs(t, "-compact-")) == {"ZSTD"}
    final = t.current_snapshot()["buckets"]
    rewritten = {b for b, pl in final.items()
                 if any("-compact-" in p or "-purge-" in p for p in pl)}
    assert {"0", "1"} <= rewritten and len(rewritten) <= 3
    kept = {p for b, pl in snappy_lists.items() if b not in rewritten for p in pl}
    listed = {p for pl in final.values() for p in pl}
    assert len(kept) >= 15 and kept <= listed
    assert {p for p in listed if _codecs(p) == {"SNAPPY"}} == kept


def test_tail_log_mixing_codecs_reads_like_a_single_codec_log(spark, tmp_path):
    changes = generate_repo_changes(spark, 600, seed=59, partitions=2)
    mixed, single = str(tmp_path / "mixed"), str(tmp_path / "single")
    with _codec(spark, "snappy"):
        changes.filter(F.col("seq") < 300).write.parquet(mixed)
    changes.filter(F.col("seq") >= 300).write.mode("append").parquet(mixed)
    changes.write.parquet(single)
    assert _codecs(mixed) == {"SNAPPY", "ZSTD"} and _codecs(single) == {"ZSTD"}
    a, b = TailSource(spark, mixed), TailSource(spark, single)
    assert a.head_seq() == b.head_seq() == 599
    for lo, hi in [(0, 199), (250, 349), (300, 599), (0, 599)]:
        assert sorted(a.range_df(lo, hi).collect()) == sorted(b.range_df(lo, hi).collect())
    straddle = [urlparse(f).path for f in a.range_df(250, 349).inputFiles()]
    assert _codecs(*straddle) == {"SNAPPY", "ZSTD"}
