"""TailSource's footer index: the head poll of a path source reads parquet
footers of new or changed files only and runs no Spark job, and a range
scan reads only the files whose seq range overlaps it."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from ethereum_etl_spark.sources import tail
from ethereum_etl_spark.sources.datagen import generate_repo_changes
from ethereum_etl_spark.sources.tail import TailSource

_GROUP = "tail-index-test"


def _write(path, seqs, **kwargs):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    table = pa.table({"seq": pa.array(seqs, pa.int64()),
                      "v": pa.array([f"v{s}" for s in seqs])})
    pq.write_table(table, path, **kwargs)


def _head_without_jobs(spark, src):
    """head_seq(), asserting it launched no Spark job."""
    sc = spark.sparkContext
    sc.setJobGroup(_GROUP, "tail head poll")
    try:
        head = src.head_seq()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(_GROUP)) == []
    return head


@pytest.fixture
def footer_reads(monkeypatch):
    """Paths whose footers the index read, in order."""
    calls = []
    real = tail._footer

    def counting(path):
        calls.append(path)
        return real(path)

    monkeypatch.setattr(tail, "_footer", counting)
    return calls


def test_appended_file_advances_head(spark, tmp_path, footer_reads):
    log = str(tmp_path / "log")
    _write(f"{log}/a.parquet", range(0, 10))
    src = TailSource(spark, log, batch_size=100)
    assert _head_without_jobs(spark, src) == 9
    assert src.next_range(-1) == (0, 9)
    # an unchanged log reads no footer again
    assert _head_without_jobs(spark, src) == 9
    assert len(footer_reads) == 1
    _write(f"{log}/b.parquet", range(10, 25))
    assert _head_without_jobs(spark, src) == 24
    assert footer_reads == [f"{log}/a.parquet", f"{log}/b.parquet"]
    assert src.next_range(9) == (10, 24)


def test_file_rewritten_in_place_is_reread(spark, tmp_path, footer_reads):
    log = str(tmp_path / "log")
    path = f"{log}/a.parquet"
    _write(path, range(0, 10))
    src = TailSource(spark, log)
    assert src.head_seq() == 9
    stamp = os.stat(path).st_mtime_ns
    _write(path, range(100, 110))
    os.utime(path, ns=(stamp + 10**9, stamp + 10**9))
    assert _head_without_jobs(spark, src) == 109
    assert footer_reads == [path, path]
    assert sorted(r["seq"] for r in src.range_df(0, 200).collect()) == list(range(100, 110))
    # a deleted file leaves the index
    os.remove(path)
    _write(f"{log}/b.parquet", range(0, 5))
    assert src.head_seq() == 4


def test_hidden_files_and_temporary_dirs_ignored(spark, tmp_path):
    log = str(tmp_path / "log")
    _write(f"{log}/a.parquet", range(0, 10))
    _write(f"{log}/_staged.parquet", [1000])
    _write(f"{log}/.hidden.parquet", [1001])
    _write(f"{log}/_temporary/0/task/part-0.parquet", [1002])
    _write(f"{log}/.spark-staging/part-0.parquet", [1003])
    open(f"{log}/_SUCCESS", "w").close()
    src = TailSource(spark, log)
    assert _head_without_jobs(spark, src) == 9
    assert list(src._index) == [f"{log}/a.parquet"]
    assert src.range_df(0, 2000).count() == 10


def test_row_group_without_stats_falls_back_to_reading_seq(spark, tmp_path, footer_reads):
    log = str(tmp_path / "log")
    _write(f"{log}/a.parquet", range(0, 10))
    nostats = f"{log}/b.parquet"
    _write(nostats, [42, 17, 30], write_statistics=False)
    md = pq.ParquetFile(nostats).metadata
    st = md.row_group(0).column(0).statistics
    assert st is None or not st.has_min_max  # the fallback is what runs
    src = TailSource(spark, log)
    assert _head_without_jobs(spark, src) == 42
    assert tail._footer(nostats)[0] == (17, 42)
    assert sorted(r["seq"] for r in src.range_df(15, 35).collect()) == [17, 30]


def test_empty_log_returns_minus_one(spark, tmp_path):
    log = tmp_path / "log"
    log.mkdir()
    src = TailSource(spark, str(log))
    assert _head_without_jobs(spark, src) == -1
    assert src.next_range(-1) is None
    _write(f"{log}/_SUCCESS.parquet", [5])  # hidden: still empty
    assert src.head_seq() == -1
    # a file with rows but no seq column holds no seq
    pq.write_table(pa.table({"x": [1, 2]}), f"{log}/other.parquet")
    assert src.head_seq() == -1


def test_missing_log_raises(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        TailSource(spark, str(tmp_path / "nope")).head_seq()


def test_dataframe_source_behaves_as_before(spark):
    df = generate_repo_changes(spark, 300, seed=4, partitions=3)
    src = TailSource(spark, df, lag=10, batch_size=100)
    assert src.head_seq() == 299
    assert src.next_range(249) == (250, 289)
    got = sorted(r["seq"] for r in src.range_df(120, 180).select("seq").collect())
    assert got == list(range(120, 181))
    assert src._index == {}


def test_range_df_equals_full_log_filter(spark, tmp_path):
    log = str(tmp_path / "log")
    generate_repo_changes(spark, 600, seed=8, partitions=3).write.parquet(log)
    generate_repo_changes(
        spark, 400, seed=8, start_seq=600, partitions=2
    ).write.mode("append").parquet(log)
    src = TailSource(spark, log)
    assert src.head_seq() == 999
    full = spark.read.parquet(log)
    cols = sorted(full.columns)
    for start, end in [(0, 0), (150, 450), (590, 610), (0, 999), (990, 2000), (5000, 6000)]:
        pred = (F.col("seq") >= start) & (F.col("seq") <= end)
        want = sorted(tuple(r) for r in full.filter(pred).select(cols).collect())
        got = sorted(tuple(r) for r in src.range_df(start, end).select(cols).collect())
        assert got == want, (start, end)


def test_range_df_keeps_partition_columns(spark, tmp_path):
    log = str(tmp_path / "log")
    generate_repo_changes(spark, 500, seed=3, partitions=2).write.partitionBy("lang").parquet(log)
    src = TailSource(spark, log)
    assert src.head_seq() == 499
    full = spark.read.parquet(log)
    got = src.range_df(100, 300)
    assert sorted(got.columns) == sorted(full.columns)
    pred = (F.col("seq") >= 100) & (F.col("seq") <= 300)
    assert sorted(tuple(r) for r in got.select("seq", "lang").collect()) == sorted(
        tuple(r) for r in full.filter(pred).select("seq", "lang").collect()
    )
