"""The table schema lives in each snapshot manifest: scans pass it instead
of inferring it from file footers, and per-batch planning reuses column
expressions built once.

The reference for every schema below is the old behavior: the same table
read through a catalog that hides the manifest's ``schema`` key, which
makes every scan fall back to ``mergeSchema`` footer inference."""

import glob
import json
import os

import pytest

from ethereum_etl_spark.plans.merge import FileSnapshotCatalog, MergeTable
from ethereum_etl_spark.plans.normalize import normalize_changes
from ethereum_etl_spark.sources.datagen import generate_repo_changes
from ethereum_etl_spark.sources.tail import TailSource

KEYS = ["repo", "path", "commit"]
_GROUP = "manifest-schema-test"


class _Inferring(FileSnapshotCatalog):
    """A catalog whose manifests never carry ``schema``: every scan of a
    table opened on it infers the schema, as before the key existed."""

    def current_snapshot(self):
        s = super().current_snapshot()
        if s is not None:
            s.pop("schema", None)
        return s

    def snapshot_at(self, snapshot_id):
        s = super().snapshot_at(snapshot_id)
        s.pop("schema", None)
        return s


def _pair(spark, tmp_path, **kw):
    """The same table twice: one on the manifest schema, one inferring."""
    known = MergeTable(spark, str(tmp_path / "known"), **kw)
    root = str(tmp_path / "inferred")
    inferred = MergeTable(spark, root, catalog=_Inferring(root), **kw)
    return known, inferred


def _mk(spark, rows, cols):
    return spark.createDataFrame(rows, cols)


_BASE = "seq long, repo string, path string, commit string, content string"
_WITH_OP = _BASE + ", op string"


def _file_schemas(spark, table):
    """Spark schema of every data dir the current snapshot references, in
    bucket order, as written into the files."""
    snap = table.current_snapshot()
    return [
        [spark.read.parquet(p).schema for p in snap["buckets"][b]]
        for b in sorted(snap["buckets"], key=int)
    ]


def _assert_same(spark, known, inferred, since=()):
    assert known.read().schema == inferred.read().schema
    for sid in since:
        assert known.changes_since(sid).schema == inferred.changes_since(sid).schema
    # what compaction, purge and the CoW union wrote
    assert _file_schemas(spark, known) == _file_schemas(spark, inferred)


def test_additive_evolution_matches_inference(spark, tmp_path):
    known, inferred = _pair(spark, tmp_path, merge_keys=["repo", "path"], n_buckets=4)
    steps = [
        ([(1, "r", "a", "x")], "seq long, repo string, path string, content string"),
        ([(2, "r", "b", "y", "MIT")],
         "seq long, repo string, path string, content string, license string"),
        # an upsert of an old key: the CoW union of pre- and post-evolution files
        ([(3, "r", "a", "z", "GPL")],
         "seq long, repo string, path string, content string, license string"),
    ]
    for i, (rows, cols) in enumerate(steps):
        for t in (known, inferred):
            t.merge(_mk(spark, rows, cols), f"b{i}")
        _assert_same(spark, known, inferred, since=range(i))
    assert known.read().columns[-1] == "license"


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_pre_op_batches_compaction_and_purge_match_inference(spark, tmp_path, mode):
    known, inferred = _pair(
        spark, tmp_path, merge_keys=KEYS, n_buckets=2, mode=mode,
        compact_threshold=2, delete_where="op = 'd'",
    )
    batches = [
        (_BASE, [(1, "r", "a.py", "c1", "v1"), (2, "r", "b.py", "c2", "v2")]),
        (_WITH_OP, [(3, "r", "c.py", "c3", "v3", "u")]),
        (_WITH_OP, [(4, "r", "a.py", "c1", None, "d")]),
        (_WITH_OP, [(5, "r", "d.py", "c4", "v4", "u"), (6, "r", "b.py", "c2", "v2b", "u")]),
    ]
    for i, (cols, rows) in enumerate(batches):
        for t in (known, inferred):
            t.merge(_mk(spark, rows, cols), f"b{i}")
        _assert_same(spark, known, inferred, since=range(i))
    if mode == "mor":  # a delta chain grew past the threshold
        assert any("-compact-" in p for ps in known.current_snapshot()["buckets"].values()
                   for p in ps)
    for t in (known, inferred):
        assert t.purge_tombstones(below_seq=10)["tombstones_removed"] == 1
    _assert_same(spark, known, inferred, since=range(len(batches)))
    assert {r["commit"] for r in known.read().collect()} == {"c2", "c3", "c4"}


def test_time_travel_reads_the_schema_of_its_snapshot(spark, tmp_path):
    t = MergeTable(spark, str(tmp_path / "t"), merge_keys=KEYS, n_buckets=2, mode="mor")
    t.merge(_mk(spark, [(1, "r", "a.py", "c1", "v1")], _BASE), "b0")
    t.merge(_mk(spark, [(2, "r", "b.py", "c2", "v2", "u")], _WITH_OP), "b1")
    assert "op" in t.read().columns
    old = t.read(as_of=0)
    assert "op" not in old.columns
    assert [r["commit"] for r in old.collect()] == ["c1"]


def test_manifest_without_schema_reads_and_next_commit_writes_it(spark, tmp_path):
    root = str(tmp_path / "t")
    t = MergeTable(spark, root, merge_keys=KEYS, n_buckets=2, mode="mor")
    t.merge(_mk(spark, [(1, "r", "a.py", "c1", "v1")], _BASE), "b0")
    t.merge(_mk(spark, [(2, "r", "b.py", "c2", "v2", "u")], _WITH_OP), "b1")
    want = t.current_snapshot()["schema"]
    rows = sorted(tuple(r) for r in t.read().collect())
    # strip the key, as a manifest written before it existed
    path = os.path.join(root, "snapshots", "1.json")
    with open(path) as f:
        manifest = json.load(f)
    del manifest["schema"]
    with open(path, "w") as f:
        json.dump(manifest, f)
    assert sorted(tuple(r) for r in t.read().collect()) == rows
    t.merge(_mk(spark, [(3, "r", "c.py", "c3", "v3", "u")], _WITH_OP), "b2")
    assert t.current_snapshot()["schema"] == want


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_incompatible_type_fails_before_commit(spark, tmp_path, mode):
    root = str(tmp_path / "t")
    t = MergeTable(spark, root, merge_keys=KEYS, n_buckets=2, mode=mode)
    t.merge(_mk(spark, [(1, "r", "a.py", "c1", "v1")], _BASE), "b0")
    dirs = sorted(os.listdir(os.path.join(root, "data")))
    clash = _mk(spark, [(2, "r", "b.py", "c2", 7)],
                "seq long, repo string, path string, commit string, content long")
    with pytest.raises(ValueError, match="content"):
        t.merge(clash, "b1")
    assert t.current_snapshot()["id"] == 0
    assert sorted(os.listdir(os.path.join(root, "data"))) == dirs
    assert [r["content"] for r in t.read().collect()] == ["v1"]


def _without_jobs(spark, build):
    """``build()``, asserting it launched no Spark job."""
    sc = spark.sparkContext
    sc.setJobGroup(_GROUP, "planning only")
    try:
        out = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(_GROUP)) == []
    return out


def test_planning_a_cycle_starts_no_job(spark, tmp_path):
    log = str(tmp_path / "log")
    generate_repo_changes(spark, 400, seed=6, partitions=2, with_ops=True).write.parquet(log)
    generate_repo_changes(
        spark, 400, seed=6, start_seq=400, partitions=2, with_ops=True
    ).write.mode("append").parquet(log)
    src = TailSource(spark, log)
    t = MergeTable(spark, str(tmp_path / "t"), n_buckets=4, mode="mor",
                   delete_where="op = 'd'")
    t.merge(normalize_changes(src.range_df(0, 399)), "b0")  # warm-up
    t.merge(normalize_changes(src.range_df(400, 599)), "b1")
    batch = _without_jobs(spark, lambda: src.range_df(600, 799))
    assert batch.count() == 200
    # more data dirs than Spark's default parallel-listing threshold (32)
    wide = MergeTable(spark, str(tmp_path / "wide"), n_buckets=17, mode="mor")
    for i in range(2):
        wide.merge(normalize_changes(src.range_df(400 * i, 400 * i + 399)), f"w{i}")
    assert sum(len(ps) for ps in wide.current_snapshot()["buckets"].values()) > 32
    for build in (t.read, lambda: t.changes_since(0), lambda: t.read(buckets=[1]), wide.read):
        df = _without_jobs(spark, build)
        assert df.count() > 0


def _round_trips(spark, fn):
    """Py4J commands ``fn()`` sends, not counting the deletes of garbage
    collected proxies (those belong to whatever created the objects)."""
    client = spark.sparkContext._gateway._gateway_client
    real = client.send_command
    sent = []

    def counting(command, *args, **kwargs):
        if not command.startswith("m\nd\n"):
            sent.append(command)
        return real(command, *args, **kwargs)

    client.send_command = counting
    try:
        fn()
    finally:
        del client.send_command
    return len(sent)


def test_normalize_reuses_its_expressions(spark):
    df = generate_repo_changes(spark, 10, seed=2, with_ops=True)
    first = normalize_changes(df)
    assert _round_trips(spark, lambda: normalize_changes(df)) <= 50
    assert normalize_changes(df).schema == first.schema
    plain = generate_repo_changes(spark, 10, seed=2)
    assert "op" not in normalize_changes(plain).columns
    assert "value_dec" not in normalize_changes(plain, with_decimal_value=False).columns


def test_tail_schema_cached_per_footer_schema(spark, tmp_path):
    log = str(tmp_path / "log")
    generate_repo_changes(spark, 300, seed=4, partitions=3).write.parquet(log)
    src = TailSource(spark, log)
    want = spark.read.parquet(log).schema
    assert src.range_df(0, 99).schema == want
    assert len(src._schemas) == 1
    assert _without_jobs(spark, lambda: src.range_df(100, 299)).schema == want
    # a file with another footer schema gets its own inference
    generate_repo_changes(
        spark, 100, seed=4, start_seq=300, partitions=1, with_ops=True
    ).write.mode("append").parquet(log)
    (new,) = [p for p in glob.glob(f"{log}/*.parquet") if p not in src._index]
    assert src.range_df(300, 399).schema == spark.read.parquet(new).schema
    assert len(src._schemas) == 2
