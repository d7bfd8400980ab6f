"""backfill: a bulk ``replay_range`` into an empty copy-on-write table as
one merge, then copy-on-write upsert merges into the full table, then
full ``read()``s; repeated on a fresh table for as many passes as fill
the run's seconds.

It covers normalize, the light pass, the winner sort and write, and the
CoW union/rewrite against existing buckets. It never uses the tail, the
relay, merge-on-read resolution or compaction.
"""

from __future__ import annotations

import json
import os
import time

import duckdb

from perfbench.context import N_BUCKETS, Bench
from perfbench.harness import file_sizes, median, snapshot_bytes
from perfbench.tracing import breakdown, subtree_jobs

BULK_EVENTS = 40_000
UPSERTS = 1
UPSERT_EVENTS = 4_000
READS = 2
PASS_S = 4.5  # wall of one pass on the reference host
WARMUP_SCALE = 4  # the warm-up pass replays a quarter of the events
TOTAL_EVENTS = BULK_EVENTS + UPSERTS * UPSERT_EVENTS
DELETE_WHERE = "op = 'd'"
# per-layer metrics of the layers this workload never calls; they read 0
BYPASSED_LAYERS = (
    "tail.next_range_first_q_s", "tail.next_range_last_q_s", "stream.run_cycle_s",
    "stream.remainder_s", "stream.freshness_p50_s", "merge.compact_s",
    "merge.compact_cycles", "merge.expire_s", "relay.poll_s", "relay.listing_s",
    "relay.write_s", "relay.driver_s", "relay.rows_shipped", "relay.buckets_scanned_ratio",
)

# every column of the table; the check compares them as text
COLUMNS = [
    "op", "seq", "repo", "path", "commit", "lang", "content", "sha256",
    "content_size", "n_tokens", "value_hex", "day_bucket", "part_label",
    "value_dec",
]


def _one_pass(b: Bench, log: str, root: str, scale: int = 1):
    """Bulk, upserts and reads on a new table at ``root``, with
    1/``scale`` of the events."""
    from ethereum_etl_spark.plans.merge import MergeTable
    from ethereum_etl_spark.plans.replay import replay_range

    table = MergeTable(b.spark, root, n_buckets=N_BUCKETS, delete_where=DELETE_WHERE)
    b.tracer.wrap(table, "merge", "merge.merge")
    bulk, upsert = BULK_EVENTS // scale, UPSERT_EVENTS // scale
    b.attempted += 1
    with b.tracer.span("replay.bulk"):
        replay_range(b.spark, log, table, 0, bulk - 1)
    for j in range(UPSERTS):
        start = bulk + j * upsert
        b.attempted += 1
        with b.tracer.span("replay.upsert"):
            replay_range(b.spark, log, table, start, start + upsert - 1)
    for _ in range(READS):
        b.attempted += 1
        with b.tracer.span("merge.read"):
            table.read().write.format("noop").mode("overwrite").save()
    return table


def state_diffs(b: Bench, table, wants: dict[str, str]) -> tuple[dict[str, int], int]:
    """Write ``table.read()`` once and count, for each DuckDB query in
    ``wants``, the rows by which the two differ (both ways, every column
    compared as text). Returns ({name: differing rows}, visible rows)."""
    from pyspark.sql import functions as F

    out = b.path("check-state")
    table.read().select(*COLUMNS).withColumn(
        "value_dec", F.col("value_dec").cast("string")
    ).write.parquet(out)
    cols = ", ".join(f"CAST({c} AS VARCHAR) AS {c}" for c in COLUMNS)
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW got AS SELECT {cols} FROM read_parquet('{out}/*.parquet')")
        rows = con.execute("SELECT count(*) FROM got").fetchone()[0]
        diffs = {}
        for name, sql in wants.items():
            con.execute(f"CREATE OR REPLACE VIEW want AS SELECT {cols} FROM ({sql})")
            diffs[name] = con.execute(
                "SELECT (SELECT count(*) FROM (SELECT * FROM got EXCEPT ALL SELECT * FROM want))"
                " + (SELECT count(*) FROM (SELECT * FROM want EXCEPT ALL SELECT * FROM got))"
            ).fetchone()[0]
    finally:
        con.close()
    return diffs, rows


def _check(b: Bench, table) -> tuple[bool, int]:
    """The table's state equals the DuckDB replay oracle over the same
    log with tombstones applied, and the table passes its integrity
    check. Returns (ok, visible rows)."""
    from __spark_entry__ import _sql_delete_final_state

    diffs, rows = state_diffs(b, table, {"oracle": _sql_delete_final_state(b.seed, TOTAL_EVENTS)})
    return diffs["oracle"] == 0 and rows > 0 and table.verify_integrity()["ok"], rows


def run(b: Bench):
    from ethereum_etl_spark.sources.datagen import write_repo_changes

    log = b.stage("log", lambda dest: write_repo_changes(
        b.spark, dest, TOTAL_EVENTS, seed=b.seed, partitions=4, with_ops=True,
    ))
    # one pass at WARMUP_SCALE runs every code path once. Later passes
    # still get a little faster (a second, full warm-up pass does not stop
    # that), so every run times the same passes at the same point
    with b.setup_step("setup.warmup_s"):
        _one_pass(b, log, b.path("warmup"), WARMUP_SCALE)
    b.attempted = 0

    tables = []
    with b.timed():
        for i in range(b.units(PASS_S, 3)):
            table = b.guard(_one_pass, b, log, b.path(f"table-{i}"))
            if table is not None:
                tables.append(table)
    if not tables:
        raise RuntimeError("every backfill pass failed")

    t = b.tracer
    bulk = [c for s in t.named("replay.bulk") for c in t.children(s)]
    upserts = [c for s in t.named("replay.upsert") for c in t.children(s)]
    reads = t.named("merge.read")
    t0 = time.perf_counter()
    ok, rows = _check(b, tables[-1])
    b.correct = ok
    b.detail["check_s"] = time.perf_counter() - t0
    written = sum(sum(file_sizes(tb.root).values()) for tb in tables)
    b.e2e.update({
        "events_per_s": median([BULK_EVENTS / s.wall for s in bulk]),
        "merge_p50_s": median([s.wall for s in upserts]),
        "read_p50_s": median([s.wall for s in reads]),
        "storage_bytes_per_row": snapshot_bytes(tables[-1].current_snapshot()) / rows,
        "write_bytes_per_event": written / (len(tables) * TOTAL_EVENTS),
    })
    b.detail.update({
        "passes": len(tables), "visible_rows": rows,
        "samples_s": {
            "bulk_merge": [round(s.wall, 3) for s in bulk],
            "upsert_merge": [round(s.wall, 3) for s in upserts],
            "read": [round(s.wall, 3) for s in reads],
        },
    })
    return lambda: _layers(b, tables[-1])


def _merge_files(table, snapshot_id: int) -> tuple[int, int]:
    """(parquet files, bytes) one merge wrote: paths its snapshot
    references and its parent snapshot did not."""
    snap = table.snapshot_at(snapshot_id)
    old = set()
    if snap.get("parent") is not None:
        old = {p for ps in table.snapshot_at(snap["parent"])["buckets"].values() for p in ps}
    sizes = [
        size for ps in snap["buckets"].values() for p in ps if p not in old
        for path, size in file_sizes(p).items() if path.endswith(".parquet")
    ]
    return len(sizes), sum(sizes)


def _layers(b: Bench, table) -> None:
    spans, jobs = b.fold()
    t = b.tracer

    def merges_under(name):
        return [c for s in t.named(name) for c in t.children(s)]

    def phases(merges, prefix):
        parts = [breakdown(m, spans, jobs) for m in merges]
        for key, metric in (("light_pass", "light_pass_s"), ("write", "write_s"),
                            ("listing", "listing_s"), ("remainder", "driver_s")):
            b.layers[prefix + metric] = median([p.get(key, 0.0) for p in parts])

    bulk = merges_under("replay.bulk")
    phases(bulk, "merge.")
    phases(merges_under("replay.upsert"), "merge.upsert_")
    bulk_jobs = [subtree_jobs(m, spans, jobs) for m in bulk]
    for attr in ("executor_cpu_s", "shuffle_write_bytes", "spill_bytes", "gc_s"):
        b.layers["merge." + attr] = median(
            [sum(getattr(j, attr) for j in js) for js in bulk_jobs]
        )
    b.layers["replay.replay_range_s"] = median([s.wall for s in t.named("replay.bulk")])
    b.layers["merge.read_s"] = median([s.wall for s in t.named("merge.read")])

    # counts of the bulk merge, from the last table's lineage and manifests
    with open(os.path.join(table.root, "lineage.jsonl")) as f:
        bulk_record = json.loads(f.readline())
    b.layers["merge.rows_in"] = bulk_record["rows_in"]
    b.layers["merge.rows_written"] = bulk_record["rows_after_dedup"]
    b.layers["merge.buckets_touched"] = bulk_record["buckets_touched"]
    files, nbytes = _merge_files(table, bulk_record["snapshot_id"])
    b.layers["merge.files_written"] = files
    b.layers["merge.bytes_written"] = nbytes
    snap = table.current_snapshot()
    b.layers["merge.delta_chain_max"] = max(len(ps) for ps in snap["buckets"].values())
    b.layers["merge.read_files"] = sum(
        1 for ps in snap["buckets"].values() for p in ps
        for path in file_sizes(p) if path.endswith(".parquet")
    )
