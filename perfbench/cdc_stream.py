"""cdc_stream: a closed loop over a merge-on-read table seeded during
set-up; the steady state of a caught-up CDC pipeline.

Each cycle renames one pre-generated parquet file holding the next seq
range into the change log (that moment is the events' creation stamp),
then runs ``Streamer.run_cycle``, ``CdcRelay.poll_once`` and
``expire_snapshots(keep_last=2)``, then a resolved ``read()``. It puts
writes (MOR appends, compaction, expiry) beside reads (``changes_since``,
resolved read) and never takes the copy-on-write rewrite path.

Latency has two modes: every batch touches all buckets, so every
COMPACT_EVERY-th cycle compacts them and takes two to three times as
long. Cycles run in whole blocks of COMPACT_EVERY, so exactly one in
COMPACT_EVERY compacts. A tail percentile with 10 samples beyond it would
reach into the compacting mode only past 40 cycles, far more than a run
can afford, so no tail is reported: the medians sit in the
non-compacting mode, and compaction is reported on its own, with its
cycle count, in the traced run.
"""

from __future__ import annotations

import glob
import os
import re
import time

import pyarrow.parquet as pq

from perfbench.backfill import DELETE_WHERE, state_diffs
from perfbench.context import N_BUCKETS, Bench
from perfbench.harness import file_sizes, median, snapshot_bytes
from perfbench.tracing import breakdown, subtree_jobs

SEED_EVENTS = 5_000
BATCH_EVENTS = 5_000
COMPACT_EVERY = 4
WARMUP_CYCLES = 4  # one whole block, so the timed compaction is not the first
CYCLE_S = 4.5  # wall of one cycle on the reference host
KEYS = ["repo", "path", "commit"]
# per-layer metrics of the layers this workload never calls; they read 0
BYPASSED_LAYERS = (
    "replay.replay_range_s", "merge.upsert_light_pass_s", "merge.upsert_write_s",
    "merge.upsert_listing_s", "merge.upsert_driver_s",
)


def _stage(b: Bench, dest: str, batches: int) -> None:
    """The seed log under ``dest/log``, plus one parquet file for each of
    ``batches`` future batches under ``dest/feed/__feed=<k>``, written by
    one job."""
    from pyspark.sql import functions as F

    from ethereum_etl_spark.sources.datagen import generate_repo_changes

    gen = generate_repo_changes(
        b.spark, SEED_EVENTS + batches * BATCH_EVENTS,
        seed=b.seed, partitions=4, with_ops=True,
    )
    seq = F.col("seq")
    feed = gen.withColumn("__feed", F.when(seq < SEED_EVENTS, -1).otherwise(
        ((seq - SEED_EVENTS) / BATCH_EVENTS).cast("int")
    ))
    feed.repartition("__feed").write.partitionBy("__feed").parquet(os.path.join(dest, "feed"))
    os.rename(os.path.join(dest, "feed", "__feed=-1"), os.path.join(dest, "log"))


def _snapshot_id_of(path: str) -> int:
    """Id of the snapshot that wrote a data path (its ``s<id>`` dir)."""
    return int(re.search(r"/data/s(\d+)", path).group(1))


class _Loop:
    """The pipeline under test and what each cycle leaves behind."""

    def __init__(self, b: Bench, staged: str):
        from ethereum_etl_spark.plans.merge import MergeTable
        from ethereum_etl_spark.sources.tail import TailSource
        from ethereum_etl_spark.streaming.relay import CdcRelay
        from ethereum_etl_spark.streaming.stream import Streamer

        self.b = b
        self.log = os.path.join(staged, "log")
        self.feed = os.path.join(staged, "feed")
        self.table = MergeTable(
            b.spark, b.path("table"), n_buckets=N_BUCKETS, mode="mor",
            compact_threshold=COMPACT_EVERY, delete_where=DELETE_WHERE,
        )
        source = TailSource(b.spark, self.log, lag=0, batch_size=BATCH_EVENTS)
        self.streamer = Streamer(
            b.spark, source, self.table, b.path("checkpoint"), start_seq=SEED_EVENTS,
        )
        self.relay = CdcRelay(self.table, b.path("relay"), b.path("relay-cursor.json"))
        t = b.tracer
        t.wrap(source, "next_range", "tail.next_range")
        t.wrap(self.table, "merge", "merge.merge")
        self.next_batch = 0
        self.sizes = file_sizes(self.table.root)
        self.cycles: list[dict] = []

    def seed(self) -> None:
        from ethereum_etl_spark.plans.replay import replay_range

        replay_range(self.b.spark, self.log, self.table, 0, SEED_EVENTS - 1)
        self.relay.poll_once()
        self.sizes = file_sizes(self.table.root)

    def cycle(self) -> None:
        b, t, k = self.b, self.b.tracer, self.next_batch
        self.next_batch += 1
        b.attempted += 1
        (staged,) = glob.glob(os.path.join(self.feed, f"__feed={k}", "*.parquet"))
        cursor = self.relay.cursor()
        t0 = time.time()
        os.rename(staged, os.path.join(self.log, f"feed-{k:05d}.parquet"))
        with t.span("stream.run_cycle") as cyc:
            m = self.streamer.run_cycle()
        with t.span("relay.poll_once"):
            shipped = self.relay.poll_once()
        committed = time.time()
        with t.span("merge.expire"):
            self.table.expire_snapshots(keep_last=2)
        with t.span("merge.read"):
            self.table.read().write.format("noop").mode("overwrite").save()
        wall = time.time() - t0
        if m is None or shipped is None:
            raise RuntimeError(f"batch {k}: the cycle or the relay found nothing new")
        self.cycles.append(self._account(k, cyc, m, shipped, cursor, committed - t0, wall))

    def _account(self, k, cyc, m, shipped, cursor, freshness, wall) -> dict:
        """What one cycle did, from the filesystem and manifests; outside
        the cycle's wall."""
        sizes = file_sizes(self.table.root)
        new_files = new_bytes = 0
        for path, size in sizes.items():
            grown = size - self.sizes.get(path, 0)
            if grown > 0:
                new_bytes += grown
                new_files += path not in self.sizes and path.endswith(".parquet")
        self.sizes = sizes
        snap = self.table.snapshot_at(shipped["to_snapshot"])
        scanned = sum(
            1 for ps in snap["buckets"].values()
            if any(_snapshot_id_of(p) > cursor for p in ps)
        )
        rows = sum(
            pq.ParquetFile(f).metadata.num_rows
            for f in glob.glob(os.path.join(shipped["out"], "*.parquet"))
        )
        return {
            "batch": k, "span": cyc.op_id, "cycle_s": cyc.wall, "freshness_s": freshness,
            "wall_s": wall, "rows_in": m.rows_in, "rows_written": m.rows_after_dedup,
            "buckets_touched": m.buckets_touched, "files_written": new_files,
            "bytes_written": new_bytes, "rows_shipped": rows,
            "buckets_scanned_ratio": scanned / N_BUCKETS,
            "compacted": any(f"/s{snap['id']:06d}-compact-" in p
                             for ps in snap["buckets"].values() for p in ps),
            "delta_chain": max(len(ps) for ps in snap["buckets"].values()),
            # the snapshot the cycle's read resolved
            "read_files": sum(
                1 for ps in snap["buckets"].values() for p in ps
                for f in file_sizes(p) if f.endswith(".parquet")
            ),
        }


def _check(b: Bench, loop: _Loop) -> tuple[bool, int]:
    """``read()`` equals both the shipped relay deltas applied in order
    and the DuckDB replay oracle over every event fed to the log; the
    table passes its integrity check; the stream consumed every batch.
    Returns (ok, visible rows)."""
    from __spark_entry__ import _sql_delete_final_state

    keys = ", ".join(KEYS)
    deltas = f"""
        SELECT * FROM (
          SELECT *, row_number() OVER (PARTITION BY {keys} ORDER BY delta DESC) AS rn
          FROM (SELECT *, CAST(regexp_extract(filename, 'delta-(\\d+)-', 1) AS BIGINT) AS delta
                FROM read_parquet('{loop.relay.out_dir}/delta-*/*.parquet',
                                  filename = true, union_by_name = true)))
        WHERE rn = 1 AND _change_type = 'upsert'"""
    fed = SEED_EVENTS + loop.next_batch * BATCH_EVENTS
    diffs, rows = state_diffs(b, loop.table, {
        "deltas": deltas, "oracle": _sql_delete_final_state(b.seed, fed),
    })
    ok = (
        diffs == {"deltas": 0, "oracle": 0} and rows > 0
        and loop.table.verify_integrity()["ok"]
        and loop.streamer.last_synced() == fed - 1
    )
    return ok, rows


def run(b: Bench):
    # whole blocks keep the compacting share at one cycle in COMPACT_EVERY
    n_cycles = COMPACT_EVERY * b.units(COMPACT_EVERY * CYCLE_S, 1)
    staged = b.stage("inputs", lambda dest: _stage(b, dest, WARMUP_CYCLES + n_cycles))
    loop = _Loop(b, staged)
    with b.setup_step("setup.warmup_s"):
        loop.seed()
        for _ in range(WARMUP_CYCLES):
            loop.cycle()
    b.attempted = 0
    loop.cycles.clear()

    with b.timed():
        for _ in range(n_cycles):
            b.guard(loop.cycle)
    cycles = loop.cycles
    if not cycles:
        raise RuntimeError("every cycle failed")

    t0 = time.perf_counter()
    ok, rows = _check(b, loop)
    b.correct = ok
    b.detail["check_s"] = time.perf_counter() - t0
    cycle_s = [c["cycle_s"] for c in cycles]
    fresh = [c["freshness_s"] for c in cycles]
    b.e2e.update({
        "events_per_s": sum(c["rows_shipped"] for c in cycles) / sum(c["wall_s"] for c in cycles),
        "merge_p50_s": median(cycle_s),
        "read_p50_s": median([s.wall for s in b.tracer.named("merge.read")]),
        "storage_bytes_per_row": snapshot_bytes(loop.table.current_snapshot()) / rows,
        "write_bytes_per_event": (
            sum(c["bytes_written"] for c in cycles) / sum(c["rows_in"] for c in cycles)
        ),
    })
    b.detail.update({
        "cycles": len(cycles),
        "compacting_cycles": sum(c["compacted"] for c in cycles),
        "visible_rows": rows,
        "samples_s": {
            "run_cycle": [round(v, 3) for v in cycle_s],
            "freshness": [round(v, 3) for v in fresh],
            "read": [round(s.wall, 3) for s in b.tracer.named("merge.read")],
        },
    })
    return lambda: _layers(b, cycles)


def _layers(b: Bench, cycles: list[dict]) -> None:
    spans, jobs = b.fold()
    t = b.tracer
    by_id = {s.op_id: s for s in spans}
    runs = [by_id[c["span"]] for c in cycles]
    merges = [c for r in runs for c in t.children(r) if c.name == "merge.merge"]
    parts = [breakdown(m, spans, jobs) for m in merges]
    for key in ("light_pass", "write"):
        b.layers[f"merge.{key}_s"] = median([p.get(key, 0.0) for p in parts])
    # only compacting merges list files (the delta chains they rewrite), so
    # the median would always read 0: report the mean per merge
    b.layers["merge.listing_s"] = sum(p.get("listing", 0.0) for p in parts) / len(parts)
    b.layers["merge.driver_s"] = median([p["remainder"] for p in parts])
    compacting = [p["compact"] for p in parts if "compact" in p]
    if compacting:
        b.layers["merge.compact_s"] = median(compacting)
    b.layers["merge.compact_cycles"] = len(compacting)
    merge_jobs = [subtree_jobs(m, spans, jobs) for m in merges]
    for attr in ("executor_cpu_s", "shuffle_write_bytes", "spill_bytes", "gc_s"):
        b.layers["merge." + attr] = median(
            [sum(getattr(j, attr) for j in js) for js in merge_jobs]
        )
    for key in ("rows_in", "rows_written", "buckets_touched", "files_written",
                "bytes_written", "rows_shipped", "buckets_scanned_ratio"):
        layer = "relay" if key in ("rows_shipped", "buckets_scanned_ratio") else "merge"
        b.layers[f"{layer}.{key}"] = median([c[key] for c in cycles])
    b.layers["merge.delta_chain_max"] = max(c["delta_chain"] for c in cycles)
    b.layers["merge.read_files"] = median([c["read_files"] for c in cycles])
    b.layers["merge.read_s"] = median([s.wall for s in t.named("merge.read")])
    b.layers["merge.expire_s"] = median([s.wall for s in t.named("merge.expire")])

    heads = [s.wall for s in t.named("tail.next_range")]
    quarter = max(len(heads) // 4, 1)
    b.layers["tail.next_range_first_q_s"] = median(heads[:quarter])
    b.layers["tail.next_range_last_q_s"] = median(heads[-quarter:])

    polls = t.named("relay.poll_once")
    b.layers["relay.poll_s"] = median([s.wall for s in polls])
    poll_parts = [breakdown(s, spans, jobs) for s in polls]
    for key, metric in (("listing", "listing_s"), ("write", "write_s"),
                        ("remainder", "driver_s")):
        b.layers[f"relay.{metric}"] = median([p.get(key, 0.0) for p in poll_parts])

    b.layers["stream.run_cycle_s"] = median([r.wall for r in runs])
    b.layers["stream.freshness_p50_s"] = median([c["freshness_s"] for c in cycles])
    b.layers["stream.remainder_s"] = median(
        [breakdown(r, spans, jobs)["remainder"] for r in runs]
    )
