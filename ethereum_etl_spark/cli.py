"""Operational CLI — the spark-submit entry surface.

On a cluster:

    spark-submit --py-files ethereum_etl_spark.zip -m ethereum_etl_spark.cli ...

locally:

    python -m ethereum_etl_spark.cli datagen --out /tmp/log --rows 1000000
    python -m ethereum_etl_spark.cli replay  --source /tmp/log --table /tmp/t \
        --start 0 --end 999999 [--partition-size 100000] [--mode mor]
    python -m ethereum_etl_spark.cli stream  --source /tmp/log --table /tmp/t \
        --checkpoint /tmp/ck [--lag 100] [--batch-size 100000] [--seconds 60]
    python -m ethereum_etl_spark.cli latest-state --table /tmp/t --out /tmp/latest
    python -m ethereum_etl_spark.cli export-blocks --input /raw/blocks \
        --out /tmp/blocks_csv [--format csv|jsonl] [--start-block N --end-block M]
    (likewise export-transactions / export-receipts / export-logs /
     export-tokens / export-traces / export-contracts)

The reference's quick_run/build_knowledge_graph.py CLI flags map 1:1:
--start-block/--lag/--period-seconds/--block-batch-size ->
--start/--lag/--poll-seconds/--batch-size (streamer.py:40-58); the
export-* subcommands are the `ethereumetl export_*` entry points this fork
dropped from setup.py (reference setup.py:59-61), mapping each verbatim
field-list exporter (plans/entities.py) to the CSV/JSONL sinks — input is
the raw JSON-RPC-shaped parquet instead of a provider URI.
"""

from __future__ import annotations

import argparse
import json
import sys

from ethereum_etl_spark.plans.merge import MergeTable
from ethereum_etl_spark.plans.replay import replay_range, replay_throughput
from ethereum_etl_spark.session import get_spark
from ethereum_etl_spark.sources.datagen import write_repo_changes
from ethereum_etl_spark.sources.tail import TailSource
from ethereum_etl_spark.streaming.stream import Streamer


_EXPORT_ENTITIES = (
    "blocks", "transactions", "receipts", "logs", "tokens", "traces", "contracts"
)


def _export_entity(spark, args) -> dict:
    """export-<entity>: raw parquet -> field-list projection -> CSV/JSONL."""
    from pyspark.sql import functions as F

    from ethereum_etl_spark.plans import entities as E
    from ethereum_etl_spark.sinks.exporters import write_entity_csv, write_entity_jsonl

    entity = args.cmd[len("export-"):]
    raw = spark.read.parquet(args.input)
    range_col = "block_number"
    if entity == "blocks":
        out, range_col = E.export_blocks(raw), "number"
    elif entity == "transactions":
        out = E.export_transactions(raw)
    elif entity == "receipts":
        out = E.export_receipts(raw)
    elif entity == "logs":
        out = E.export_logs(raw)
    elif entity == "tokens":
        out = E.export_tokens(raw)
    elif entity == "traces":
        from ethereum_etl_spark.operators.traces import flatten_geth_traces_structured

        out = E.export_traces(flatten_geth_traces_structured(raw))
    elif entity == "contracts":
        from ethereum_etl_spark.operators.contracts import classify_contracts

        out = E.export_contracts(classify_contracts(raw))
    else:  # pragma: no cover - argparse restricts the choices
        raise ValueError(entity)
    if args.start_block is not None:
        out = out.filter(F.col(range_col) >= args.start_block)
    if args.end_block is not None:
        out = out.filter(F.col(range_col) <= args.end_block)
    if args.format == "csv":
        write_entity_csv(out, args.out, single_file=args.single_file)
    else:
        write_entity_jsonl(out, args.out, single_file=args.single_file)
    return {"entity": entity, "out": args.out, "format": args.format}


def _table(spark, args) -> MergeTable:
    """Writer-side construction (replay/stream): explicit flags win."""
    return MergeTable(
        spark, args.table, n_buckets=args.buckets, mode=getattr(args, "mode", "cow"),
        merge_salts=getattr(args, "merge_salts", 1),
    )


def _open_table(spark, args) -> MergeTable:
    """Reader-side construction (latest-state / changes-since / history /
    vacuum): merge_keys, order_col, n_buckets, merge_salts and delete_where
    come from the table's own snapshot manifest — guessed defaults resolve
    winners with the WRONG key/order columns on any table built with
    non-default keys (e.g. a wallets table keyed by address/token).
    Explicitly passed flags that conflict with the manifest error out."""
    return MergeTable.open(
        spark, args.table,
        n_buckets=getattr(args, "buckets", None),
        delete_where=getattr(args, "delete_where", None),
    )


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="ethereum_etl_spark")
    p.add_argument("--master", default=None, help="spark master (default local[$SPARK_GRAFT_CPUS])")
    sub = p.add_subparsers(dest="cmd", required=True)

    g = sub.add_parser("datagen", help="materialize a synthetic change log")
    g.add_argument("--out", required=True)
    g.add_argument("--rows", type=int, required=True)
    g.add_argument("--seed", type=int, default=42)
    g.add_argument("--partitions", type=int, default=None)

    r = sub.add_parser("replay", help="batch replay a seq range into the table")
    r.add_argument("--source", required=True)
    r.add_argument("--table", required=True)
    r.add_argument("--start", type=int, required=True)
    r.add_argument("--end", type=int, required=True)
    r.add_argument("--partition-size", type=int, default=None)
    r.add_argument("--buckets", type=int, default=32)
    r.add_argument("--mode", choices=["cow", "mor"], default="cow")
    r.add_argument("--merge-salts", type=int, default=1,
                   help="sub-partition the merge sort (buckets*salts ~ cores*k)")

    s = sub.add_parser("stream", help="tail the change log with checkpointed micro-batches")
    s.add_argument("--source", required=True)
    s.add_argument("--table", required=True)
    s.add_argument("--checkpoint", required=True)
    s.add_argument("--start", type=int, default=None)
    s.add_argument("--lag", type=int, default=0)
    s.add_argument("--batch-size", type=int, default=100_000)
    s.add_argument("--poll-seconds", type=float, default=2.0)
    s.add_argument("--seconds", type=float, default=60.0)
    s.add_argument("--buckets", type=int, default=32)
    s.add_argument("--mode", choices=["cow", "mor"], default="mor")
    s.add_argument("--merge-salts", type=int, default=1,
                   help="sub-partition the merge sort (buckets*salts ~ cores*k)")

    latest = sub.add_parser("latest-state", help="export the latest-commit-per-path view")
    latest.add_argument("--table", required=True)
    latest.add_argument("--out", required=True)
    latest.add_argument("--buckets", type=int, default=None,
                        help="(default: from the table's snapshot manifest)")

    ch = sub.add_parser(
        "changes-since",
        help="export net row-level changes committed after a snapshot "
        "(CDC-out: each changed key once, _change_type upsert|delete)",
    )
    ch.add_argument("--table", required=True)
    ch.add_argument("--snapshot", type=int, required=True,
                    help="consumer's last-seen snapshot id")
    ch.add_argument("--out", required=True)
    ch.add_argument("--buckets", type=int, default=None,
                    help="(default: from the table's snapshot manifest)")
    ch.add_argument("--delete-where", default=None,
                    help="SQL bool marking CDC DELETE rows "
                    "(default: from the table's snapshot manifest)")
    ch.add_argument("--as-of", type=int, default=None,
                    help="pin the read to a retained snapshot id: exports "
                    "the closed range (snapshot, as-of] even if writers "
                    "commit mid-export (default: current snapshot)")

    hist = sub.add_parser(
        "history", help="list retained snapshots (valid time-travel/CDC cursors)"
    )
    hist.add_argument("--table", required=True)
    hist.add_argument("--buckets", type=int, default=None,
                      help="(default: from the table's snapshot manifest)")

    vac = sub.add_parser(
        "vacuum", help="expire old snapshots; delete unreferenced data dirs"
    )
    vac.add_argument("--table", required=True)
    vac.add_argument("--keep-last", type=int, default=2)
    vac.add_argument("--buckets", type=int, default=None,
                     help="(default: from the table's snapshot manifest)")

    fsck = sub.add_parser(
        "fsck", help="verify table integrity (manifest chain, referenced "
        "files, orphan attempt dirs) without running Spark jobs"
    )
    fsck.add_argument("--table", required=True)

    relay = sub.add_parser(
        "relay",
        help="run the CDC relay: poll the table and ship each net delta "
        "to a parquet feed, resuming from the persisted cursor",
    )
    relay.add_argument("--table", required=True)
    relay.add_argument("--out", required=True, help="delta feed directory")
    relay.add_argument("--cursor", required=True, help="cursor file path")
    relay.add_argument("--poll-seconds", type=float, default=2.0)
    relay.add_argument("--seconds", type=float, default=None,
                       help="stop after this long (default: one drain pass)")

    for entity in _EXPORT_ENTITIES:
        e = sub.add_parser(
            f"export-{entity}",
            help=f"project raw {entity} parquet to the reference field list",
        )
        e.add_argument("--input", required=True, help="raw JSON-RPC-shaped parquet dir")
        e.add_argument("--out", required=True)
        e.add_argument("--format", choices=["csv", "jsonl"], default="csv")
        e.add_argument("--start-block", type=int, default=None)
        e.add_argument("--end-block", type=int, default=None)
        e.add_argument("--single-file", action="store_true")

    args = p.parse_args(argv)
    spark = get_spark("ethereum-etl-spark-cli", master=args.master)

    if args.cmd == "datagen":
        write_repo_changes(spark, args.out, args.rows, seed=args.seed, partitions=args.partitions)
        print(json.dumps({"written": args.rows, "out": args.out}))
    elif args.cmd == "replay":
        metrics = replay_range(
            spark, args.source, _table(spark, args), args.start, args.end,
            partition_size=args.partition_size,
        )
        print(json.dumps(replay_throughput(metrics)))
    elif args.cmd == "stream":
        src = TailSource(spark, args.source, lag=args.lag, batch_size=args.batch_size)
        streamer = Streamer(
            spark, src, _table(spark, args), args.checkpoint,
            start_seq=args.start, poll_seconds=args.poll_seconds,
        )
        metrics = streamer.stream(max_seconds=args.seconds)
        print(json.dumps({
            "cycles": len(metrics),
            "rows": sum(m.rows_in for m in metrics),
            "last_synced": streamer.last_synced(),
        }))
    elif args.cmd == "latest-state":
        _open_table(spark, args).latest_state().write.mode("overwrite").parquet(args.out)
        print(json.dumps({"out": args.out}))
    elif args.cmd == "changes-since":
        t = _open_table(spark, args)
        delta = t.changes_since(args.snapshot, as_of=args.as_of)
        delta.write.mode("overwrite").parquet(args.out)
        cur = t.current_snapshot()
        print(json.dumps({
            "out": args.out,
            "since_snapshot": args.snapshot,
            "as_of": args.as_of,
            "current_snapshot": cur["id"] if cur else None,
        }))
    elif args.cmd == "history":
        print(json.dumps(_open_table(spark, args).history()))
    elif args.cmd == "vacuum":
        stats = _open_table(spark, args).expire_snapshots(keep_last=args.keep_last)
        print(json.dumps(stats))
    elif args.cmd == "fsck":
        report = _open_table(spark, args).verify_integrity()
        print(json.dumps(report))
        return 0 if report["ok"] else 1
    elif args.cmd == "relay":
        import time as _time

        from ethereum_etl_spark.streaming.relay import CdcRelay

        r = CdcRelay(_open_table(spark, args), args.out, args.cursor)
        shipped = r.run_until_head()
        if args.seconds is not None:
            deadline = _time.time() + args.seconds
            while _time.time() < deadline:
                _time.sleep(args.poll_seconds)
                shipped.extend(r.run_until_head())
        print(json.dumps({
            "shipped": shipped, "cursor": r.cursor(), "out": args.out,
        }))
    elif args.cmd.startswith("export-"):
        print(json.dumps(_export_entity(spark, args)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
