"""CdcRelay — the downstream half of the CDC pipeline.

The ingest side (Streamer -> MergeTable) turns a binlog tail into
snapshots; this relay turns snapshots back into a change FEED: each poll
ships the net per-key delta since the persisted cursor (via
``MergeTable.changes_since``) to a parquet sink, then advances the cursor
atomically. Each poll is O(churn), never a table rescan: it reads only the
data dirs written after the cursor, plus an older dir only when its
manifest ``order_col`` bounds say it may hold a row that beats a newer one
(a late or replayed row). On a steady tail that is one dir per bucket, and
since every dir is key-unique the poll needs no winner sort: scan, filter
on ``__snap``, write.
This is how a serving corpus, search index, or replica follows a 100 TB
table without ever re-reading it (the consumer contract is pinned by
``test_incremental_consumer_reconstructs_state``).

Crash safety / exactly-once: delta directories are named by their
snapshot range and written with overwrite mode, the read is PINNED to the
snapshot captured at poll start (``changes_since(last, as_of=...)`` — a
writer committing mid-poll can neither leak later rows into this delta
nor cause them to be re-shipped next poll), and the cursor file is
swapped atomically AFTER the write — a crash between the two re-produces
the same directory idempotently on the next poll. A delta dir is
therefore committed iff its range-end is <= the cursor value; dirs whose
range-end EXCEEDS the cursor are crash orphans (written but never
cursor-committed) and are reclaimed by the next ``poll_once`` before it
writes, so a long-lived relay cannot accumulate dead partial output.
Consumers must treat the cursor file as the source of truth, mirroring
how MergeTable's own manifest pointer governs its data dirs.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid

from ..plans.merge import MergeTable


class CdcRelay:
    def __init__(self, table: MergeTable, out_dir: str, cursor_path: str):
        self.table = table
        self.out_dir = out_dir
        self.cursor_path = cursor_path
        os.makedirs(out_dir, exist_ok=True)

    def cursor(self) -> int:
        """Last consumed snapshot id; -1 before the first poll."""
        if not os.path.exists(self.cursor_path):
            return -1
        with open(self.cursor_path) as f:
            return json.load(f)["snapshot"]

    def _commit_cursor(self, snapshot_id: int) -> None:
        tmp = self.cursor_path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump({"snapshot": snapshot_id}, f)
        os.replace(tmp, self.cursor_path)

    def sweep_orphans(self) -> list[str]:
        """Delete delta dirs whose range-end exceeds the cursor — the
        crash-between-write-and-cursor-commit leftovers (never committed,
        so no consumer may have read them). Returns the removed names."""
        cursor = self.cursor()
        removed = []
        for d in sorted(os.listdir(self.out_dir)):
            m = re.fullmatch(r"delta-(\d+)-(\d+)", d)
            if m and int(m.group(2)) > cursor:
                shutil.rmtree(os.path.join(self.out_dir, d), ignore_errors=True)
                removed.append(d)
        return removed

    def poll_once(self) -> dict | None:
        """Ship one delta if the table advanced; None when caught up."""
        snap = self.table.current_snapshot()
        last = self.cursor()
        if snap is None or snap["id"] <= last:
            return None
        self.sweep_orphans()
        dest = os.path.join(
            self.out_dir, f"delta-{last + 1:06d}-{snap['id']:06d}"
        )
        # pin to the snapshot captured above: rows from commits landing
        # mid-poll belong to the NEXT delta, not this one
        delta = self.table.changes_since(last, as_of=snap["id"])
        delta.write.mode("overwrite").parquet(dest)
        self._commit_cursor(snap["id"])
        return {"from_snapshot": last, "to_snapshot": snap["id"], "out": dest}

    def run_until_head(self, max_polls: int = 1000) -> list[dict]:
        """Drain every pending delta (one per poll cycle when the producer
        is also running; a single catch-all delta when it is idle)."""
        shipped = []
        for _ in range(max_polls):
            r = self.poll_once()
            if r is None:
                break
            shipped.append(r)
        return shipped
