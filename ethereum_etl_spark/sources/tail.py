"""TailSource — chain-head polling over the change-event log.

Reference semantics rebuilt (SURVEY.md §2.9 T1-T4):
- head poll      `get_current_block_number()` (eth_knowledge_graph_streamer_adapter.py:81-82)
                 → the max ``seq`` of the log. For a local path source it is
                 answered from a driver-side index of each file's seq range,
                 built from parquet footer statistics of new or changed
                 files only — no Spark job (on Iceberg it's a
                 snapshot-summary lookup)
- reorg lag      `target = head - lag` (streamer.py:110-111) — withhold the
                 newest `lag` events until they settle
- batch cap      `target = min(target, last + batch_size)` (streamer.py:112)
- offset math    next range is `(last_synced + 1, target)`, empty when the
                 head hasn't advanced
"""

from __future__ import annotations

import os
from urllib.parse import urlparse

import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# (min seq, max seq) of one log file; (None, None) when it holds no seq
Bounds = tuple[int | None, int | None]
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _hidden(name: str) -> bool:
    """Spark's rule for paths a file scan skips: ``_``-prefixed names that
    are not ``key=value`` partition dirs, ``.``-prefixed names, and files
    still being copied."""
    return (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )


def _data_files(root: str):
    """(path, (mtime_ns, size)) of every file a Spark scan of ``root`` reads."""
    if os.path.isfile(root):
        st = os.stat(root)
        yield root, (st.st_mtime_ns, st.st_size)
        return
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = [d for d in dirnames if not _hidden(d)]
        for name in filenames:
            if not _hidden(name):
                path = os.path.join(dirpath, name)
                st = os.stat(path)
                yield path, (st.st_mtime_ns, st.st_size)


def _footer(path: str) -> tuple[Bounds, tuple]:
    """Seq range of one parquet file from its footer's row-group
    statistics (a file with a row group lacking min/max stats has its
    ``seq`` column read instead), and a key of everything in the footer
    Spark's schema inference reads: the parquet schema (its first line is
    the object's repr) and the Spark schema Spark writes beside it."""
    pf = pq.ParquetFile(path)
    md = pf.metadata
    key = (str(md.schema).partition("\n")[2], (md.metadata or {}).get(_SPARK_SCHEMA_KEY))
    return _seq_range(pf), key


def _seq_range(pf: pq.ParquetFile) -> Bounds:
    md = pf.metadata
    col = next(
        (i for i in range(md.num_columns) if md.schema.column(i).path == "seq"), None
    )
    if col is None:
        return None, None
    lo = hi = None
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        if rg.num_rows == 0:
            continue
        st = rg.column(col).statistics
        if st is None or not st.has_min_max:
            mm = pc.min_max(pf.read(columns=["seq"]).column("seq"))
            return mm["min"].as_py(), mm["max"].as_py()
        lo = st.min if lo is None else min(lo, st.min)
        hi = st.max if hi is None else max(hi, st.max)
    return lo, hi


class TailSource:
    def __init__(
        self,
        spark: SparkSession,
        source: str | DataFrame,
        lag: int = 0,
        batch_size: int = 100_000,
    ):
        self.spark = spark
        self._source = source
        self.lag = lag
        self.batch_size = batch_size
        # path -> ((mtime_ns, size), seq bounds, footer schema key) for a
        # local path source
        self._index: dict[str, tuple[tuple[int, int], Bounds, tuple]] = {}
        # footer schema key -> the Spark schema inferred from such a file
        self._schemas: dict[tuple, StructType] = {}

    def df(self) -> DataFrame:
        if isinstance(self._source, str):
            return self.spark.read.parquet(self._source)
        return self._source

    def _local_root(self) -> str | None:
        """Local filesystem path of a path source; None for a DataFrame or
        a remote URI, which keep the Spark scan."""
        if not isinstance(self._source, str):
            return None
        u = urlparse(self._source)
        if u.scheme == "file":
            return u.path
        return self._source if u.scheme == "" else None

    def _file_bounds(self, root: str) -> dict[str, Bounds]:
        """Seq bounds of every data file under ``root``. Footers are read
        only for files that are new or whose (mtime, size) changed; files
        that disappeared leave the index."""
        if not os.path.exists(root):
            raise FileNotFoundError(f"change log {root} does not exist")
        index = {}
        for path, stamp in _data_files(root):
            hit = self._index.get(path)
            if hit is None or hit[0] != stamp:
                hit = (stamp, *_footer(path))
            index[path] = hit
        self._index = index
        return {p: b for p, (_, b, _) in index.items()}

    def head_seq(self) -> int:
        """Current head of the log (max seq); -1 for an empty log. A local
        path source answers from footer statistics without a Spark job."""
        root = self._local_root()
        if root is None:
            row = self.df().select(F.max("seq")).first()
            return -1 if row[0] is None else int(row[0])
        return max(
            (hi for _, hi in self._file_bounds(root).values() if hi is not None),
            default=-1,
        )

    def next_range(self, last_synced: int) -> tuple[int, int] | None:
        """(start, end) of the next micro-batch after ``last_synced``,
        honoring lag and batch cap; None when nothing new is visible."""
        target = self.head_seq() - self.lag
        target = min(target, last_synced + self.batch_size)
        if target <= last_synced:
            return None
        return last_synced + 1, target

    def range_df(self, start: int, end: int) -> DataFrame:
        """Scan of one micro-batch. A local path source reads only the files
        whose seq range overlaps ``[start, end]`` (``basePath`` keeps any
        partition columns); the predicate is pushed into the parquet reader
        either way (row-group pruning on the seq statistics).

        Spark infers a scan's schema from the footer of its first file (by
        path) in a job of its own; when the files sit directly under the
        root (no partition columns), the schema inferred for a footer like
        the first file's is passed instead, so only a new footer schema
        costs that job."""
        pred = (F.col("seq") >= start) & (F.col("seq") <= end)
        root = self._local_root()
        if root is None:
            return self.df().filter(pred)
        files = sorted(
            p for p, (lo, hi) in self._file_bounds(root).items()
            if lo is not None and lo <= end and hi >= start
        )
        if not files:
            return self.df().filter(pred)  # empty, with the log's schema
        reader = self.spark.read
        if os.path.isdir(root):
            reader = reader.option("basePath", root)
        flat = all(
            os.path.normpath(os.path.dirname(p)) == os.path.normpath(root) for p in files
        )
        key = self._index[files[0]][2] if flat else None
        if key in self._schemas:
            reader = reader.schema(self._schemas[key])
        df = reader.parquet(*files)
        if key is not None and key not in self._schemas:
            self._schemas[key] = df.schema
        return df.filter(pred)
