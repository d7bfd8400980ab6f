"""State of one benchmark run: the Spark session, the tracer, set-up
timings, the timed window and the results the workload fills in."""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback
from contextlib import contextmanager

from perfbench.harness import (
    host_cpu_ticks, median, peak_rss_mb, process_tree, steal_share,
    tree_cpu_seconds, wait_gone,
)
from perfbench.tracing import Job, Span, Tracer, attribute, read_event_log

# One process at a fixed parallelism: local[4] fits the 4-core host the
# figures in README.md come from. Partition and bucket counts are fixed so
# runs compare across hosts; they are never read from the environment.
CORES = 4
MASTER = f"local[{CORES}]"
SHUFFLE_PARTITIONS = 8
N_BUCKETS = 8
DRIVER_MEMORY = "3g"
# The heap starts at its full size with a fixed young generation, so the
# collector sizes it the same way in every run: adaptive resizing made
# peak RSS and the timings move from run to run.
JVM_HEAP_OPTIONS = f"-Xms{DRIVER_MEMORY} -Xmn1g"
# input staging runs this many times per run; setup_s takes the median
STAGE_REPEATS = 3


class Bench:
    def __init__(self, work: str, seed: int, seconds: int, trace: bool):
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.pid = os.getpid()
        self.spark = None
        self.tracer = Tracer()
        self.setup: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.correct = False
        self.e2e: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.detail: dict = {}
        self.cpu_s = 0.0
        self.timed_s = 0.0

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    # ------------------------------------------------------------ set-up

    def start_spark(self) -> None:
        from ethereum_etl_spark.session import get_spark

        conf = {
            "spark.local.dir": self.path("spark-local"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={self.path('tmp')} {JVM_HEAP_OPTIONS}"
            ),
        }
        if self.trace:
            os.makedirs(self.path("eventlog"))
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                # Spark 4 rolls event logs by default; one plain file is
                # what read_event_log reads
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.dir": self.path("eventlog"),
            })
        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench", master=MASTER, shuffle_partitions=SHUFFLE_PARTITIONS,
            extra_conf=conf,
        )
        self.setup["session.get_spark_s"] = time.perf_counter() - t0
        self.tracer = Tracer(self.spark.sparkContext if self.trace else None)

    def stage(self, name: str, write) -> str:
        """Run ``write(dest)`` STAGE_REPEATS times into fresh dirs and keep
        the last; set-up counts the median wall."""
        walls = []
        for i in range(STAGE_REPEATS):
            dest = self.path(f"{name}-{i}")
            t0 = time.perf_counter()
            write(dest)
            walls.append(time.perf_counter() - t0)
            if i < STAGE_REPEATS - 1:
                shutil.rmtree(dest)
        self.setup["datagen.write_s"] = median(walls)
        return dest

    @contextmanager
    def setup_step(self, name: str):
        t0 = time.perf_counter()
        yield
        self.setup[name] = self.setup.get(name, 0.0) + time.perf_counter() - t0

    # ------------------------------------------------------------ timing

    @contextmanager
    def timed(self):
        """The measured window. Spans from set-up and warm-up are dropped
        so every figure comes from inside it."""
        self.tracer.reset()
        host0 = host_cpu_ticks()
        cpu0 = tree_cpu_seconds(self.pid)
        t0 = time.perf_counter()
        yield
        self.timed_s = time.perf_counter() - t0
        self.cpu_s = tree_cpu_seconds(self.pid) - cpu0
        self.detail["timed_steal_share"] = steal_share(host0, host_cpu_ticks())

    def units(self, nominal_s: float, minimum: int) -> int:
        """How many units of work (passes, cycles) a run measures: as many
        as fill ``--seconds`` at ``nominal_s`` each on the reference host
        (4 cores; see README.md), and at least ``minimum``. A count fixed
        by ``--seconds`` rather than by the clock keeps the work, and so
        cpu_s and the sample counts, the same in every run."""
        return max(minimum, round(self.seconds / nominal_s))

    def guard(self, fn, *args):
        """Run ``fn``; when it raises, count one failed operation, print
        the traceback to stderr and return None. ``fn`` counts the
        operations it attempts in ``self.attempted``."""
        try:
            return fn(*args)
        except Exception:  # noqa: BLE001 - a failed operation is a result
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            return None

    # ------------------------------------------------------------ results

    def finish_common(self) -> None:
        self.e2e["setup_s"] = sum(self.setup.values())
        self.detail["setup"] = self.setup
        self.detail["timed_s"] = self.timed_s
        self.e2e["cpu_s"] = self.cpu_s
        self.e2e["peak_rss_mb"] = peak_rss_mb(self.pid)
        self.layers.update(self.setup)
        self.layers["trace.span_overhead_s"] = self.tracer.overhead_s

    def fold(self) -> tuple[list[Span], list[Job]]:
        """Spans of the timed window with the event log's jobs attributed
        to them; call after the session has stopped and flushed the log."""
        jobs = read_event_log(self.path("eventlog"))
        spans = self.tracer.spans
        attribute(spans, jobs)
        if spans:
            lo, hi = spans[0].start, max(s.end for s in spans)
            self.layers["trace.unattributed_jobs"] = sum(
                1 for j in jobs if j.span is None and lo <= j.start <= hi
            )
        return spans, jobs

    def stop(self) -> None:
        """Stop the session, then the JVM, and wait until the JVM and every
        process under it (Python workers) has exited."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        children = [p for p in process_tree(self.pid) if p != self.pid]
        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None
        stragglers = wait_gone(children, timeout=30)
        if stragglers:
            print(f"killed processes that outlived the session: {stragglers}", file=sys.stderr)
