"""Run state shared by the workloads: the Spark session and its
repeated set-up, the tracer, op accounting and per-layer samples."""

from __future__ import annotations

import subprocess
import time
from collections import defaultdict
from pathlib import Path

from lakehouse_test_spark.session import get_spark, unpin_fixture_tables

from perfbench import probes, stats

#: set-ups per run; setup_s is their median
SETUP_REPS = 3
#: the tail percentile bounded end to end. p75 needs 40 samples per run
#: (ten beyond it); p90's 100 do not fit the time budget of a run, so
#: op_p90_s is only printed beside the result when a run has them. p75
#: sits inside one latency cluster of both mixes; p80 fell on the gap
#: between ingest_scan's cheap operations and its slow SQL reads and
#: merges, and jumped between the two from run to run
TAIL_Q = 0.75


class Run:
    def __init__(self, workload: str, seed: int, seconds: int, traced: bool, work: Path):
        self.workload = workload
        self.seed = seed
        #: hard stop of the timed loop, checked between passes or rounds;
        #: the loop's fixed work takes about ``seconds`` on 4 cores
        self.max_seconds = 3 * seconds
        self.traced = traced
        self.work = work
        self.sf_dir = str(work / "fixtures")
        self.tracer = stats.Tracer(enabled=traced)
        self.oplog = stats.OpLog()
        self.layer_samples: dict[str, list[float]] = defaultdict(list)
        self.per_layer: dict[str, float] = {}
        self.setup_s: list[float] = []
        #: busy seconds of every timed operation by (kind, traced)
        self.op_busy: dict[tuple[str, bool], list[float]] = defaultdict(list)
        #: workload-specific end-to-end figures printed beside the result
        self.report: dict[str, float] = {}
        #: wall seconds per phase of the run, printed for budgeting runs
        self.phases: dict[str, float] = {}
        self._phase_t0 = time.perf_counter()
        self.spark = None
        self.jobs: probes.JobCounter | None = None

    def phase(self, name: str) -> None:
        """Add the time since the last call to phase ``name``."""
        now = time.perf_counter()
        self.phases[name] = self.phases.get(name, 0.0) + now - self._phase_t0
        self._phase_t0 = now

    def trace_op(self, kind: str) -> None:
        """Before a timed operation: a traced run traces every other
        operation of each kind, so its traced and untraced halves hold
        the same mix and ``trace.overhead`` compares like with like."""
        if self.traced:
            self.tracer.enabled = self.oplog.attempted[kind] % 2 == 0

    def record_busy(self, kind: str, seconds: float) -> None:
        self.op_busy[(kind, self.tracer.enabled)].append(seconds)

    @property
    def traced_ops(self) -> int:
        return sum(len(v) for (_, traced), v in self.op_busy.items() if traced)

    def mix_metrics(self, latencies: list[float]) -> dict[str, float]:
        """End-to-end figures of the timed mix: completed operations per
        busy second, median and tail latency (p90 only into the report,
        and only with enough samples)."""
        busy = sum(sum(v) for v in self.op_busy.values())
        self.report["op_p90_s"] = stats.quantile_or_none(latencies, 0.9)
        return {
            "ops_per_s": stats.ratio(len(latencies), busy),
            "op_p50_s": stats.quantile(latencies, 0.5),
            "op_p75_s": stats.quantile(latencies, TAIL_Q),
        }

    def _spark_conf(self) -> dict[str, str]:
        return {
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            # -XX:-UsePerfData: no hsperfdata file under the system /tmp
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work / 'tmp'} -XX:-UsePerfData",
        }

    def setup(self, prepare, warm_up) -> None:
        """Start the session and run ``prepare(spark)``, ``SETUP_REPS``
        times; the state of the last set-up is the one measured. The
        first start launches the JVM; every later one stops the session
        first, so it starts a new SparkContext in the running JVM. Then
        ``warm_up()`` runs, untimed and untraced, so the timed loop sees
        a warm JIT and running Python workers."""
        for rep in range(SETUP_REPS):
            if rep:
                unpin_fixture_tables()
                self.spark.stop()
            t0 = time.perf_counter()
            with self.tracer.span("session", "get_spark"):
                self.spark = get_spark(f"perfbench-{self.workload}", extra_conf=self._spark_conf())
            t1 = time.perf_counter()
            prepare(self.spark)
            self.setup_s.append(time.perf_counter() - t0)
            self.layer_samples["session.get_spark_s"].append(t1 - t0)
        self.phase("setup")
        traced, self.traced = self.traced, False
        self.tracer.enabled = False  # warm-up spans would count as operations
        warm_up()
        self.traced = self.tracer.enabled = traced
        self.tracer.op_id = None
        self.op_busy.clear()
        self.jobs = probes.JobCounter(self.spark)
        self.phase("warm_up")

    def stop(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        unpin_fixture_tables()
        self.spark.stop()
        self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits at EOF on stdin
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
