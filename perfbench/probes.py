"""Outside-in probes: counts the program exposes through public Spark
APIs (``StatusTracker`` under a per-operation job group, a
``StreamingQueryListener``), peak RSS from ``/proc``, the environment
stamp, and cache hygiene between timed operations.
"""

from __future__ import annotations

import hashlib
import os
import platform
import subprocess
import threading
from pathlib import Path

from pyspark.sql.streaming import StreamingQueryListener


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class JobCounter:
    """Jobs, stages, tasks and failed tasks of the Spark work one
    operation started, read from the status tracker under the job group
    the operation ran in."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.totals = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}

    def begin(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def end(self, group: str) -> None:
        self.sc.setJobGroup("", "")
        for jid in self.tracker.getJobIdsForGroup(group):
            self.totals["jobs"] += 1
            job = self.tracker.getJobInfo(jid)
            for sid in job.stageIds if job else ():
                st = self.tracker.getStageInfo(sid)
                ran = st.numCompletedTasks + st.numFailedTasks if st else 0
                if not ran:  # skipped: its output was reused
                    continue
                self.totals["stages"] += 1
                self.totals["tasks"] += ran
                self.totals["failed_tasks"] += st.numFailedTasks


class BatchListener(StreamingQueryListener):
    """Micro-batch count and per-batch trigger durations of every
    streaming query the session runs."""

    def __init__(self):
        self.lock = threading.Lock()
        self.durations_s: list[float] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        ms = event.progress.durationMs.get("triggerExecution")
        if ms is not None:
            with self.lock:
                self.durations_s.append(ms / 1000.0)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def _vm_hwm_kb(pid: int) -> int:
    try:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    out: list[int] = []
    for task in Path(f"/proc/{pid}/task").iterdir():
        try:
            out += [int(c) for c in (task / "children").read_text().split()]
        except OSError:
            pass
    return out


def peak_rss_mb() -> float:
    """Peak RSS of this driver process plus its JVM child, in MB."""
    me = os.getpid()
    jvm = [c for c in _children(me) if "java" in _cmd(c)]
    return (_vm_hwm_kb(me) + sum(_vm_hwm_kb(c) for c in jvm)) / 1024.0


def _cmd(pid: int) -> str:
    try:
        return Path(f"/proc/{pid}/cmdline").read_bytes().replace(b"\0", b" ").decode()
    except OSError:
        return ""


def release_caches_blocking() -> None:
    """Unpersist every registered query-local cache and wait for the
    JVM to drop its blocks, so block removal never overlaps the next
    timed operation; then let the session forget them."""
    from lakehouse_test_spark import session

    for df in list(session._QUERY_CACHES):
        df.unpersist(blocking=True)
    session.release_query_caches()


def program_digest(root: Path) -> str:
    """Commit id when the tree is a git checkout, else a digest of the
    program sources (benchmark checkouts carry no .git)."""
    if (root / ".git").exists():
        try:
            out = subprocess.run(
                ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True, timeout=10
            )
            if out.returncode == 0:
                return out.stdout.strip()
        except OSError:
            pass
    h = hashlib.sha256()
    for p in sorted((root / "lakehouse_test_spark").rglob("*.py")):
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    return "src-" + h.hexdigest()[:16]


def stamp(spark, root: Path, workload: str, seed: int, sf: float, traced: bool) -> dict:
    """Everything two results must share before their numbers may be
    compared (``seed`` and ``commit`` are expected to differ)."""
    import pyspark

    return {
        "workload": workload,
        "nproc": nproc(),
        "local_n": spark.sparkContext.defaultParallelism,
        "master": spark.sparkContext.master,
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "sf": sf,
        "seed": seed,
        "commit": program_digest(root),
        "traced": traced,
    }


#: stamp fields that may differ between results that are compared
VARYING = ("seed", "commit")


def stamp_mismatch(a: dict, b: dict) -> list[str]:
    """Stamp fields (other than the expected-to-vary ones) that differ."""
    keys = (set(a) | set(b)) - set(VARYING)
    return sorted(k for k in keys if a.get(k) != b.get(k))
