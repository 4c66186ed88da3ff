"""Spark session sizing, the status-store reader, spans, and peak memory.

The session copies the production job's SQL config (``jobs/extract.py``:
AQE on, Arrow on) and adds only what this box needs: ``local[nproc]``, a
JVM heap that fits in the box's memory, the UI off, and scratch
directories inside the benchmark's work directory. The Python workers
get the package the way ``spark-submit --py-files`` gives it to them: a
zip listed in ``spark.submit.pyFiles``.

Flush policy: neither the warehouse writes nor the benchmark's own
files are fsync'd; both go through the page cache, as Spark's local
committer does by default.
"""

from __future__ import annotations

import os
import re
import tempfile
import threading
import time
import zipfile
from contextlib import contextmanager
from pathlib import Path

# The heap is committed and touched at start (-Xms = -Xmx, pre-touch) so
# that peak memory does not depend on when the JVM chose to grow it: without
# this, on a 4-core VM, peak_pss_mb spread 0.17 (IQR/median) over five seeds
# and extraction jobs took 13-16 s instead of 9-11 s. The price is a fixed
# 2 GB floor under the process tree's PSS, so the JVM's own heap use is
# reported apart, as the old generation's peak in the traced job
# (``old_gen_peak``).
DRIVER_MEMORY = "2g"


def build_zip(root: Path, out: Path) -> Path:
    """Zip ``ocr_spark/`` like ``jobs/package.sh`` does."""
    out.parent.mkdir(parents=True, exist_ok=True)
    tmp = out.with_suffix(f".tmp{os.getpid()}")
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as z:
        for f in sorted((root / "ocr_spark").rglob("*.py")):
            z.write(f, f.relative_to(root))
    tmp.replace(out)
    return out


def start_session(cores: int, work: Path, py_zip: Path, app: str):
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -XX:-UsePerfData "
            f"-Djava.io.tmpdir={tempfile.gettempdir()}",
        )
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.local.dir", str(work / "local"))
        .config("spark.sql.warehouse.dir", str(work / "spark-warehouse"))
        .config("spark.submit.pyFiles", str(py_zip))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - any wait failure: kill, then reap
            proc.kill()
            proc.wait()


@contextmanager
def old_gen_peak(spark):
    """Yields a dict whose ``bytes`` is, on exit, the peak of bytes used in
    the JVM heap's old generation while the block ran. Cached partitions,
    large Arrow batches and anything else a job keeps alive end up there."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    pools = [
        p for p in mf.getMemoryPoolMXBeans()
        if "Old Gen" in p.getName() or "Tenured" in p.getName()
    ]
    for p in pools:
        p.resetPeakUsage()
    out = {"bytes": 0}
    try:
        yield out
    finally:
        out["bytes"] = sum(p.getPeakUsage().getUsed() for p in pools)


# -- status store ---------------------------------------------------------

_VALUE = re.compile(r"(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")
_SCALE = {
    "": 1.0, "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30,
    "TiB": 2.0**40, "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}


def parse_metric(text: str) -> float:
    """Total of one formatted SQL metric, in seconds, bytes or a count.

    The status store keeps metrics as Spark formats them, e.g.
    ``"total (min, med, max (stageId: taskId))\\n7.2 s (1.7 s, ...)"``,
    ``"1096.4 KiB"`` or ``"10,484"``."""
    body = text.split("\n")[-1]
    m = _VALUE.search(body)
    if m is None:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SCALE.get(m.group(2), 1.0)


class StatusStore:
    """Reads Spark's SQL status store, which is kept with the UI off."""

    def __init__(self, spark) -> None:
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._app = spark.sparkContext._jsc.sc().statusStore()

    def last_execution(self) -> int:
        lst = self._sql.executionsList()
        n = lst.size()
        return lst.apply(n - 1).executionId() if n else -1

    def executions_after(self, eid: int) -> list[int]:
        lst = self._sql.executionsList()
        ids = (lst.apply(i).executionId() for i in range(lst.size()))
        return [i for i in ids if i > eid]

    def nodes(self, eid: int) -> list[dict]:
        """Every plan node of execution ``eid`` with its parsed metrics."""
        values = self._sql.executionMetrics(eid)
        out = []
        it = self._sql.planGraph(eid).allNodes().iterator()
        while it.hasNext():
            node = it.next()
            metrics = {}
            mit = node.metrics().iterator()
            while mit.hasNext():
                m = mit.next()
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    metrics[m.name()] = parse_metric(str(v.get()))
            out.append({"node": node.name(), "metrics": metrics})
        return out

    def task_run_seconds(self, eid: int) -> float:
        """Summed executor run time of every task of execution ``eid``."""
        stages = self._sql.execution(eid).get().stages().mkString(",")
        return sum(
            self._app.lastStageAttempt(int(s)).executorRunTime() / 1000.0
            for s in stages.split(",") if s
        )

    def task_seconds(self, eid: int) -> list[float]:
        """Task run times of the last stage of execution ``eid``."""
        stages = self._sql.execution(eid).get().stages().mkString(",")
        if not stages:
            return []
        last = max(int(s) for s in stages.split(","))
        tasks = self._app.taskList(last, 0, 1 << 30)
        out = []
        for i in range(tasks.size()):
            d = tasks.apply(i).duration()
            if d.isDefined():
                out.append(d.get() / 1000.0)
        return out


def node_sum(nodes: list[dict], name_prefix: str, metric: str) -> float:
    return sum(
        n["metrics"].get(metric, 0.0)
        for n in nodes
        if n["node"].startswith(name_prefix)
    )


class Tracer:
    """Spans kept in memory and written out once, at the end of the run.

    A span records name, start, end, parent and run id, plus the SQL
    executions that started inside it and their node metrics. The tracer
    acts only before and after the code it wraps; ``overhead_s`` is the
    time it spent doing so."""

    def __init__(self, store: StatusStore, run_id: str) -> None:
        self.store = store
        self.run_id = run_id
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        first = self.store.last_execution()
        rec = {
            "name": name,
            "parent": self._stack[-1]["name"] if self._stack else None,
            "run_id": self.run_id,
            "start": time.time(),
        }
        self._stack.append(rec)
        self.overhead_s += time.perf_counter() - t0
        try:
            yield rec
        finally:
            t0 = time.perf_counter()
            rec["end"] = time.time()
            self._stack.pop()
            rec["executions"] = {
                eid: self.store.nodes(eid)
                for eid in self.store.executions_after(first)
            }
            self.spans.append(rec)
            self.overhead_s += time.perf_counter() - t0

    def nodes(self, rec: dict) -> list[dict]:
        return [n for nodes in rec["executions"].values() for n in nodes]


# -- peak memory of the process tree ---------------------------------------


def tree_pss(root_pid: int) -> int:
    """Proportional set size of ``root_pid`` and all its descendants, in
    bytes. PSS, not RSS: forked children (Python workers, and the JVM's
    short-lived forks before an exec) share pages with their parent, and
    RSS would count those pages once per process."""
    children: dict[int, list[int]] = {}
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open(f"/proc/{entry.name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry.name))
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


class PeakMemory:
    """Samples the tree's PSS every ``interval`` seconds while active."""

    def __init__(self, interval: float = 0.1) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            self.peak = max(self.peak, tree_pss(pid))
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "PeakMemory":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
