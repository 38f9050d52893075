"""Shared machinery of the repository benchmark.

- one Spark session builder, sized from the machine it runs on;
- a span tracer whose spans are kept in memory and written as JSON
  lines when the run ends;
- an in-process reader of Spark's own SQL metrics (works with the UI
  disabled, through the SQL status store);
- a peak-RSS sampler over the driver, JVM and Python-worker process tree;
- summary statistics.

Nothing here starts a thread, a process or a Spark session at import.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import statistics
import tempfile
import threading
import time
from pathlib import Path

#: the repository root: the benchmark directory's parent
REPO = Path(__file__).resolve().parent.parent

#: what the benchmark needs from the repository besides its own files
PROGRAM_FILES = ("curies_spark/__init__.py", "__spark_entry__.py", "bench.py")


def missing_program_files() -> "list[str]":
    return [p for p in PROGRAM_FILES if not (REPO / p).is_file()]


# ---------------------------------------------------------------------------
# machine and session
# ---------------------------------------------------------------------------


def machine() -> dict:
    """Cores this process may run on (what ``nproc`` prints) and RAM."""
    with open("/proc/meminfo") as fh:
        kib = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return {"nproc": len(os.sched_getaffinity(0)), "ram_mib": kib // 1024}


def driver_memory_mib(ram_mib: int) -> int:
    """A quarter of RAM, between 1 and 4 GiB: fits the box with room for
    the Python workers and the page cache."""
    return max(1024, min(4096, ram_mib // 4))


def build_session(workdir: Path, nproc: int, ram_mib: int):
    """The one session every workload runs on: ``local[nproc]``, the
    shuffle-partition and Arrow settings of ``bench.py``, the UI off, and
    every scratch file of Spark and Python inside ``workdir``."""
    tmp = workdir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # Python workers are forked from the JVM, which inherits this
    # environment: the repo root on their path lets the command run from
    # any working directory
    paths = [str(REPO)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    # every JVM spark-submit starts (the launcher too): temp files in the
    # work dir and no hsperfdata files in the system temp dir
    java_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        x for x in (os.environ.get("JAVA_TOOL_OPTIONS"), java_opts) if x
    )

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{nproc}]")
        .appName("curies-spark-perfbench")
        .config("spark.driver.memory", f"{driver_memory_mib(ram_mib)}m")
        .config("spark.local.dir", str(workdir / "spark-local"))
        .config("spark.sql.warehouse.dir", str(workdir / "warehouse"))
        .config("spark.sql.shuffle.partitions", str(max(nproc * 2, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # keep every execution of a run readable by the metrics reader
        .config("spark.sql.ui.retainedExecutions", "100000")
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark, timeout: float = 60.0) -> None:
    """Stop the session, end the JVM it launched and wait until no
    process this one started is left (the JVM ends its Python workers)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=timeout)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + timeout
    while _descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)


def environment(nproc: int, ram_mib: int) -> dict:
    """The record every result carries: host-speed sentinel, cores, RAM
    and the versions of the engines measured."""
    import pyarrow
    import pyspark

    import bench

    return {
        "host_calibration_sec": bench._host_calibration(),
        "nproc": nproc,
        "ram_mib": ram_mib,
        "driver_memory_mib": driver_memory_mib(ram_mib),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
    }


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def summary(samples: "list[float]") -> dict:
    """Median, plus the highest percentile with at least ten samples
    beyond it (none below 11 samples), with the sample count and the
    samples in the order they were taken."""
    xs = sorted(samples)
    out = {"median": statistics.median(xs), "n": len(xs), "samples": list(samples)}
    if len(xs) >= 11:
        out[f"p{100 * (len(xs) - 10) // len(xs)}"] = xs[-11]
    return out


def noop_median(tracer: "Tracer", name: str, build) -> float:
    """Median wall of three noop-sink writes, each of a DataFrame freshly
    built by ``build()`` and traced as span ``name``."""
    walls = []
    for _ in range(3):
        df = build()
        t0 = time.perf_counter()
        with tracer.span(name):
            df.write.mode("overwrite").format("noop").save()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def dir_stats(path: Path) -> "tuple[int, int]":
    """(files, bytes) under ``path``."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


# ---------------------------------------------------------------------------
# tracing
# ---------------------------------------------------------------------------


class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory. Disabled,
    ``span`` costs one attribute test and records nothing."""

    def __init__(self, enabled: bool, run_id: str) -> None:
        self.enabled = enabled
        self.run_id = run_id
        self.spans: "list[dict]" = []
        self._stack: "list[int]" = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {
            "id": idx,
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")

    def self_times(self, root_prefix: str) -> "tuple[dict[str, float], float]":
        """Per-layer self time (a span's duration minus what its children
        cover; the layer is the name up to the first dot) summed over the
        span trees rooted at ``root_prefix`` spans, and the share of those
        roots' wall that layer spans cover."""
        children: "dict[int, list[dict]]" = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        layers: "dict[str, float]" = {}
        root_wall = 0.0

        def walk(s: dict) -> None:
            kids = children.get(s["id"], [])
            own = (s["end"] - s["start"]) - union_seconds(
                [(k["start"], k["end"]) for k in kids]
            )
            layer = s["name"].split(".", 1)[0]
            layers[layer] = layers.get(layer, 0.0) + own
            for k in kids:
                walk(k)

        for s in self.spans:
            if s["parent"] is None and s["name"].startswith(root_prefix):
                root_wall += s["end"] - s["start"]
                walk(s)
        root_self = layers.pop("bench", 0.0)
        coverage = 1.0 - root_self / root_wall if root_wall else 0.0
        return layers, coverage


def union_seconds(intervals: "list[tuple[float, float]]") -> float:
    total = 0.0
    end = None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


# ---------------------------------------------------------------------------
# Spark SQL metrics, read in-process
# ---------------------------------------------------------------------------

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}


def parse_metric(text: str) -> float:
    """The total of one formatted SQL metric: ``"12,000"``, ``"3.1 MiB"``,
    ``"450 ms"`` or the multi-task form ``"total (min, med, max …)\\n4.8 s
    (…)"``. Sizes come back in bytes and times in seconds."""
    head = text.split("\n")[-1].split(" (", 1)[0].split()
    value = float(head[0].replace(",", ""))
    return value * _UNITS[head[1]] if len(head) > 1 else value


class SqlMetrics:
    """Executions, SQL metrics, stages and tasks from Spark's status
    stores (``spark.ui.enabled=false`` keeps them in memory)."""

    def __init__(self, spark) -> None:
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._app = spark.sparkContext._jsc.sc().statusStore()

    def mark(self) -> int:
        return int(self._sql.executionsCount())

    def since(self, mark: int, *, plans: bool = False) -> "list[dict]":
        """Every execution started after ``mark``: id, start, end (epoch
        seconds), SQL metric totals by name, stage/task counts and, with
        ``plans``, the physical plan text."""
        seq = self._sql.executionsList(mark, self.mark() - mark)
        out = []
        for i in range(seq.size()):
            e = seq.apply(i)
            eid = e.executionId()
            done = e.completionTime()
            names: "dict[int, str]" = {}
            ms = e.metrics()
            for j in range(ms.size()):
                m = ms.apply(j)
                if m.metricType() != "average":
                    names[m.accumulatorId()] = m.name()
            totals: "dict[str, float]" = {}
            values = self._sql.executionMetrics(eid)
            it = values.iterator()
            while it.hasNext():
                kv = it.next()
                name = names.get(kv._1())
                if name is None:
                    continue
                try:
                    totals[name] = totals.get(name, 0.0) + parse_metric(kv._2())
                except (ValueError, KeyError, IndexError):
                    pass
            stages = tasks = failed = 0
            sit = e.stages().iterator()
            while sit.hasNext():
                sid = sit.next()
                try:
                    sd = self._app.lastStageAttempt(sid)
                except Exception:  # a skipped stage never ran: no attempt
                    continue
                stages += 1
                tasks += sd.numTasks()
                failed += sd.numFailedTasks()
            rec = {
                "id": eid,
                "start": e.submissionTime() / 1000.0,
                "end": done.get().getTime() / 1000.0 if done.isDefined() else time.time(),
                "metrics": totals,
                "stages": stages,
                "tasks": tasks,
                "failed_tasks": failed,
            }
            if plans:
                rec["plan"] = e.physicalPlanDescription()
            out.append(rec)
        return out


#: per-layer engine metrics: (reported name, SQL metric name)
ENGINE_METRICS = (
    ("scan.time_s", "scan time"),
    ("scan.bytes", "size of files read"),
    ("scan.files", "number of files read"),
    ("exchange.bytes", "shuffle bytes written"),
    ("exchange.records", "shuffle records written"),
    ("exchange.write_s", "shuffle write time"),
    ("agg.build_s", "time in aggregation build"),
    ("spill.bytes", "spill size"),
    ("functions.python_run_s", "time to run Python workers"),
    ("functions.python_bytes_sent", "data sent to Python workers"),
    ("functions.python_bytes_returned", "data returned from Python workers"),
    ("functions.arrow_batches", "number of input batches"),
)


def engine_layers(executions: "list[dict]", units: int) -> "dict[str, float]":
    """Engine metrics summed over ``executions`` and divided by the number
    of workload units they belong to."""
    units = max(units, 1)
    out = {}
    for key, metric in ENGINE_METRICS:
        out[key] = sum(e["metrics"].get(metric, 0.0) for e in executions) / units
    out["functions.python_start_s"] = sum(
        e["metrics"].get("time to start Python workers", 0.0)
        + e["metrics"].get("time to initialize Python workers", 0.0)
        for e in executions
    ) / units
    out["spark.executions"] = len(executions) / units
    out["spark.stages"] = sum(e["stages"] for e in executions) / units
    out["spark.tasks"] = sum(e["tasks"] for e in executions) / units
    out["spark.failed_tasks"] = sum(e["failed_tasks"] for e in executions) / units
    return out


# ---------------------------------------------------------------------------
# peak RSS of the process tree
# ---------------------------------------------------------------------------


def _descendants(root: int) -> "set[int]":
    parent: "dict[int, int]" = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        fields = stat.rsplit(")", 1)[1].split()
        if fields[0] != "Z":  # a zombie has ended
            parent[int(name)] = int(fields[1])
    tree, frontier = set(), [root]
    while frontier:
        p = frontier.pop()
        for child, pp in parent.items():
            if pp == p and child not in tree:
                tree.add(child)
                frontier.append(child)
    return tree


def _tree_rss_kib(root: int) -> int:
    total = 0
    for pid in _descendants(root) | {root}:
        try:
            with open(f"/proc/{pid}/status") as fh:
                total += next(
                    (int(line.split()[1]) for line in fh if line.startswith("VmRSS:")), 0
                )
        except OSError:
            continue
    return total


def tree_cpu_s() -> float:
    """User plus system CPU seconds of this process and its descendants
    (the JVM and its Python workers) so far, including what descendants
    that have ended left to the process that reaped them."""
    ticks = 0
    for pid in _descendants(os.getpid()) | {os.getpid()}:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(f) for f in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def timed(fn):
    """``fn()``, the wall seconds it took and the CPU seconds the process
    tree spent meanwhile."""
    t0, cpu0 = time.perf_counter(), tree_cpu_s()
    out = fn()
    return out, time.perf_counter() - t0, tree_cpu_s() - cpu0


def cpu_ticks() -> "list[int]":
    """The machine-wide ``cpu`` line of ``/proc/stat``."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: "list[int]", after: "list[int]") -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_ticks`` readings: the host contention behind noisy walls."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / sum(delta) if sum(delta) else 0.0


class RssSampler:
    """Samples the RSS of this process and all its descendants (the JVM
    and its Python workers) on a background thread; ``peak_mib`` after
    ``stop``."""

    def __init__(self, interval: float = 0.2) -> None:
        self._interval = interval
        self._stop = threading.Event()
        self._thread: "threading.Thread | None" = None
        self.peak_kib = 0

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_kib = max(self.peak_kib, _tree_rss_kib(pid))
            self._stop.wait(self._interval)

    def __enter__(self) -> "RssSampler":
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join()
        self.peak_kib = max(self.peak_kib, _tree_rss_kib(os.getpid()))

    @property
    def peak_mib(self) -> float:
        return self.peak_kib / 1024.0


def plan_paths(plan: str) -> "list[str]":
    """Output and scan locations named in a physical plan's text."""
    return re.findall(r"file:[^\s,\]\)]+", plan)
