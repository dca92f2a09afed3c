"""Process plumbing for the sketch benchmark: working directories, the Spark
session lifecycle, worker memory sampling, noise records, driver-side spans
and Spark event-log parsing.

Nothing here imports ``poppy_spark`` at module level; :func:`import_program`
does, so a checkout without the program fails before any Spark process
starts.
"""

from __future__ import annotations

import json
import os
import shlex
import statistics
import subprocess
import sys
import tempfile
import threading
import time
from contextlib import contextmanager
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK_ROOT = ROOT / ".sketchbench"

#: Arrow batch size Spark hands Python workers (``get_spark`` pins it)
ARROW_BATCH_ROWS = 16384
#: parquet file count of every generated input; with the split size pinned
#: to one file per split, scans have this many partitions on any core count
INPUT_FILES = 8
SPLIT_BYTES = 1 << 30


def import_program() -> None:
    """Make the repository root importable and import the program, so a
    directory without it fails here, before any process starts."""
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    import poppy_spark.sketches  # noqa: F401
    import poppy_spark.spark  # noqa: F401


def cores() -> int:
    """Spark cores: four, or fewer on a smaller host."""
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(4, n))


def prepare_env(trace: bool) -> Path:
    """Create this run's working directory inside the checkout and point
    every temporary path of Python, the JVM and Spark at it.  Must run
    before the first Spark session starts."""
    work = WORK_ROOT / f"run-{os.getpid()}"
    for sub in ("tmp", "local", "events", "data"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    tmp = str(work / "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    # Python workers are started by the JVM from its own cwd; without the
    # root on their path they fail with ModuleNotFoundError: poppy_spark
    prev = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + prev if prev else "")
    args = [
        "--driver-java-options",
        shlex.quote(f"-Djava.io.tmpdir={tmp}"),
        "--conf",
        "spark.ui.showConsoleProgress=false",
        "--conf",
        shlex.quote(f"spark.sql.warehouse.dir={work / 'warehouse'}"),
    ]
    if trace:
        args += [
            "--conf",
            "spark.eventLog.enabled=true",
            "--conf",
            "spark.eventLog.compress=false",
            "--conf",
            "spark.eventLog.rolling.enabled=false",
            "--conf",
            shlex.quote(f"spark.eventLog.dir={(work / 'events').as_uri()}"),
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])
    return work


class Session:
    """One Spark session at a time; ``restart`` stops the current context
    and starts a fresh one in the same JVM (fresh Python workers)."""

    def __init__(self, n_cores: int):
        self.n_cores = n_cores
        self.spark = None

    def start(self, n_cores: int | None = None):
        from poppy_spark.spark.session import get_spark

        self.spark = get_spark(
            app_name="sketchbench",
            master=f"local[{n_cores or self.n_cores}]",
            shuffle_partitions=INPUT_FILES,  # core-count independent too
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.conf.set("spark.sql.session.timeZone", "UTC")
        # one scan split per parquet file whatever the core count: no input
        # file reaches the split size, and a file's open cost alone fills a
        # split, so no two files share one
        self.spark.conf.set("spark.sql.files.maxPartitionBytes", str(SPLIT_BYTES))
        self.spark.conf.set("spark.sql.files.openCostInBytes", str(SPLIT_BYTES))
        return self.spark

    def restart(self, n_cores: int | None = None):
        self.spark.stop()
        return self.start(n_cores)

    def set_event_log(self, enabled: bool) -> None:
        """Event logging of the NEXT context: the flag given at JVM launch
        lives in a system property every new SparkConf reads."""
        jvm = self.spark.sparkContext._jvm
        jvm.java.lang.System.setProperty("spark.eventLog.enabled", str(enabled).lower())

    def warm_workers(self) -> None:
        """Start one Python worker per core and import the program there."""
        import pyarrow as pa

        def warm(batches):
            import poppy_spark.core.hashkern  # noqa: F401
            import poppy_spark.sketches  # noqa: F401
            import poppy_spark.spark.agg  # noqa: F401

            for b in batches:
                yield pa.RecordBatch.from_arrays([b.column(0)], ["id"])

        n = self.n_cores
        self.spark.range(n, numPartitions=n).mapInArrow(warm, "id long").collect()

    def close(self) -> None:
        """Stop Spark, then the JVM, and wait until every child is gone."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            try:
                gw.shutdown()
            except Exception:  # the gateway may already be gone
                pass
            if proc is not None:
                try:
                    proc.stdin.close()
                except (AttributeError, OSError):
                    pass
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.monotonic() + 30
        while descendants() and time.monotonic() < deadline:
            time.sleep(0.1)
        for pid in descendants():
            try:
                os.kill(pid, 9)
            except OSError:
                pass


# --- /proc sampling -----------------------------------------------------------


def _proc_table() -> dict[int, tuple[int, str, int]]:
    """pid -> (ppid, comm, rss pages) for every readable process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        head, _, tail = raw.rpartition(")")
        comm = head.partition("(")[2]
        fields = tail.split()
        out[int(name)] = (int(fields[1]), comm, int(fields[21]))
    return out


def descendants(table: dict | None = None) -> list[int]:
    table = table if table is not None else _proc_table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, stack = [], [os.getpid()]
    while stack:
        for c in children.get(stack.pop(), ()):
            out.append(c)
            stack.append(c)
    return out


def worker_rss_bytes() -> int:
    """Summed RSS of the Python processes under this driver (Spark's
    worker daemon and its forked workers)."""
    table = _proc_table()
    page = os.sysconf("SC_PAGE_SIZE")
    return sum(
        table[p][2] * page for p in descendants(table) if table[p][1].startswith("python")
    )


class RssSampler:
    """Background thread tracking the peak of :func:`worker_rss_bytes`."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            v = worker_rss_bytes()
            with self._lock:
                self._peak = max(self._peak, v)
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def take_peak(self) -> int:
        """Peak since the previous call (one more sample taken now)."""
        v = worker_rss_bytes()
        with self._lock:
            peak, self._peak = max(self._peak, v), 0
        return peak

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def read_steal() -> tuple[int, int] | None:
    """(steal jiffies, total jiffies) from the aggregate /proc/stat line."""
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
    except OSError:
        return None
    if not parts or parts[0] != "cpu":
        return None
    vals = [int(x) for x in parts[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def steal_frac(a, b) -> float | None:
    if a is None or b is None:
        return None
    return (b[0] - a[0]) / max(1, b[1] - a[1])


def boot_id() -> str | None:
    try:
        with open("/proc/sys/kernel/random/boot_id") as fh:
            return fh.read().strip()
    except OSError:
        return None


# --- driver-side spans ------------------------------------------------------------


class Tracer:
    """Spans ``(name, start, end, parent, run)`` kept in memory; disabled, a
    span only times its body.  ``run`` is the iteration id shared by every
    span of one operation."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.run_id: str = ""
        self._stack: list[int] = []
        self._session = None

    def bind(self, session: "Session") -> None:
        self._session = session

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": parent, "run": self.run_id}
        self.spans.append(rec)
        self._stack.append(idx)
        sc = self._session.spark.sparkContext
        sc.setJobDescription(f"{self.run_id}|{name}")
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            sc.setJobDescription(
                f"{self.run_id}|{self.spans[self._stack[-1]]['name']}" if self._stack else None
            )

    def durations(self, name: str) -> list[float]:
        """Durations of ``name`` spans outside warm-up operations."""
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and not s["run"].startswith("warm")]

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the part child spans cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - child[i]
        return out


# --- Spark event log --------------------------------------------------------------

#: event-log task metric -> (benchmark name, scale to base unit)
_TASK_METRICS = {
    "Executor Run Time": ("spark.executor_run_s", 1e-3),
    "Executor CPU Time": ("spark.executor_cpu_s", 1e-9),
    "JVM GC Time": ("spark.gc_s", 1e-3),
}
#: SQL metric accumulable name -> (benchmark name, scale)
_ACCUMULABLES = {
    "data sent to Python workers": ("spark.py_sent_bytes", 1.0),
    "data returned from Python workers": ("spark.py_recv_bytes", 1.0),
    "time to run Python workers": ("spark.py_run_s", 1e-3),
    "time to start Python workers": ("spark.py_start_s", 1e-3),
}
SPARK_METRICS = sorted(
    {v[0] for v in _TASK_METRICS.values()}
    | {v[0] for v in _ACCUMULABLES.values()}
    | {"spark.shuffle_write_bytes", "spark.shuffle_records", "spark.shuffle_fetch_wait_s",
       "spark.spill_bytes", "spark.tasks"}
)


def parse_event_logs(events_dir: Path, run_prefix: str) -> dict[str, dict[str, float]]:
    """Sum task metrics of jobs whose description starts with
    ``run_prefix``, keyed by span name (the description after ``|``)."""
    out: dict[str, dict[str, float]] = {}
    for path in sorted(events_dir.iterdir()):
        stage_desc: dict[int, str] = {}
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
                    for sid in ev.get("Stage IDs", ()):
                        stage_desc[sid] = desc
                elif kind == "SparkListenerTaskEnd":
                    desc = stage_desc.get(ev.get("Stage ID"), "")
                    if not desc.startswith(run_prefix):
                        continue
                    acc = out.setdefault(desc.partition("|")[2], dict.fromkeys(SPARK_METRICS, 0.0))
                    acc["spark.tasks"] += 1
                    tm = ev.get("Task Metrics") or {}
                    for key, (name, scale) in _TASK_METRICS.items():
                        acc[name] += tm.get(key, 0) * scale
                    sw = tm.get("Shuffle Write Metrics") or {}
                    acc["spark.shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    acc["spark.shuffle_records"] += sw.get("Shuffle Records Written", 0)
                    sr = tm.get("Shuffle Read Metrics") or {}
                    acc["spark.shuffle_fetch_wait_s"] += sr.get("Fetch Wait Time", 0) * 1e-3
                    acc["spark.spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                        "Disk Bytes Spilled", 0
                    )
                    for a in (ev.get("Task Info") or {}).get("Accumulables", ()):
                        hit = _ACCUMULABLES.get(a.get("Name"))
                        if hit is not None:
                            try:
                                acc[hit[0]] += float(a.get("Update", 0)) * hit[1]
                            except (TypeError, ValueError):
                                pass
    return out


def median(xs):
    return statistics.median(xs) if xs else float("nan")
