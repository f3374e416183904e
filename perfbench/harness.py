"""Session lifecycle, memory sampling and layer tracing for the benchmark.

Everything here observes the engine from outside: it builds the session
through ``geograypher_spark.session.get_spark``, times calls into the
package's public functions, and reads task numbers from Spark's own JSON
event log. Nothing in the package is patched.
"""

from __future__ import annotations

import gc
import json
import os
import statistics
import subprocess
import tempfile
import threading
import time
from contextlib import contextmanager

LAYERS = ("docs", "spatial_join", "visibility", "aggregates", "union",
          "tiles", "sinks", "checkpoints", "dedup")
# per-layer numbers every layer reports
COMMON = ("self_s", "rows_out", "jobs", "tasks", "shuffle_write_mb",
          "spill_mb", "gc_s", "task_skew")
# layer-specific counters, filled by the workloads
EXTRA = {
    "spatial_join": ("candidate_rows", "refine_ratio", "refine_arrow"),
    "visibility": ("candidate_pairs", "dup_ratio", "visible_ratio", "pixels"),
    "aggregates": ("groups",),
    "sinks": ("bytes_written", "files"),
    "checkpoints": ("bytes_written", "resume_s"),
    "dedup": ("candidate_pairs", "precision"),
    "docs": ("spans",),
}
# whole-iteration numbers of the traced run
TRACE = ("trace.wall_s", "trace.untraced_wall_s", "trace.overhead_s",
         "trace.coverage", "trace.first_iter_s")


def per_layer_names() -> list[str]:
    names = [f"{l}.{m}" for l in LAYERS for m in COMMON]
    names += [f"{l}.{m}" for l, ms in EXTRA.items() for m in ms]
    return names + list(TRACE)


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def dir_bytes(path: str, skip: str | None = None) -> tuple[int, int]:
    """(bytes, files) of the regular files under ``path``, leaving out any
    directory named ``skip``."""
    total = files = 0
    for base, dirs, names in os.walk(path):
        if skip in dirs:
            dirs.remove(skip)
        for n in names:
            total += os.path.getsize(os.path.join(base, n))
            files += 1
    return total, files


# ---------------------------------------------------------------------------
# Session lifecycle
# ---------------------------------------------------------------------------

class Bench:
    """One driver process: the Spark JVM it launches, the work directory
    under the checkout, and the session conf every setup uses."""

    def __init__(self, root: str, work: str, event_log: bool):
        self.root = root
        self.work = work
        self.event_dir = os.path.join(work, "eventlog") if event_log else None
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        # Python workers import the package from the checkout; they are
        # forked by the JVM, which inherits this environment
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p)
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = tmp
        # shuffle and block files; the variable wins over spark.local.dir
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
        # no hsperfdata files in the system temp directory
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        # the driver heap, through the package's own setting (default 8g).
        # With 8g, how far G1 let the heap grow with garbage before
        # collecting it varied from 2.1 to 4.1 GB between identical
        # iterations; with 2g the JVM peaks at 1.3-1.5 GB, below the cap
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
        # the package's session defaults, plus directories under the work
        # directory and one JIT setting: the JVM compiles with C1 only.
        # With C2 the driver's planning and scheduling code kept getting
        # faster for five or more iterations, so a run's times depended on
        # how many iterations fitted in it; with C1 only, iterations are
        # level from the second one on, and the cold first one is about a
        # third shorter
        self.conf = {
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        }
        if self.event_dir:
            os.makedirs(self.event_dir, exist_ok=True)
            self.conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.master = f"local[{cpu_count()}]"
        self.spark = None

    def setup(self) -> float:
        """Build the session, launching the JVM if none runs, and warm the
        Python workers; returns seconds."""
        from geograypher_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", master=self.master,
                               extra_conf=self.conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        n = cpu_count()
        (self.spark.range(16 * n, numPartitions=n)
         .mapInPandas(lambda it: it, "id long").collect())
        return time.perf_counter() - t0

    def collect_garbage(self) -> None:
        """Full collection in the driver Python process and in the JVM. G1
        then shrinks the heap and returns the freed regions to the OS in
        the background; the pause gives it time to."""
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()
        time.sleep(0.5)

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        self.stop_session()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            # the gateway JVM exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None

    def provenance(self, seed: int, workload: str, sizes: dict) -> dict:
        import pyarrow
        import pyspark

        try:
            sha = subprocess.run(
                ["git", "rev-parse", "HEAD"], cwd=self.root, capture_output=True,
                text=True, timeout=10).stdout.strip() or None
        except (OSError, subprocess.TimeoutExpired):
            sha = None
        conf = dict(self.spark.sparkContext.getConf().getAll()) if self.spark else {}
        keep = ("spark.master", "spark.driver.memory", "spark.driver.extraJavaOptions",
                "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
                "spark.eventLog.enabled")
        return {"git_sha": sha, "nproc": cpu_count(), "spark": pyspark.__version__,
                "pyarrow": pyarrow.__version__, "workload": workload, "seed": seed,
                "inputs": sizes, "conf": {k: conf.get(k) for k in keep}}


# ---------------------------------------------------------------------------
# Peak resident memory of this process and everything it started
# ---------------------------------------------------------------------------

def _descendants(pid: int) -> list[int]:
    """``pid`` and every process below it, from the parent ids in /proc."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue  # exited between listdir and open
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, stack = [], [pid]
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(children.get(p, ()))
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, each page shared by n
    processes counted 1/n, so forked workers' shared pages count once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass  # exited, or not ours to read
    return 0


class PssSampler:
    """Samples the summed PSS of the driver, the JVM and the Python workers
    (every descendant of this process) from /proc on a background thread."""

    def __init__(self, period_s: float = 0.2):
        self.period_s = period_s
        self.peak = 0
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.wait(self.period_s):
            total = sum(_pss_bytes(p) for p in _descendants(pid))
            with self._lock:
                self.peak = max(self.peak, total)

    def start(self) -> None:
        self._thread.start()

    def reset(self) -> None:
        with self._lock:
            self.peak = 0

    def peak_mb(self) -> float:
        with self._lock:
            return self.peak / 2**20

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


# ---------------------------------------------------------------------------
# Tracing
# ---------------------------------------------------------------------------

class Span:
    def __init__(self, sid: int, layer: str, parent: "Span | None", it: int):
        self.sid, self.layer, self.parent, self.it = sid, layer, parent, it
        self.start = self.end = 0.0
        self.child_s = 0.0
        self.rows = 0

    @property
    def group(self) -> str:
        return f"pb{self.sid}"


class Tracer:
    """Layer spans around calls into the package.

    Disabled, ``span`` only yields and ``keep`` returns its argument, so
    the untraced pipeline is the plain composition of public calls.
    Enabled, each span labels its Spark jobs with a job group, and ``keep``
    persists and counts the span's output so the layer's lazy plan runs
    inside the span rather than in whichever layer consumes it."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        # one-shot layer counters, and per-iteration samples (medians)
        self.counters: dict[str, float] = {}
        self.samples: dict[str, list[float]] = {}
        # span outputs the workload's counters() reads after an iteration
        self.held: dict = {}
        self.last_count = 0
        self._stack: list[Span] = []
        self._persisted: list = []
        self.it = 0

    @contextmanager
    def span(self, layer: str):
        if not self.enabled:
            yield None
            return
        assert layer in LAYERS, layer
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), layer, parent, self.it)
        self.spans.append(s)
        self._stack.append(s)
        sc = self.spark.sparkContext
        sc.setJobGroup(s.group, layer)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                parent.child_s += s.end - s.start
                sc.setJobGroup(parent.group, parent.layer)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def keep(self, df):
        """Materialize ``df`` inside the current span (traced runs only)."""
        if not self.enabled:
            return df
        from pyspark import StorageLevel

        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        self._persisted.append(df)
        # counting a persisted frame builds every cached column, so the
        # whole plan runs here (a bare count() would prune columns)
        self.last_count = df.count()
        self._stack[-1].rows += self.last_count
        return df

    def rows(self, n: int) -> None:
        if self.enabled:
            self._stack[-1].rows += int(n)

    def sample(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)

    def release(self) -> None:
        for df in self._persisted:
            df.unpersist(blocking=True)
        self._persisted.clear()
        self.held.clear()


def refine_uses_arrow(df) -> bool:
    """True if the physical plan that filled ``df``'s cache evaluates a
    Python UDF through Arrow. Walks through AQE wrappers and query stages,
    but not into the caches of earlier spans."""
    stack, own_cache = [df._jdf.queryExecution().executedPlan()], True
    while stack:
        p = stack.pop()
        name = p.getClass().getSimpleName()
        if name == "ArrowEvalPythonExec":
            return True
        if name == "InMemoryTableScanExec":
            # the first cache on the way down holds df itself
            if own_cache:
                stack.append(p.relation().cacheBuilder().cachedPlan())
            own_cache = False
        elif name == "AdaptiveSparkPlanExec":
            stack.append(p.executedPlan())
        elif name.endswith("QueryStageExec"):
            stack.append(p.plan())
        else:
            kids = p.children()
            stack.extend(kids.apply(i) for i in range(kids.size()))
    return False


def read_event_log(event_dir: str) -> tuple[dict, dict]:
    """→ ({"stage_group": job group of each stage, "jobs": jobs per job
    group}, task records per stage) from the JSON event logs in
    ``event_dir``. Call after the session stopped, so the log is complete."""
    stage_group: dict[int, str] = {}
    stage_tasks: dict[int, list[dict]] = {}
    job_group: dict[int, str] = {}
    for name in sorted(os.listdir(event_dir)):
        with open(os.path.join(event_dir, name)) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g is None:
                        continue
                    job_group[ev["Job ID"]] = g
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, g)
                elif kind == "SparkListenerTaskEnd":
                    info = ev["Task Info"]
                    m = ev.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    stage_tasks.setdefault(ev["Stage ID"], []).append({
                        "dur_s": (info["Finish Time"] - info["Launch Time"]) / 1e3,
                        "gc_s": m.get("JVM GC Time", 0) / 1e3,
                        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                        "spill": m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0),
                    })
    jobs_per_group: dict[str, int] = {}
    for g in job_group.values():
        jobs_per_group[g] = jobs_per_group.get(g, 0) + 1
    return {"stage_group": stage_group, "jobs": jobs_per_group}, stage_tasks


def layer_metrics(spans: list[Span], n_iters: int, log: dict,
                  stage_tasks: dict) -> dict[str, float]:
    """Per-layer medians over the traced iterations."""
    by_group = {s.group: s for s in spans}
    per: dict[tuple[str, int], dict] = {}

    def slot(layer, it):
        return per.setdefault((layer, it), {
            "self_s": 0.0, "rows_out": 0, "jobs": 0, "tasks": 0,
            "shuffle_write_mb": 0.0, "spill_mb": 0.0, "gc_s": 0.0,
            "task_skew": 1.0})

    for s in spans:
        d = slot(s.layer, s.it)
        d["self_s"] += (s.end - s.start) - s.child_s
        d["rows_out"] += s.rows
        d["jobs"] += log["jobs"].get(s.group, 0)
    for sid, tasks in stage_tasks.items():
        s = by_group.get(log["stage_group"].get(sid))
        if s is None:
            continue  # warm-up and untraced iterations
        d = slot(s.layer, s.it)
        d["tasks"] += len(tasks)
        d["shuffle_write_mb"] += sum(t["shuffle_write"] for t in tasks) / 2**20
        d["spill_mb"] += sum(t["spill"] for t in tasks) / 2**20
        d["gc_s"] += sum(t["gc_s"] for t in tasks)
        if len(tasks) >= 2:
            durs = [t["dur_s"] for t in tasks]
            med = statistics.median(durs)
            if med > 0:
                d["task_skew"] = max(d["task_skew"], max(durs) / med)
    out: dict[str, float] = {}
    for layer in LAYERS:
        for m in COMMON:
            vals = [per[(layer, it)][m] if (layer, it) in per else 0.0
                    for it in range(n_iters)]
            out[f"{layer}.{m}"] = statistics.median(vals)
    return out
