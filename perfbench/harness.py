"""Shared machinery of the benchmark: paths, Spark session, tracing,
memory sampling, plan metrics, the run record and small statistics.

Nothing here knows a workload.  Every timing uses ``time.perf_counter``;
wall-clock (``time.time``) is used only where it must be compared with
file modification times written by Spark (stream commit log).
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import statistics
import subprocess
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_DIR = os.path.join(ROOT, "perfbench")
WORK = os.path.join(ROOT, ".perfbench_work")
ARROW_BATCH = 20000     # spark.sql.execution.arrow.maxRecordsPerBatch

# env the engine is tuned for (see the repo's build notes): glibc keeps
# freed heap resident and Arrow allocates from it, so first-touch page
# faults are paid once per process instead of once per batch
TUNED_ENV = {
    "MALLOC_TRIM_THRESHOLD_": str(1 << 30),
    "MALLOC_MMAP_THRESHOLD_": str(256 << 20),
    "MALLOC_TOP_PAD_": str(128 << 20),
    "ARROW_DEFAULT_MEMORY_POOL": "system",
}
RECORDED_ENV = tuple(TUNED_ENV) + (
    "OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "ARROW_IO_THREADS",
    "PYSPARK_PYTHON", "JAVA_HOME", "SPARK_LOCAL_DIRS", "TMPDIR")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_process_env(run_dir: str) -> None:
    """Must run before the JVM is launched: the JVM and every Python
    worker inherit this environment.  Keeps every temporary file inside
    the checkout."""
    for k, v in TUNED_ENV.items():
        os.environ.setdefault(k, v)
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    path = [ROOT, BENCH_DIR] + [p for p in os.environ.get(
        "PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(path)
    import tempfile
    tempfile.tempdir = tmp


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


# -- Spark session ------------------------------------------------------------

def build_spark(cpus: int, run_dir: str):
    from pyspark.sql import SparkSession

    tmp = os.path.join(run_dir, "tmp")
    return (SparkSession.builder.master(f"local[{cpus}]")
            .appName("perfbench")
            # one task per core per stage: on a 4-CPU host each Python
            # task carries ~0.1-0.3 s of fixed cost, so a second wave of
            # small tasks costs more than it parallelizes
            .config("spark.sql.shuffle.partitions", str(cpus))
            .config("spark.default.parallelism", str(cpus))
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.session.timeZone", "UTC")
            # a small, fixed-size heap: resident memory then plateaus at
            # the heap size instead of following each run's GC timing
            .config("spark.driver.memory", "1g")
            .config("spark.driver.extraJavaOptions",
                    f"-Xms1g -Djava.io.tmpdir={tmp} -XX:-UsePerfData")
            .config("spark.sql.warehouse.dir",
                    os.path.join(run_dir, "warehouse"))
            .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                    str(ARROW_BATCH))
            .config("spark.python.worker.reuse", "true")
            .config("spark.python.worker.idleTimeoutSeconds", "3600")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .getOrCreate())


def stop_spark(spark, wait_s: float = 30.0) -> None:
    """Stop the session, shut the JVM down and wait for it (and the
    Python workers under it) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=wait_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=wait_s)
    deadline = time.monotonic() + wait_s
    while descendants() and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in descendants():
        with contextlib.suppress(ProcessLookupError):
            os.kill(pid, 9)


# -- /proc: descendants and resident memory -----------------------------------

def _proc_table() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command field may hold spaces: ppid is the 2nd field after ')'
        out[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def descendants(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    table = _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, ppid in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


class RssSampler:
    """Peak resident memory of the processes this one started, from
    /proc: each process's high-water mark (``VmHWM``), polled so that
    workers which exit early are still seen.

    ``peak_mb`` is the JVM's peak plus the largest Python worker's peak.
    Summing every worker would measure how many workers Spark's reuse
    pool happened to fork in this run (it varies run to run with task
    timing), not how much memory the work needs."""

    def __init__(self, interval_s: float = 0.5) -> None:
        self.interval_s = interval_s
        self.hwm_kb: dict[int, tuple[str, int]] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _poll(self) -> None:
        for pid in descendants():
            # the JVM starts as the spark-submit script, then execs java:
            # read the name on every poll
            old = self.hwm_kb.get(pid, ("", 0))[1]
            self.hwm_kb[pid] = (_comm(pid),
                                max(old, _status_kb(pid, "VmHWM:")))

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._poll()
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def summary(self) -> dict:
        jvm = [kb for name, kb in self.hwm_kb.values() if name == "java"]
        py = [kb for name, kb in self.hwm_kb.values()
              if name.startswith("python")]
        return {"jvm_peak_mb": max(jvm, default=0) / 1024,
                "python_worker_peak_mb": max(py, default=0) / 1024,
                "python_workers": len(py),
                "sum_of_peaks_mb": sum(kb for _, kb in
                                       self.hwm_kb.values()) / 1024}

    @property
    def peak_mb(self) -> float:
        s = self.summary()
        return s["jvm_peak_mb"] + s["python_worker_peak_mb"]


def minor_faults() -> dict[str, int]:
    """Minor page faults so far of the live processes this one started,
    by process name (diagnostic for the host's page-fault weather)."""
    out: dict[str, int] = {}
    for pid in descendants():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        name = _comm(pid)
        out[name] = out.get(name, 0) + int(fields[7])
    return out


def first_touch_mb_s(mb: int = 64) -> float:
    """Diagnostic: MB/s at which this process faults in fresh anonymous
    pages (the host's page-fault weather).  Not a gated metric."""
    import mmap

    import numpy as np

    m = mmap.mmap(-1, mb << 20)
    try:
        a = np.frombuffer(m, dtype=np.uint8)
        t = time.perf_counter()
        a[::mmap.PAGESIZE] = 1
        dt = time.perf_counter() - t
        del a
    finally:
        m.close()
    return mb / dt


# -- tracing ------------------------------------------------------------------

class Tracer:
    """In-memory spans around the benchmark's calls into each layer.

    A span records name, start, end, parent span and op id.  With
    ``on=False`` :meth:`span` records nothing, so the untraced run pays
    only a context-manager call per layer call.
    """

    def __init__(self, on: bool) -> None:
        self.on = on
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, op=None, **attrs):
        if not self.on:
            yield {}
            return
        with self._lock:
            sid = len(self.spans)
            rec = {"id": sid, "name": name, "op": op,
                   "parent": self._stack[-1] if self._stack else None,
                   "start": time.perf_counter(), "end": None, **attrs}
            self.spans.append(rec)
            self._stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            with self._lock:
                self._stack.pop()

    def add(self, name: str, start: float, end: float, op=None,
            parent: int | None = None, **attrs) -> int:
        """Record a span measured elsewhere (e.g. a streaming progress
        event), in this tracer's clock."""
        if not self.on:
            return -1
        with self._lock:
            sid = len(self.spans)
            self.spans.append({"id": sid, "name": name, "op": op,
                               "parent": parent, "start": start,
                               "end": end, **attrs})
        return sid

    def self_times(self) -> dict[int, float]:
        """span id -> duration minus the time its children cover."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                kids.setdefault(s["parent"], []).append(
                    (s["start"], s["end"]))
        out = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in sorted(kids.get(s["id"], [])):
                a, b = max(a, s["start"]), min(b, s["end"])
                if b <= a:
                    continue
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def by_name(self) -> dict[str, dict]:
        """name -> {n, total_s, self_s, p50_s} over closed spans."""
        selfs = self.self_times()
        agg: dict[str, dict] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            a = agg.setdefault(s["name"], {"n": 0, "total_s": 0.0,
                                           "self_s": 0.0, "durations": []})
            d = s["end"] - s["start"]
            a["n"] += 1
            a["total_s"] += d
            a["self_s"] += selfs[s["id"]]
            a["durations"].append(d)
        for a in agg.values():
            a["p50_s"] = statistics.median(a.pop("durations"))
        return agg

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name and s["end"] is not None)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None]


# -- plan metrics -------------------------------------------------------------

PLAN_METRICS = {
    "shuffle_write_bytes": "shuffleBytesWritten",
    "spill_bytes": "spillSize",
    "py_bytes_in": "pythonDataSent",
    "py_bytes_out": "pythonDataReceived",
}


def plan_metrics(df) -> dict[str, int | None]:
    """Sum selected SQL metrics over the final (post-AQE) physical plan of
    a DataFrame whose action has run.  A metric no plan node exposes is
    ``None`` (missing), never 0."""
    want = set(PLAN_METRICS.values())
    found: dict[str, int] = {}

    def visit(node) -> None:
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            visit(node.executedPlan())
            return
        if cls.endswith("QueryStageExec"):
            visit(node.plan())
            return
        if cls == "ReusedExchangeExec":
            return  # its bytes are counted once, at the reused exchange
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            name = kv._1()
            if name in want:
                found[name] = found.get(name, 0) + int(kv._2().value())
        children = node.children()
        for i in range(children.size()):
            visit(children.apply(i))
        subs = node.subqueries()
        for i in range(subs.size()):
            visit(subs.apply(i))

    visit(df._jdf.queryExecution().executedPlan())
    return {k: found.get(v) for k, v in PLAN_METRICS.items()}


def add_plan_metrics(total: dict, part: dict) -> None:
    for k, v in part.items():
        if v is not None:
            total[k] = (total.get(k) or 0) + v
        else:
            total.setdefault(k, None)


# -- statistics ---------------------------------------------------------------

def run_for(seconds: float, op, min_ops: int = 3) -> list[float]:
    """Closed loop, one client: call ``op(i)`` back to back until
    ``seconds`` have passed and at least ``min_ops`` completed.  Returns
    each call's wall time."""
    times: list[float] = []
    t0 = time.perf_counter()
    while len(times) < min_ops or time.perf_counter() - t0 < seconds:
        t = time.perf_counter()
        op(len(times))
        times.append(time.perf_counter() - t)
    return times


# -- run record ---------------------------------------------------------------

def env_record(spark, args, inputs_dir: str) -> dict:
    conf = dict(spark.sparkContext.getConf().getAll())
    return {
        "nproc": nproc(),
        "seed": args.seed,
        "workload": args.workload,
        "seconds": args.seconds,
        "trace": args.trace,
        "inputs_dir": os.path.relpath(inputs_dir, ROOT),
        "env": {k: os.environ.get(k) for k in RECORDED_ENV},
        "spark_conf": {k: v for k, v in sorted(conf.items())
                       if not k.startswith("spark.app.")
                       and k not in ("spark.driver.host",
                                     "spark.driver.port")},
        "first_touch_mb_s": first_touch_mb_s(),
    }


def digest(obj) -> str:
    """Short content digest of a JSON-able output summary."""
    import hashlib

    return hashlib.sha256(json.dumps(obj, sort_keys=True).encode()
                          ).hexdigest()[:16]


def write_json(path: str, obj) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True, default=str)
