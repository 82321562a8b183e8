"""Process plumbing shared by the workloads: the scratch directory inside the
checkout, Spark session set-up, child processes, Python-worker RSS, the host
speed calibration, and result printing."""

from __future__ import annotations

import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from typing import Dict, Iterable, List, Optional, Tuple

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPEATS = 3  # cold set-ups per run, each in its own process


def process_age_s() -> float:
    """Seconds since this process was started, from /proc."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])  # field 22 of stat, counted after "comm"
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def slots() -> int:
    """Spark slot count: the machine's cores, at most 4."""
    return max(1, min(4, len(os.sched_getaffinity(0))))


class Workdir:
    """A private scratch directory under the checkout.  Every temporary file
    the run makes (Spark local dirs, JVM tmp, staged parquet, sinks, query
    fixtures) lands here and is removed on close."""

    def __init__(self) -> None:
        self.path = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
        os.makedirs(self.path, exist_ok=True)
        tmp = self.sub("tmp")
        os.environ["TMPDIR"] = tmp
        import tempfile

        tempfile.tempdir = None  # re-read TMPDIR
        os.environ["SPARK_LOCAL_DIRS"] = self.sub("spark-local")

    def sub(self, *parts: str) -> str:
        p = os.path.join(self.path, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(self.path))
        except OSError:
            pass


# ---------------------------------------------------------------------------
# process memory


def _children() -> Dict[int, List[int]]:
    kids: Dict[int, List[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> List[int]:
    kids = _children()
    out: List[int] = []
    stack = [pid]
    while stack:
        for c in kids.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def _status(pid: int) -> Dict[str, str]:
    out: Dict[str, str] = {}
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                k, _, v = line.partition(":")
                out[k] = v.strip()
    except OSError:
        pass
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process, its reaped
    children, and every live process below it (the JVM, the Python
    workers)."""
    t = os.times()
    total = t.user + t.system + t.children_user + t.children_system
    tick = os.sysconf("SC_CLK_TCK")
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += (int(fields[11]) + int(fields[12])) / tick  # utime, stime
    return total


def hwm_mb(pid: int) -> float:
    """Peak resident set size of one process (VmHWM), in MB."""
    v = _status(pid).get("VmHWM", "0 kB").split()[0]
    return int(v) / 1024.0


def _is_python(pid: int) -> bool:
    return _status(pid).get("Name", "").startswith("python")


def _is_java(pid: int) -> bool:
    return _status(pid).get("Name", "") == "java"


class WorkerPeak:
    """Tracks the largest VmHWM of any Python process below this one (the
    Spark Python workers) and of the JVM, polling /proc so that workers
    which exit before the end are still counted."""

    INTERVAL_S = 0.25

    def __init__(self) -> None:
        self.python_mb = 0.0
        self.jvm_mb = 0.0
        self._stop = threading.Event()
        self._thread: Optional[threading.Thread] = None

    def poll(self) -> None:
        for pid in descendants(os.getpid()):
            if _is_python(pid):
                self.python_mb = max(self.python_mb, hwm_mb(pid))
            elif _is_java(pid):
                self.jvm_mb = max(self.jvm_mb, hwm_mb(pid))

    def _run(self) -> None:
        while not self._stop.wait(self.INTERVAL_S):
            self.poll()

    def __enter__(self) -> "WorkerPeak":
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        assert self._thread is not None
        self._thread.join()
        self.poll()


# ---------------------------------------------------------------------------
# Spark session


def _warm(batches):
    """Imports the kernel modules in a Python worker."""
    import pdfminer_six_spark.core.extract  # noqa: F401
    import pdfminer_six_spark.core.html  # noqa: F401
    import pdfminer_six_spark.spark.pipeline  # noqa: F401

    for b in batches:
        yield b


class Session:
    """Builds the repository's Spark session once and warms one Python
    worker per slot.  `t_built` and `t_ready` are `time.perf_counter()`
    readings (CLOCK_MONOTONIC, shared by all processes) taken when the
    session was built and when the workers were warm."""

    def __init__(self, work: Workdir) -> None:
        self.work = work
        self.n_slots = slots()
        os.environ["SPARK_GRAFT_CPUS"] = str(self.n_slots)
        os.environ.setdefault("SPARK_DRIVER_MEM", "3g")
        # every JVM spark-submit starts keeps its temp files in the work dir
        os.environ["JAVA_TOOL_OPTIONS"] = (
            f"-Djava.io.tmpdir={work.sub('tmp')} -XX:-UsePerfData"
        )
        path = os.environ.get("PYTHONPATH", "")
        if ROOT not in path.split(os.pathsep):
            os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
        self.spark = None
        try:
            self._build()
            self.t_built = time.perf_counter()
            self._warm_workers()
            self.t_ready = time.perf_counter()
        except BaseException:
            self.stop()  # a failed set-up still stops the JVM it started
            raise

    def _build(self) -> None:
        from pdfminer_six_spark.spark.session import build_session

        self.spark = build_session(
            app_name="perfbench",
            extra_conf={
                "spark.local.dir": self.work.sub("spark-local"),
                "spark.sql.warehouse.dir": self.work.sub("warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")

    def _warm_workers(self) -> None:
        n = self.n_slots
        self.spark.range(0, n, numPartitions=n).mapInPandas(
            _warm, "id long"
        ).write.format("noop").mode("overwrite").save()

    def stop(self) -> None:
        """Stop the session, then the JVM, and wait for every process this
        run started to end."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        reap_descendants()


def reap_descendants(timeout: float = 20.0) -> None:
    """Wait for all processes below this one to exit; kill stragglers."""
    deadline = time.monotonic() + timeout
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while descendants(os.getpid()) and time.monotonic() < deadline + 5:
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.05)


class Setups:
    """Cold set-ups, each from the start of a fresh process: total, first
    part (session built, or kernel modules imported) and second part
    (workers warmed, or resources loaded), in seconds."""

    def __init__(self) -> None:
        self.setup_s: List[float] = []
        self.build_s: List[float] = []
        self.warm_s: List[float] = []

    def add(self, t_start: float, t_built: float, t_ready: float) -> None:
        self.setup_s.append(t_ready - t_start)
        self.build_s.append(t_built - t_start)
        self.warm_s.append(t_ready - t_built)


def start_child(script: str, args: List[str]) -> Tuple[float, subprocess.Popen]:
    """Start `perfbench/<script>` in a fresh interpreter, in a process group
    of its own.  Returns the `time.perf_counter()` reading taken just
    before the start, and the process."""
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", script)] + args
    t0 = time.perf_counter()
    proc = subprocess.Popen(
        cmd, stdout=subprocess.PIPE, text=True, start_new_session=True
    )
    return t0, proc


def kill_child(proc: subprocess.Popen) -> None:
    """Kill a child from `start_child` that is still running, with its
    process group, and wait for it."""
    if proc.poll() is None:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()


def finish_child(proc: subprocess.Popen, timeout: float) -> Dict:
    """Wait for a child from `start_child` and parse the JSON object on the
    last line of its stdout.  On a timeout or an interrupt the child's
    whole process group is killed."""
    try:
        out, _ = proc.communicate(timeout=timeout)
    finally:
        kill_child(proc)
    if proc.returncode != 0:
        raise RuntimeError(f"{proc.args[1]} exited with {proc.returncode}")
    return json.loads(out.strip().splitlines()[-1])


# ---------------------------------------------------------------------------
# host speed

# Seconds perfbench/calibrate.py takes, one process per slot at once, on the
# reference host speed.  Any constant would do: it only sets the scale of
# the normalised figures.
CAL_REF_S = 0.3


def calibration_s() -> float:
    """Mean time of perfbench/calibrate.py in one process per slot, all
    started together while the program is idle: how fast this host runs
    Python with every core busy, right now."""
    started = [start_child("calibrate.py", []) for _ in range(slots())]
    try:
        outs = [finish_child(proc, 60) for _, proc in started]
    finally:
        for _, proc in started:
            kill_child(proc)
    return sum(o["seconds"] for o in outs) / len(outs)


def host_factor(*cal_s: float) -> float:
    """How much slower than the reference speed the host ran, from the
    calibrations taken around a measurement; a rate times this factor, or a
    time divided by it, is the figure at the reference speed.

    On a shared host the speed of pure-Python work with every core busy
    swings by up to 2x within minutes, and the calibration follows the
    kernel processes of `rich_kernel` (IQR/median of 20-second medians over
    15 minutes: 3.6% scaled, 11.1% raw).  It does not follow the Spark
    workloads, whose slow spells (JVM start, passes) it can miss, so those
    are reported unscaled."""
    return sum(cal_s) / len(cal_s) / CAL_REF_S


# How each end-to-end metric scales with the host speed
AT_REF = {"items_per_s": "rate", "cpu_ms_per_item": "time", "setup_s": "time"}


def at_ref(metrics: Dict[str, Dict], factor: float) -> Dict[str, Dict]:
    """The end-to-end metrics at the reference host speed."""
    out = {}
    for name, m in metrics.items():
        kind = AT_REF.get(name)
        value = m["value"]
        if kind == "rate":
            value *= factor
        elif kind == "time":
            value /= factor
        out[name] = {"value": value, "unit": m["unit"]}
    return out


# ---------------------------------------------------------------------------
# numbers and output


def median(xs: Iterable[float]) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def percentile(xs: List[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    if not xs:
        return 0.0
    s = sorted(xs)
    k = max(0, min(len(s) - 1, int(-(-q * len(s) // 100)) - 1))
    return float(s[k])


def metric(value: float, unit: str) -> Dict[str, object]:
    return {"value": float(value), "unit": unit}


def emit(details: Dict[str, object], result: Dict[str, object]) -> None:
    """Details on one line, then the result object as the last line."""
    sys.stdout.flush()
    print(json.dumps(details, sort_keys=True, default=float))
    print(json.dumps(result))
    sys.stdout.flush()
