"""Run environment for one benchmark run: work directory, child-process
environment, the LLM stub process, the SparkSession, and a peak-RSS sampler.

Everything a run writes lands under ``<checkout>/.perfbench/`` (work files,
Spark local dirs, temp files, the detail report).
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import urllib.request

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(ROOT, ".perfbench")


class MissingProgram(RuntimeError):
    """The checkout does not hold the package the benchmark drives."""


def cores() -> int:
    return len(os.sched_getaffinity(0))


def check_program() -> None:
    if not os.path.isfile(os.path.join(ROOT, "instructionspipe_spark", "__init__.py")):
        raise MissingProgram(f"no instructionspipe_spark package under {ROOT}")


def prepare_env(work: str) -> None:
    """Point every writer at ``work`` and make the checkout's package
    importable here and in Spark's Python workers. Call before Spark starts."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # Every JVM started from here (spark-submit's launcher and the driver)
    # keeps its temp and perf-data files out of the shared /tmp.
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"])
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ.pop("SPARK_GRAFT_NO_LOCAL_MASTER", None)
    if sys.path[0] != ROOT:
        sys.path.insert(0, ROOT)
    import instructionspipe_spark

    pkg = os.path.dirname(os.path.abspath(instructionspipe_spark.__file__))
    if os.path.dirname(pkg) != ROOT:
        raise MissingProgram(f"instructionspipe_spark imported from {pkg}, not {ROOT}")


def spark_conf(work: str) -> dict[str, str]:
    """Session conf added to ``get_spark``'s defaults: keep Spark's scratch
    files inside the work directory, and keep enough UI history for the
    traced run's REST queries."""
    return {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.ui.retainedJobs": "5000",
        "spark.ui.retainedStages": "5000",
        "spark.sql.ui.retainedExecutions": "5000",
        "spark.ui.showConsoleProgress": "false",
    }


class StubProcess:
    """The LLM stub (``stub.py``) as a child process, with its counters."""

    def __init__(self, latency_ms: float):
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "stub.py"), "--latency-ms", str(latency_ms)],
            stdout=subprocess.PIPE,
            text=True,
        )
        line = self.proc.stdout.readline()
        if not line.strip().isdigit():
            self.close()
            raise RuntimeError("LLM stub did not start")
        self.url = f"http://127.0.0.1:{int(line)}"
        self.api_url = self.url + "/v1"

    def _call(self, path: str, data: bytes | None = None) -> dict:
        req = urllib.request.Request(self.url + path, data=data)
        with urllib.request.urlopen(req, timeout=30) as r:
            return json.loads(r.read())

    def stats(self) -> dict:
        return self._call("/stats")

    def reset(self, latency_ms: float) -> None:
        """Zero the counters and set the injected latency."""
        self._call("/reset", data=json.dumps({"latency_ms": latency_ms}).encode())

    def close(self) -> None:
        if self.proc.poll() is None:
            self.proc.terminate()
            try:
                self.proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        self.proc.stdout.close()


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(x) for x in f.read().split())
    except OSError:
        pass
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Summed RSS of this process tree (driver JVM, Python workers and the
    benchmark itself), excluding the given pids, sampled every 0.2 s."""

    def __init__(self, exclude: set[int], period_s: float = 0.2):
        self.exclude = exclude
        self.period_s = period_s
        self._peak_kb = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            if pid in self.exclude:
                continue
            total += _rss_kb(pid)
            todo.extend(_children(pid))
        with self._lock:
            self._peak_kb = max(self._peak_kb, total)

    def take_peak(self) -> float:
        """Peak MB since the previous call (or since the sampler started)."""
        self.sample()
        with self._lock:
            peak, self._peak_kb = self._peak_kb, 0
        return peak / 1024.0

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def start_spark(work: str):
    """``session.get_spark`` plus a first action; returns the session and
    both times."""
    from instructionspipe_spark.session import get_spark, ping

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=spark_conf(work))
    t1 = time.perf_counter()
    if not ping(spark):
        raise RuntimeError("Spark ping failed")
    return spark, {"get_spark_s": t1 - t0, "first_action_s": time.perf_counter() - t1}


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            # The gateway JVM exits when its stdin pipe closes.
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def tail_percentile(values: list[float]) -> tuple[float, float, int] | None:
    """The highest percentile with at least ten samples beyond it, as
    (percentile, value, sample count); None under eleven samples."""
    n = len(values)
    if n < 11:
        return None
    s = sorted(values)
    k = n - 11  # index with exactly ten samples above it
    return 100.0 * (k + 1) / n, s[k], n


def cpu_times() -> list[int]:
    """Machine-wide CPU time counters from /proc/stat (user, nice, system,
    idle, iowait, irq, softirq, steal, ...), in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
