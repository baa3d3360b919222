"""Process plumbing shared by the workloads: paths and environment, the
Spark session's start and stop, host counters, and the result line."""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import threading
from dataclasses import dataclass
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORK = ROOT / ".bench_build" / "perfbench"
CORES = 4


@dataclass
class OpResult:
    """One timed operation."""

    latency_s: float             # the operation's own call
    wall_s: float                # all the time its pages needed (ticks: + append)
    docs: int
    traced_span: int | None = None
    cpu_s: float = 0.0           # host CPU busy time over the whole call


def process_age_s() -> float:
    """Seconds since this process started (kernel clock ticks, 10 ms)."""
    with open("/proc/self/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])  # field 22, counted after "pid (comm)"
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def prepare_env(run_dir: Path) -> dict[str, Path]:
    """Point every scratch location of Spark, the JVM and Python inside
    ``run_dir`` and let Python workers import the package from ROOT."""
    dirs = {"local": run_dir / "spark-local", "tmp": run_dir / "tmp"}
    for d in dirs.values():
        d.mkdir(parents=True, exist_ok=True)
    paths = [str(ROOT)] + ([os.environ["PYTHONPATH"]]
                           if os.environ.get("PYTHONPATH") else [])
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_LOCAL_DIRS"] = str(dirs["local"])
    os.environ["TMPDIR"] = str(dirs["tmp"])
    return dirs


def start_spark(tmp_dir: Path, extra_conf: dict[str, str] | None = None):
    """One local[4] session with the engine's standard conf
    (``session.get_spark``); the JVM's temp dir and log file stay under
    ``tmp_dir``."""
    from cfht2caom2_spark.session import get_spark

    log4j = ROOT / "conf" / "log4j2.properties"
    java_opts = f"-Djava.io.tmpdir={tmp_dir}"
    if log4j.exists():
        java_opts += f" -Dlog4j.configurationFile=file:{log4j}"
    conf = {"spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions": java_opts,
            "spark.executor.extraJavaOptions": java_opts}
    conf.update(extra_conf or {})
    spark = get_spark(app_name="perfbench", cores=CORES, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def busy_cpu_s() -> float:
    """Host CPU seconds spent busy so far (user, nice, system, irq,
    softirq), all CPUs together.  Idle, iowait and time stolen by the
    hypervisor are left out."""
    t = _cpu_times()
    return (t[0] + t[1] + t[2] + t[5] + t[6]) / os.sysconf("SC_CLK_TCK")


def _tree_rss_bytes(root_pid: int) -> int:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        children.setdefault(ppid, []).append(int(entry))
    total, todo = 0, [root_pid]
    page = os.sysconf("SC_PAGE_SIZE")
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            pass
        todo.extend(children.get(pid, ()))
    return total


class HostSampler:
    """CPU steal share of the whole host over the run and, when
    ``track_rss``, the peak summed RSS of this process and its descendants
    (the JVM and its Python workers), sampled every ``period`` seconds."""

    def __init__(self, track_rss: bool, period: float = 0.25):
        self._track = track_rss
        self._period = period
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self.peak_rss = 0
        self._cpu0 = _cpu_times()

    def start(self) -> HostSampler:
        if self._track:
            self._thread = threading.Thread(target=self._loop, daemon=True)
            self._thread.start()
        return self

    def _loop(self) -> None:
        while not self._stop.wait(self._period):
            self.peak_rss = max(self.peak_rss, _tree_rss_bytes(os.getpid()))

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)

    def steal_pct(self) -> float:
        now = _cpu_times()
        delta = [b - a for a, b in zip(self._cpu0, now)]
        steal = delta[7] if len(delta) > 7 else 0
        return 100.0 * steal / max(sum(delta[:8]), 1)


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(xs, n=4)`` gives them."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, med, q3


def result_line(correct: bool, attempted: int, failed: int,
                metrics: dict[str, tuple[float, str]]) -> str:
    return json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    })


def append_record(record: dict) -> None:
    """One JSON line per run in WORK/runs.jsonl (read by summarize.py)."""
    WORK.mkdir(parents=True, exist_ok=True)
    with open(WORK / "runs.jsonl", "a") as fh:
        fh.write(json.dumps(record) + "\n")
