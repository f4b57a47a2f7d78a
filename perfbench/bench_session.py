"""Session lifecycle for the benchmark: one fresh JVM per timed job.

Every timed job runs as the first execution in a fresh session, so each
cycle launches its own JVM (``get_spark``) and tears it down completely
afterwards: the Spark context, the py4j gateway, the JVM process and the
Python worker daemon with its forked workers. Nothing is shared between
cycles except the native kernel's compile cache, which users also keep
between jobs on one box.
"""

from __future__ import annotations

import os
import shlex
import shutil
import subprocess
import time
from pathlib import Path


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue  # the process ended while we looked
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for child in kids.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def cpu_ticks() -> tuple[int, int]:
    """(busy, steal) clock ticks summed over all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(x) for x in f.readline().split()[1:9]
        )
    return user + nice + system + irq + softirq, steal


def _status_kb(pid: int, field: str) -> int | None:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        return None
    return None


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            argv0 = f.read().split(b"\0", 1)[0]
    except OSError:
        return False
    return b"python" in os.path.basename(argv0)


class Session:
    """A launched engine session and the processes behind it."""

    def __init__(self, spark, setup_s: float):
        from pyspark import SparkContext

        self.spark = spark
        self.setup_s = setup_s
        self.jvm = SparkContext._gateway.proc

    def worker_peak_rss_mb(self) -> float:
        """Max VmHWM over the session's Python worker processes, in MiB."""
        peaks = [
            _status_kb(pid, "VmHWM")
            for pid in descendants(self.jvm.pid)
            if _is_python(pid)
        ]
        peaks = [p for p in peaks if p is not None]
        if not peaks:
            raise RuntimeError("no Python worker process found under the JVM")
        return max(peaks) / 1024.0

    def close(self, timeout_s: float = 60.0) -> None:
        """Stop Spark, the JVM and every worker, and wait for all of them."""
        from pyspark import SparkContext

        procs = [self.jvm.pid, *descendants(self.jvm.pid)]
        self.spark.stop()
        gateway = SparkContext._gateway
        gateway.shutdown()
        # the gateway server exits when its stdin closes
        self.jvm.stdin.close()
        try:
            self.jvm.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            self.jvm.kill()
            self.jvm.wait(timeout=timeout_s)
        SparkContext._gateway = None
        SparkContext._jvm = None
        deadline = time.monotonic() + timeout_s
        alive = procs
        while alive:
            alive = [p for p in alive if os.path.exists(f"/proc/{p}") and not _zombie(p)]
            if not alive:
                break
            if time.monotonic() > deadline:
                for p in alive:
                    try:
                        os.kill(p, 9)
                    except OSError:
                        pass
                deadline = time.monotonic() + timeout_s
            time.sleep(0.05)


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def launch(work: Path, tag: str, cores: int, event_dir: Path | None = None) -> Session:
    """Start a fresh JVM and engine session; time ``get_spark`` alone.

    Launch options keep every file the JVMs write inside ``work``: a clean
    ``SPARK_LOCAL_DIRS`` per session, ``java.io.tmpdir``, no hsperfdata.
    ``event_dir`` turns on Spark's event log (uncompressed, not rolled)
    for the traced run only."""
    local = work / "local" / tag
    shutil.rmtree(local, ignore_errors=True)
    local.mkdir(parents=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    # JAVA_TOOL_OPTIONS also reaches spark-submit's own launcher JVM
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
    args = ["--conf", "spark.ui.showConsoleProgress=false"]
    if event_dir is not None:
        event_dir.mkdir(parents=True, exist_ok=True)
        for key, value in (
            ("spark.eventLog.enabled", "true"),
            ("spark.eventLog.dir", event_dir.as_uri()),
            ("spark.eventLog.compress", "false"),
            ("spark.eventLog.rolling.enabled", "false"),
        ):
            args += ["--conf", f"{key}={value}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([*args, "pyspark-shell"])

    from azure_workflow_for_kml_satellite_spark import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", cores=cores)
    setup_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return Session(spark, setup_s)
