"""Run environment: checkout paths, the Spark session, and the audit
record printed beside every result (cores, CPU steal, versions).

Everything a run writes lives under ``<checkout>/.bench/run-<pid>/``:
Spark's local dirs, the JVM temp dir, the warehouse and the event log.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(BENCH_DIR)
PACKAGE = "amazon_textract_enhancer_spark"


def usable_cores() -> int:
    return len(os.sched_getaffinity(0))


class RunDir:
    """Per-run scratch directory inside the checkout, removed on close."""

    def __init__(self) -> None:
        self.path = os.path.join(CHECKOUT, ".bench", f"run-{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(self.path)
        self.tmp = self.sub("tmp")
        os.environ["TMPDIR"] = self.tmp

    def sub(self, *parts: str) -> str:
        p = os.path.join(self.path, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(self.path))  # only when no other run uses it
        except OSError:
            pass


def require_program() -> None:
    """Fail fast (before any JVM starts) when the checkout lacks the
    program the benchmark measures."""
    if not os.path.isdir(os.path.join(CHECKOUT, PACKAGE)):
        raise SystemExit(f"benchmark: {PACKAGE}/ not found beside {BENCH_DIR}")
    if CHECKOUT not in sys.path:
        sys.path.insert(0, CHECKOUT)
    # Python workers import the package by name when they unpickle the
    # extraction UDF, so they need the checkout on their path too
    paths = [CHECKOUT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    __import__(PACKAGE)


def start_spark(run: RunDir, cores: int, event_log_dir: str | None = None):
    """local[cores] session with the console progress bar off (the last
    stdout line must be the JSON result) and every on-disk artefact
    kept inside the run directory. With ``event_log_dir`` the session
    writes one uncompressed, non-rolling JSON event log there."""
    from pyspark.sql import SparkSession

    local = run.sub("spark-local")
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("e2e-bench")
        .config("spark.driver.memory", "2g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(2 * cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", run.sub("spark-warehouse"))
        # -XX:-UsePerfData: HotSpot would write /tmp/hsperfdata_<user>
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={run.tmp} -Dderby.system.home={run.tmp} -XX:-UsePerfData")
    )
    if event_log_dir is not None:
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", "file://" + event_log_dir)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _descendants(root: int) -> set[int]:
    """Pids of every live process below ``root``, from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                # the command name may hold spaces; ppid follows its ')'
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out: set[int] = set()
    todo = [root]
    while todo:
        for c in children.get(todo.pop(), []):
            if c not in out:
                out.add(c)
                todo.append(c)
    return out


def _alive(pid: int) -> bool:
    """True while ``pid`` runs (a zombie has ended: it only waits for
    its parent to reap it)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def stop_processes(timeout: float = 60.0) -> None:
    """Stop the Spark session and the JVM this process started, and wait
    until the JVM and every process under it (the Python workers) has
    ended; whatever still runs after ``timeout`` is killed. The JVM
    exits when its stdin closes; left alone it would outlive this
    process by as long as its shutdown takes."""
    import signal
    import subprocess

    from pyspark import SparkContext

    # taken first: a worker the JVM stops is re-parented while it exits
    pids = _descendants(os.getpid())
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + timeout
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.05)
    for p in pids:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
    deadline = time.monotonic() + 10
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.05)


def cpu_times() -> tuple[int, int]:
    """(total, steal) jiffies from the aggregate cpu line of /proc/stat."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()[1:]
    except OSError:
        return 0, 0
    vals = [int(x) for x in fields]
    return sum(vals[:8]), (vals[7] if len(vals) > 7 else 0)


class Audit:
    """What a reader needs to judge a run made on a shared host."""

    def __init__(self) -> None:
        self.t0 = time.monotonic()
        self.cpu0 = cpu_times()
        self.info: dict = {"usable_cores": usable_cores()}

    def finish(self) -> dict:
        import pyspark

        total, steal = cpu_times()
        d_total = total - self.cpu0[0]
        self.info.update(
            run_wall_s=round(time.monotonic() - self.t0, 3),
            cpu_steal_frac=round((steal - self.cpu0[1]) / d_total, 5) if d_total else 0.0,
            pyspark=pyspark.__version__,
            python=sys.version.split()[0],
            load_avg_1m=os.getloadavg()[0],
        )
        return self.info
