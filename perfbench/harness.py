"""Process-level pieces shared by the workloads: the Spark session, the
resident-set sampler, host facts, and teardown of every process the run
started."""

from __future__ import annotations

import os
import platform
import signal
import statistics
import sys
import threading
import time

DRIVER_MEMORY = "3g"  # the engine's 24g default does not fit a shared 15 GB host
_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress line on stderr, stamped with seconds since start."""
    print(f"perfbench [{time.perf_counter() - _T0:7.1f}s] {msg}", file=sys.stderr, flush=True)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


def build_spark(work_dir: str):
    """The engine's own session builder on local[<cpus>], with every scratch
    directory inside the run's work directory."""
    from sql_identity_resolution_spark.session import build_session

    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return build_session(
        app_name="perfbench",
        master=f"local[{cpus()}]",
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": tmp,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(work_dir, "spark-warehouse"),
        },
    )


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
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
    """Peak summed resident set of this driver process and every process
    under it (the JVM and its Python workers), sampled from /proc."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def sample(self) -> None:
        me = os.getpid()
        kb = sum(_rss_kb(p) for p in [me, *descendants(me)])
        self.peak_kb = max(self.peak_kb, kb)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def host_facts(spark, seed: int) -> dict:
    import pyspark

    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    conf = dict(spark.sparkContext.getConf().getAll())
    for k in list(conf):
        if k.startswith(("spark.app.", "spark.driver.host", "spark.driver.port",
                         "spark.executor.id", "spark.submit.")) or "PYTHONPATH" in k:
            conf.pop(k)
    return {
        "nproc": cpus(),
        "mem_total_gb": round(mem_kb / 1024 / 1024, 1),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "master": spark.sparkContext.master,
        "seed": seed,
        "spark_conf": dict(sorted(conf.items())),
    }


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def shutdown(spark, timeout: float = 60.0) -> None:
    """Stop Spark, close the JVM gateway and wait for every process started
    under this one (JVM, Python daemon and workers) to exit; kill what
    outlives the timeout. Workers re-parented away when the JVM exits are
    still waited for, by the PIDs recorded before teardown."""
    from pyspark import SparkContext

    started = set(descendants(os.getpid()))
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if spark is not None:
        try:
            spark.stop()
        except Exception as exc:  # keep tearing down: the processes must still go
            print(f"perfbench: spark.stop failed: {exc!r}", file=sys.stderr)
    started |= set(descendants(os.getpid()))
    if gw is not None:
        try:
            gw.shutdown()
        except Exception as exc:
            print(f"perfbench: gateway shutdown failed: {exc!r}", file=sys.stderr)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
    deadline = time.time() + timeout
    while any(_alive(p) for p in started) and time.time() < deadline:
        time.sleep(0.05)
    for pid in started:
        if _alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    if proc is not None:
        proc.wait(timeout=10)
    while True:  # reap any other exited child
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            break
        if pid == 0:
            break
    log("teardown done")
