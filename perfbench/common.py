"""Process set-up for the benchmark: keep every file the engine writes
inside the run's directory, start the engine's own session, stop it with
its JVM, and read CPU steal and peak memory from /proc."""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "slr207_mapreduce_spark")
CHECKER = os.path.join(ROOT, "tools", "check.py")
MASTER = "local[4]"
CORES = 4


def process_age_s() -> float:
    """Seconds since this process started, from /proc (10 ms ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def require_repo() -> None:
    """Exit with code 2 when the engine's sources are not beside the
    benchmark."""
    for path in (PACKAGE, CHECKER):
        if not os.path.exists(path):
            print(f"perfbench: {path} not found; run from a checkout of the repo", file=sys.stderr)
            raise SystemExit(2)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def prepare_env(run_dir: str) -> dict[str, str]:
    """Point every temp and cache location at ``run_dir`` and drop the
    engine's environment overrides, so the program runs with the defaults
    it ships. Returns the extra Spark conf that does the same for the JVM."""
    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "local", "cache")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["XDG_CACHE_HOME"] = dirs["cache"]
    os.environ["PYSPARK_PYTHON"] = sys.executable
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    return {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData",
    }


def start_session(extra_conf: dict[str, str]):
    from slr207_mapreduce_spark.session import get_session

    spark = get_session(app_name="perfbench", master=MASTER, extra_conf=extra_conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def stop_session(spark, timeout: float = 60.0) -> None:
    """Stop the session, then close the JVM's stdin (the gateway exits on
    EOF) and wait for it, killing it if it lingers."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is None:
        return
    try:
        proc.stdin.close()
    except OSError:
        pass
    try:
        proc.wait(timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout)


def steal_ticks() -> int:
    """CPU time the hypervisor gave to other guests, in clock ticks since
    boot; a run's share of it explains host noise in its timings."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def reset_peak_rss() -> None:
    """Restart this process's peak-RSS count from its current RSS, so the
    next peak excludes the benchmark's own checking."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set sizes (VmHWM) of ``pids``."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0
