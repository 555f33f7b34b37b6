"""Session sizing and the timed set-up the benchmark reports as ``setup_s``.

Set-up is the time from process start until ``get_spark`` has returned and
the query registry is loaded. Run as a script, this module makes one more
set-up sample in a fresh process and prints its times as JSON:

    python3 perfbench/startup.py <warehouse-dir>
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)


def seconds_since_process_start() -> float:
    """Elapsed time since this process was created (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def size_session(work: str) -> dict[str, str]:
    """Size the session from this machine through the environment overrides
    the engine's session factory reads, and keep all scratch inside ``work``.

    The JVM heap is 40% of physical memory; task slots are the CPUs this
    process may run on.
    """
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEM": f"{max(1, int(mem_kb * 0.4 / 2**20))}g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        # no hsperfdata files in /tmp; JVM temp files stay in the checkout
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    }
    os.environ.update(env)
    return env


def timed_setup(extra_conf: dict[str, str]):
    """Build the session and load the registry; returns (spark, times)."""
    from real_time_data_engineering_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=extra_conf)
    t1 = time.perf_counter()
    from real_time_data_engineering_spark import registry

    registry.all_specs()
    t2 = time.perf_counter()
    times = {"setup_s": seconds_since_process_start(), "get_spark_s": t1 - t0, "registry_s": t2 - t1}
    return spark, times


def restart_spark(spark, extra_conf: dict[str, str]):
    """Stop the session's SparkContext and start a new one with
    ``extra_conf`` in the same JVM, whose compiled code stays warm."""
    from real_time_data_engineering_spark.session import get_spark

    spark.stop()
    return get_spark(app_name="perfbench", extra_conf=extra_conf)


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit; a no-op once stopped."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


if __name__ == "__main__":
    _spark, _times = timed_setup({"spark.sql.warehouse.dir": sys.argv[1]})
    stop_spark(_spark)
    print(json.dumps(_times), flush=True)
