"""Process environment, session start-up and /proc accounting shared by
the benchmark and the census.

Everything the benchmark writes goes under ``<checkout>/.bench_out``:
generated inputs, Spark local dirs, temp files and traces.
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_out")
DRIVER_MEMORY = "4g"
# Spark task slots (``local[N]``), capped at nproc. daily_etl's inputs are
# small: over ten seeds run alternately with two and four slots on four
# cores, its median warm pass took 8.0 s either way, while its warm-pass
# times spread half as much with two (IQR/median 0.13 vs 0.23). Its cold
# pass spends about two cores on JIT compilation (44 s of compiler CPU in
# 23 s), which four busy slots would share the cores with.
SLOTS = {"daily_etl": 2, "driver_loops": 4}
_slots = 4
_CLK = os.sysconf("SC_CLK_TCK")


def cores() -> int:
    return max(1, min(_slots, len(os.sched_getaffinity(0))))


def check_checkout() -> None:
    """Fail fast when the engine sources are not next to the benchmark."""
    missing = [
        p for p in ("__spark_entry__.py", "nessus_client_etl_scripts_spark", "tools/compare_oracle.py")
        if not os.path.exists(os.path.join(ROOT, p))
    ]
    if missing:
        raise SystemExit(f"perfbench: engine sources missing from {ROOT}: {missing}")


def prepare(workload: str) -> None:
    """Set the variables the engine, its Python workers and the JVM read
    at start-up, with ``workload``'s task slots. Must run before pyspark
    or the engine is imported."""
    global _slots
    _slots = SLOTS[workload]
    n = cores()
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(OUT, d), exist_ok=True)
    env = os.environ
    # Python UDF workers import the engine package by name
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["PYSPARK_PYTHON"] = sys.executable
    env["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    env["SPARK_GRAFT_CPUS"] = str(n)
    env["SPARK_LOCAL_DIRS"] = os.path.join(OUT, "spark-local")
    env["TMPDIR"] = os.path.join(OUT, "tmp")
    # keep the JVM's temp files and perf-data file inside the checkout
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={env['TMPDIR']} -XX:-UsePerfData"
    env.pop("SPARK_GRAFT_MASTER", None)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_session():
    """Import the engine the way a cron job does and return
    ``(spark, queries, timings)``; timings hold ``get_spark_s`` and
    ``import_s``."""
    from nessus_client_etl_scripts_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", master=f"local[{cores()}]")
    t1 = time.perf_counter()
    import __spark_entry__

    queries = __spark_entry__.queries()
    t2 = time.perf_counter()
    return spark, queries, {"get_spark_s": t1 - t0, "import_s": t2 - t1}


def process_start() -> float:
    """Wall-clock time (epoch seconds) at which this process started."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + start_ticks / _CLK


def _stat_all() -> dict[int, list[str]]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                out[int(name)] = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
    return out


def tree() -> dict[int, list[str]]:
    """``/proc/<pid>/stat`` fields (after the command name) of this
    process and all its descendants: the driver, the JVM and the Python
    workers."""
    root = os.getpid()
    stats = _stat_all()
    kids: dict[int, list[int]] = {}
    for pid, f in stats.items():
        kids.setdefault(int(f[1]), []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(kids.get(pid, ()))
    return out


def cpu_seconds() -> float:
    """User + system CPU of the process tree, reaped children included."""
    total = sum(sum(int(x) for x in f[11:15]) for f in tree().values())  # utime stime cutime cstime
    return total / _CLK


def peak_rss_mb() -> float:
    """Sum of ``VmHWM`` (peak RSS) over the process tree: the JVM, the
    Python driver and the Python workers alive now, in MiB."""
    total_kb = 0
    for pid in tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024


def jit_s(spark) -> float:
    """Seconds the JVM's JIT compilers have spent so far, as its
    compilation bean reports them."""
    bean = spark._jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    return bean.getTotalCompilationTime() / 1e3
