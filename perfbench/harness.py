"""Shared pieces of the benchmark: session set-up, statistics, memory."""

from __future__ import annotations

import gc
import math
import os
import signal
import statistics
import subprocess
import sys
import tempfile
import time

#: Process start, as close as Python lets us read it; ``setup_s`` for the
#: first set-up of a run counts from here.
PROCESS_T0 = time.perf_counter()


def configure_env() -> str:
    """Deployment settings the engine reads from the environment, unless
    they are set, and a scratch directory private to this run, which the
    caller removes. The engine defaults (32 cores, 24 GiB heap) assume a
    large host. Spark gets half the cores, leaving the rest to the JIT, the
    garbage collector, the Python driver and other tenants: on a shared
    4-core host, 4 task threads made run-to-run timings drift more. A 1 GiB
    heap stops the JVM's adaptive heap sizing from moving its resident set
    by up to 1.5 GB between runs of the same code; both workloads use far
    less."""
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(max(1, (os.cpu_count() or 2) // 2)))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    # Shuffle files, Python and JVM temp files, and the engine's persisted
    # index caches all go here, so no run inherits another's state.
    scratch = os.path.abspath(f".perfbench/run-{os.getpid()}")
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(scratch, "warehouse")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    tempfile.tempdir = None
    return scratch


def start_session(sf_dir: str | None, app_name: str):
    """Bring the engine to the state every timed operation starts from:
    session up, every table's footers read once, Python workers forked.
    Returns ``(spark, seconds)``."""
    from etlp_spark.io import TABLES, load_table
    from etlp_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name=app_name)
    if sf_dir is not None:
        for t in TABLES:
            load_table(spark, sf_dir, t).count()
    par = spark.sparkContext.defaultParallelism
    # A lambda, so the worker unpickles it by value without this module.
    spark.range(par * 4).repartition(par).mapInPandas(lambda it: it, "id long").count()
    return spark, time.perf_counter() - t0


def repeated_setup(sf_dir: str | None, app_name: str, repeats: int, exclude_s: float = 0.0):
    """Set the engine up ``repeats`` times; return ``(spark, median seconds)``.

    The first set-up counts from process start (interpreter, imports, JVM
    launch), less ``exclude_s`` spent making inputs. Each later one stops
    the session and builds it again in the same JVM: context, table
    footers, Python worker fork. One cold start alone is too noisy to
    compare; the median still moves when work is added to any step."""
    spark, _ = start_session(sf_dir, app_name)
    samples = [time.perf_counter() - PROCESS_T0 - exclude_s]
    for _ in range(repeats - 1):
        spark.stop()
        gc.collect()
        spark, dt = start_session(sf_dir, app_name)
        samples.append(dt)
    return spark, statistics.median(samples)


def quantile(values: list[float], q: float) -> float:
    """Nearest-rank quantile (``q`` in 0..1) of a non-empty list: the
    smallest value with at least ``q`` of the values at or below it."""
    s = sorted(values)
    return s[min(len(s), max(1, math.ceil(q * len(s) - 1e-9))) - 1]


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, stack = [], [pid]
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(children.get(p, ()))
    return out


def peak_rss_mb() -> float:
    """Sum of the peak resident set (VmHWM) of this process and every
    process under it: the driver JVM and the Python worker daemon and
    workers. The split by program name goes to stderr."""
    by_name: dict[str, list[int]] = {}
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        if "VmHWM" in fields:
            by_name.setdefault(fields["Name"].strip(), []).append(int(fields["VmHWM"].split()[0]))
    split = ", ".join(f"{k} {sum(v) / 1024:.0f} MB x{len(v)}" for k, v in sorted(by_name.items()))
    print(f"perfbench: peak RSS by program: {split}", file=sys.stderr)
    return sum(map(sum, by_name.values())) / 1024.0


def _alive(pid: int) -> bool:
    """True while ``pid`` runs; a zombie has ended."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def _wait_gone(pids, timeout: float) -> set[int]:
    """Wait up to ``timeout`` seconds for ``pids`` to end; return those
    still running."""
    deadline = time.monotonic() + timeout
    left = {p for p in pids if _alive(p)}
    while left and time.monotonic() < deadline:
        time.sleep(0.05)
        left = {p for p in left if _alive(p)}
    return left


def stop_all(timeout: float = 20.0) -> None:
    """Stop the Spark context and the JVM that PySpark launched, then every
    other process started under this one, and wait until each has ended.

    Left alone, the JVM exits only after this process does, when it sees
    its standard input close, and the Python worker daemon after it."""
    from pyspark import SparkContext

    me = os.getpid()
    started = set(_descendants(me)) - {me}
    if SparkContext._active_spark_context is not None:
        try:
            SparkContext._active_spark_context.stop()
        except Exception as e:  # noqa: BLE001 - the JVM is stopped below anyway
            print(f"perfbench: stopping Spark raised {type(e).__name__}: {e}", file=sys.stderr)
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = gateway.proc
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
    left = _wait_gone(started, timeout)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in left:
            try:
                os.kill(pid, sig)
            except OSError:
                pass
        left = _wait_gone(left, timeout)
    for pid in started:
        try:
            os.waitpid(pid, os.WNOHANG)  # reap any that were our own children
        except ChildProcessError:
            pass
    if left:
        print(f"perfbench: processes {sorted(left)} did not end", file=sys.stderr)
