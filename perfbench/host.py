"""Host facts, host-fit sizing, and the Spark session the workloads share.

The driver heap is sized from ``MemTotal`` and handed to the program through
``SPARK_DRIVER_MEM`` (``session.get_spark`` reads it); its built-in default
is larger than small hosts have. Every scratch path Spark, the JVM and
Python write to is placed under the benchmark's work directory.
"""

from __future__ import annotations

import os
import subprocess


def nproc() -> int:
    """Cores available to this process, as ``nproc`` reports them."""
    out = subprocess.run(["nproc"], capture_output=True, text=True, check=True)
    return int(out.stdout.strip())


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap_mb(mem_mb: int) -> int:
    """A sixteenth of the host's memory, between 1 and 4 GiB. The workloads'
    inputs fit well inside it, and on a virtual machine every page touched
    for the first time costs the host: on a 4-core, 15 GB guest a 4 GiB heap
    touched up front raised steal time from a few percent to most of the user
    time."""
    return max(1024, min(4096, mem_mb // 16))


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set (VmHWM) of ``pids``."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def tree_cpu_s(root: int) -> float:
    """User plus system CPU seconds of ``root`` and every live descendant,
    children they have already reaped included. Time the hypervisor steals is
    not in it, so it stays steady when neighbours load the host."""
    procs = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:  # the process ended while we looked
            continue
        fields = raw[raw.rindex(")") + 2:].split()
        procs[int(name)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [root]
    while todo:
        pid = todo.pop()
        if pid in procs:
            ticks += procs[pid][1]
            todo.extend(children.get(pid, []))
    return ticks / os.sysconf("SC_CLK_TCK")


def start_spark(cores: int, heap_mb: int, work: str):
    """The program's own session factory, pinned to this host: ParallelGC
    with a pre-sized heap and GC threads capped at the core budget (as
    bench.py does), scratch space under ``work``."""
    from otel_arrow_adapter_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_DRIVER_MEM"] = f"{heap_mb}m"
    # No hsperfdata files in the system temp directory, from the launcher
    # JVM or the driver JVM.
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    return get_spark(
        app_name=f"perfbench-{cores}",
        cores=cores,
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.extraJavaOptions": (
                f"-XX:+UseParallelGC -Xms{heap_mb}m -XX:ParallelGCThreads={cores} "
                f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
            ),
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def stop_spark(spark) -> None:
    """Stop the session, then the JVM the gateway launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None
