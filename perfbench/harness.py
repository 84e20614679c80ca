"""Run context shared by the workloads: the run directory, the Spark
session sized to the box, job phase tagging, memory and byte counters."""

from __future__ import annotations

import os
import resource
import shutil
import subprocess
import tempfile

from perfbench.tracing import PHASE_PROP, Tracer

RUN_ROOT = ".perfbench_run"


def box_cores() -> int:
    return min(4, os.cpu_count() or 1)


def box_heap_mb() -> int:
    """A driver heap well below physical RAM: a quarter of it, at most 2 GiB."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal"))
    return min(2048, total_kb // 4096)


CLK_TCK = os.sysconf("SC_CLK_TCK")


def _proc_stat(pid: str) -> list[str]:
    """Fields of /proc/<pid>/stat from the state (field 3) on."""
    with open(f"/proc/{pid}/stat") as f:
        s = f.read()
    return s[s.rindex(")") + 2:].split()


def tree_cpu_s() -> float:
    """CPU seconds (user + system) of this process and every process under
    it, the driver JVM and its Python workers included, since each
    started; children already waited for count through their parent's
    cutime/cstime. Other processes on the box do not count, and neither
    does time the hypervisor steals."""
    parent, ticks = {}, {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            f = _proc_stat(pid)
        except (OSError, ValueError):
            continue  # ended while listed
        parent[int(pid)] = int(f[1])
        ticks[int(pid)] = sum(map(int, f[11:15]))  # utime stime cutime cstime
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo += children.get(pid, [])
    return total / CLK_TCK


def steal_s() -> float:
    """CPU seconds the hypervisor has stolen from all cores since boot."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / CLK_TCK


def since_process_start_s() -> float:
    """Wall seconds since this process started, from /proc."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - int(_proc_stat("self")[19]) / CLK_TCK


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for name in files:
            p = os.path.join(root, name)
            if not os.path.islink(p):
                total += os.path.getsize(p)
    return total


class Bench:
    """One benchmark process: owns the run directory under the current
    directory, every Spark session it starts, and the tracer."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.cores = box_cores()
        self.heap_mb = box_heap_mb()
        self.tracer = Tracer(False)
        os.makedirs(RUN_ROOT, exist_ok=True)
        self.dir = os.path.abspath(
            tempfile.mkdtemp(prefix=f"{workload}-", dir=RUN_ROOT)
        )
        self.event_log_dir = self.subdir("eventlog")
        # Python temp files (the program's own mkdtemp calls included)
        # land inside the run directory, which is removed at the end
        tempfile.tempdir = self.subdir("pytmp")
        self.spark = None

    def subdir(self, *parts: str) -> str:
        """A directory under the run directory, created if missing."""
        p = os.path.join(self.dir, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def conf(self, event_log: bool) -> dict[str, str]:
        conf = {
            "spark.driver.memory": f"{self.heap_mb}m",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": self.subdir("spark-local"),
            "spark.sql.warehouse.dir": self.subdir("warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={self.subdir('jvmtmp')} "
                f"-Dderby.system.home={self.subdir('derby')}"
            ),
        }
        if event_log:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_log_dir,
                "spark.eventLog.compress": "false",
            })
        return conf

    def start_session(self, event_log: bool = False):
        from airquality_data_pipeline_spark import session

        os.environ["TMPDIR"] = self.subdir("pytmp")
        self.spark = session.get_spark(
            app_name=f"perfbench-{self.workload}",
            master=f"local[{self.cores}]",
            shuffle_partitions=self.cores,
            extra_conf=self.conf(event_log),
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def phase(self, name: str) -> None:
        """Tag the jobs started from here on (see tracing.UNTIMED_PHASES)."""
        self.spark.sparkContext.setLocalProperty(PHASE_PROP, name)

    @staticmethod
    def noop(df) -> None:
        df.write.mode("overwrite").format("noop").save()

    def peak_rss_mb(self) -> float:
        """Driver JVM VmHWM plus this Python process's peak RSS."""
        jvm_kb = 0
        if self.spark is not None:
            pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
            with open(f"/proc/{pid}/status") as f:
                jvm_kb = next(
                    int(line.split()[1]) for line in f if line.startswith("VmHWM")
                )
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return (jvm_kb + py_kb) / 1024

    def cleanup(self) -> None:
        self.stop_session()
        shutdown_jvm()
        shutil.rmtree(self.dir, ignore_errors=True)
        try:
            os.rmdir(RUN_ROOT)
        except OSError:
            pass  # another run still owns a directory there


def shutdown_jvm(timeout_s: float = 60.0) -> None:
    """Stop the gateway JVM this process launched and wait for it to end;
    its Python workers exit with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
