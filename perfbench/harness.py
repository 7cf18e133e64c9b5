"""Process set-up shared by the workloads: the pinned Spark session, the
process tree it spans, and an orderly teardown that waits for the JVM."""

from __future__ import annotations

import os
import subprocess
import time

from measure import TreeProbe

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: the benchmark's work space in the repository: one directory per run,
#: plus the oracle digest cache shared by runs
WORK_DIR = os.path.join(ROOT, ".perfbench")


def host_cpus() -> int:
    """The CPUs this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def corpus_root() -> str:
    """Directory holding the ``sf*`` corpora: the parent of the directory
    the repository bench reads (``SPARK_GRAFT_SF_DIR``, default in
    bench.py)."""
    import bench

    return os.path.dirname(bench.SF_DIR.rstrip("/"))


class Harness:
    """One Spark session on ``local[cpus]`` with a fresh warehouse and fresh
    local and temp directories under ``run_dir``."""

    def __init__(self, run_dir: str, cpus: int) -> None:
        self.run_dir = run_dir
        self.cpus = cpus
        self.spark = None
        self.probe: TreeProbe | None = None

    def start(self) -> float:
        """Start the session; returns the seconds it took."""
        local_dir = os.path.join(self.run_dir, "local")
        tmp_dir = os.path.join(self.run_dir, "tmp")
        warehouse = os.path.join(self.run_dir, "warehouse")
        for d in (local_dir, tmp_dir):
            os.makedirs(d, exist_ok=True)
        # the JVM inherits these; SPARK_LOCAL_DIRS overrides spark.local.dir
        os.environ["SPARK_LOCAL_DIRS"] = local_dir
        os.environ["TMPDIR"] = tmp_dir
        from iceberg_explorer_spark.session import build_session

        t0 = time.perf_counter()
        self.spark = build_session(
            app_name="perfbench",
            cpus=self.cpus,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": warehouse,
                "spark.local.dir": local_dir,
                # a fixed heap: G1's adaptive heap growth otherwise moves
                # peak RSS by a fifth between identical runs
                "spark.driver.memory": "1g",
                "spark.driver.extraJavaOptions": (
                    f"-Xms1g -Djava.io.tmpdir={tmp_dir} -XX:-UsePerfData"
                ),
            },
        )
        jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        self.probe = TreeProbe([os.getpid(), jvm_pid])
        return time.perf_counter() - t0

    def stop(self) -> None:
        """Stop the session, shut the gateway and wait for the JVM to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        self.spark = None
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
