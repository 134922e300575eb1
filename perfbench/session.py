"""Process environment and SparkSession for a benchmark run.

Everything Spark, its Python workers and the JVM write goes under the
run's work directory. The session itself comes from the program's own
``pgloader_spark.session.get_spark``, so its tuning is what is
measured; the benchmark adds only placement and quiet logging through
a ``spark-defaults.conf`` of its own.
"""

from __future__ import annotations

import os
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def cpus() -> int:
    """Spark's task slots: half the cores. Each COPY stream is a task
    thread, a Python worker and a PostgreSQL backend, so at one slot
    per core the process tree oversubscribes the host: on 4 vCPUs,
    ``db_migrate`` at ``local[4]`` used 1.8x the CPU of ``local[2]``,
    took 1.5x the wall time and drifted from pass to pass, which
    measures the scheduler rather than the program."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def driver_memory() -> str:
    """A quarter of the host's memory, at most 4g: the program's 24g
    default exceeds small hosts, and the inputs here are small."""
    with open("/proc/meminfo") as fh:
        total_kb = int(fh.readline().split()[1])
    return f"{max(1, min(4, total_kb // (4 << 20)))}g"


def configure(work: str) -> dict:
    """Set the environment the JVM and Python workers inherit; returns
    the recorded settings."""
    tmp = os.path.join(work, "tmp")
    conf_dir = os.path.join(work, "spark-conf")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(conf_dir, exist_ok=True)
    defaults = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    with open(os.path.join(conf_dir, "spark-defaults.conf"), "w") as fh:
        fh.writelines(f"{k} {v}\n" for k, v in defaults.items())
    with open(os.path.join(conf_dir, "log4j2.properties"), "w") as fh:
        fh.write(
            "rootLogger.level = error\n"
            "rootLogger.appenderRef.stderr.ref = console\n"
            "appender.console.type = Console\n"
            "appender.console.name = console\n"
            "appender.console.target = SYSTEM_ERR\n"
            "appender.console.layout.type = PatternLayout\n"
            "appender.console.layout.pattern = %d{HH:mm:ss} %p %c{1}: %m%n\n"
        )
    env = {
        "SPARK_GRAFT_CPUS": str(cpus()),
        "SPARK_DRIVER_MEMORY": driver_memory(),
        "SPARK_CONF_DIR": conf_dir,
        "SPARK_LOCAL_DIRS": defaults["spark.local.dir"],
        "TMPDIR": tmp,
        # every JVM, the spark-submit launcher's too: no /tmp/hsperfdata
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # Python workers import pgloader_spark from the checkout
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    }
    os.environ.update(env)
    tempfile.tempdir = tmp  # in case this process already cached /tmp
    return {k: env[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEMORY")}


def start_spark():
    from pgloader_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark
