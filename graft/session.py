"""SparkSession factory.

Core count comes from $SPARK_GRAFT_CPUS (driver contract: the bench is also
run at reduced core counts to measure scaling, so the master must never be
hard-coded).  Every setting not listed below is Spark's default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_session(app: str = "spark-graft", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 4)
    # Driver heap: half of physical RAM.  In local mode the driver JVM runs
    # every task, so it takes the largest share; the other half is left for
    # the JVM's off-heap memory, the Python workers (each holds a copy of
    # vector_knn's index) and the page cache serving the parquet reads.
    phys_mib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", f"{phys_mib // 2}m")
        .config("spark.ui.enabled", "false")
        # One BLAS thread per Python worker: Spark tasks are the parallelism
        # unit; an unpinned OpenBLAS spawns cores() threads per worker and
        # spin-waits, which measured 2-5x slower on the thin-K GEMMs used by
        # vector_knn
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
