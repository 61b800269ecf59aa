"""SparkSession factory tuned for the engine.

Local-mode defaults match the test container (local[32], 128 GiB); on a real
cluster the same config block applies minus master/driver-memory, and AQE
handles runtime re-planning (skew joins, partition coalescing) at 100 TB.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "da_transform_judgments_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    Defaults are scale-aware: AQE on (runtime partition coalescing + skew-join
    splitting), broadcast threshold raised so dimension tables (region/nation/
    supplier and checksum manifests) broadcast instead of shuffling, Arrow on
    for the Pandas-UDF slow path.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    shuffle = str(shuffle_partitions or int(cpus))

    # Python workers resolve Pandas-UDF closures by importing this package;
    # make sure the package root is importable even when the consumer runs
    # from another directory. Local-mode workers inherit the driver env; on a
    # real cluster, ship the package with --py-files / spark.submit.pyFiles.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    py_path = os.environ.get("PYTHONPATH", "")
    if pkg_root not in py_path.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + py_path if py_path else "")
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.host", "127.0.0.1")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_df(spark: SparkSession, rows, ddl: str):
    """Small CONTROL-PLANE row lists as a pure-JVM local relation.

    ``spark.createDataFrame(list, ...)`` builds a pickled Python RDD
    sliced over ``defaultParallelism`` partitions, so every job that
    scans the frame launches that many Python worker tasks — measured
    0.34–0.6 s per action at local[32] for a ONE-ROW frame (r14-opt,
    guide §4: eliminate the Python boundary). This binds the same rows
    as JVM array literals over a ``range(n)`` leaf instead: zero Python
    tasks, values and dtypes identical to the createDataFrame twin
    (each column is cast to its declared DDL type).

    For control-plane sizes only (manifests, config dims, seed lists —
    the rows live in one driver list either way); the array literals
    ride the plan, so do not feed it data-plane row counts."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    schema = T.StructType.fromDDL(ddl)
    if not rows:
        return spark.createDataFrame([], schema)
    rows = [
        tuple(bytes(v) if isinstance(v, bytearray) else v for v in r)
        for r in rows
    ]
    idx = (F.col("id") + 1).cast("int")
    return spark.range(len(rows)).select(*[
        F.element_at(
            F.lit([r[i] for r in rows]), idx
        ).cast(f.dataType).alias(f.name)
        for i, f in enumerate(schema.fields)
    ])
