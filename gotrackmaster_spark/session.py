"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what we would set on a real cluster: AQE on
(runtime skew-join + coalesce), Arrow transfer on (every kernel is an
Arrow-batched pandas UDF), shuffle partitions sized to the core count
rather than the 200 default (at 100 TB you'd size this to cluster cores /
target partition bytes instead).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def get_session(
    app_name: str = "gotrackmaster-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else cpus
        shuffle_partitions = 32 if n == "*" else max(int(n), 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _ship_package(spark)
    return spark


def _ship_package(spark: SparkSession) -> None:
    """Ship this package to executors (the local-mode analogue of
    ``spark-submit --py-files``), so kernels unpickle on workers no matter
    the caller's cwd."""
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_path = os.path.join(
        spark.conf.get("spark.local.dir", "/tmp"), "gotrackmaster_spark.zip"
    )
    sources = [
        os.path.join(root, f)
        for root, _dirs, files in os.walk(pkg_dir)
        for f in files
        if f.endswith(".py")
    ]
    newest = max(os.path.getmtime(p) for p in sources)
    if not os.path.exists(zip_path) or os.path.getmtime(zip_path) < newest:
        with zipfile.ZipFile(zip_path, "w") as zf:
            for full in sources:
                rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                zf.write(full, rel)
    spark.sparkContext.addPyFile(zip_path)


def local_frame(spark: SparkSession, rows, schema: StructType | str) -> DataFrame:
    """A DataFrame over driver-side row tuples, built from Arrow columns.

    ``spark.createDataFrame(<list>)`` pickles the rows into a ``PythonRDD``,
    so every scan of the frame runs Python-worker tasks (each costs a few
    tenths of a second, even for one row).  An Arrow table is handed to the
    JVM whole and becomes a ``LocalRelation``, whose scans run no Python.
    ``schema`` is a ``StructType`` or a DDL string; struct values may be
    tuples, and naive datetimes are read as UTC.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if not isinstance(schema, StructType):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)], schema=arrow_schema
    )
    return spark.createDataFrame(table, schema)
