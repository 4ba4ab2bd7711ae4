"""SparkSession factory with scale-oriented defaults.

Defaults chosen for the 100 TB target (and scaled down by env for the
local[32] sandbox):

- AQE on (runtime coalesce, skew-join splitting) — replaces the
  reference's hard-coded partition sizing (conf/spider.conf:3-4).
- Arrow execution on — all pandas-UDF transport is columnar batches.
- shuffle partitions sized via env so local tests stay fast while the
  same code scales by config only.

`local_frame` is the package's one way to turn driver-side rows into a
DataFrame.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType, StructType


def get_spark(
    app_name: str = "spider_engine_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", "32"))
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # tmpfs shuffle dir when available: local-mode shuffle files are
        # ephemeral; page-cache-backed IO removes disk syscall stalls
        .config(
            "spark.local.dir",
            "/dev/shm/spark-local"
            if os.path.isdir("/dev/shm")
            else "/tmp",
        )
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    # Search runs two windows over one partition on purpose: the df
    # count(1) over () and the rank window over the page's top_k rows
    # (whose partitionBy(lit(1)) the optimizer drops). WindowExec warns
    # "No Partition Defined for Window operation!" for them on every
    # search, which floods a long-lived controller's log. Only that
    # logger is raised to ERROR; every other logger keeps its level.
    jvm = spark.sparkContext._jvm
    jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.execution.window.WindowExec",
        jvm.org.apache.logging.log4j.Level.ERROR,
    )
    return spark


def local_frame(
    spark: SparkSession, rows: Sequence[Sequence], schema: StructType | str
) -> DataFrame:
    """Driver-side rows (tuples in schema order) as a DataFrame that
    plans as a LocalRelation.

    The rows become one Arrow table typed by the Spark schema, so no
    Python process ever decodes them. `createDataFrame` on a Python
    list instead parallelizes pickled rows: every scan of that frame
    re-runs a row-at-a-time PythonRDD and starts a Python daemon with
    one worker per core, which lives for the rest of the session."""
    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    for f, c in zip(schema.fields, table.columns):
        if not f.nullable and c.null_count:
            raise ValueError(f"field {f.name!r} is not nullable, but got None")
    return spark.createDataFrame(table, schema)
