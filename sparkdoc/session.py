"""SparkSession factory with scale-oriented defaults.

Defaults are tuned for the sandbox (local[$SPARK_GRAFT_CPUS], 128 GiB) but
chosen to hold on a multi-executor cluster: AQE on (coalesce + skew join),
Arrow on for every pandas UDF, shuffle partition count sized to cores locally
and overridable via env for cluster runs.
"""

from __future__ import annotations

import os
from typing import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def local_frame(
    spark: SparkSession, rows: Iterable[Sequence], schema: StructType | str
) -> DataFrame:
    """Driver-local rows (tuples in ``schema`` field order) → DataFrame.

    The ONE way the engine builds a frame from data already in driver
    memory. ``spark.createDataFrame(<python list>, schema)`` goes through
    ``parallelize`` → ``applySchemaToPythonRDD``, so even a one-row frame
    launches a Python-worker task when an action touches it (~1 s per
    manifest or params write in the commit loop). An Arrow table is shipped
    to the JVM as a local relation and runs no Python at all.

    ``schema`` is a StructType or a DDL string; the result's schema equals
    it exactly, nullability included."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def get_spark(
    app_name: str = "sparkdoc",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = default_parallelism()
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    shuffle = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(max(cpus, 8)))
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime coalescing + skew-join splitting are the first line of
        # defense against the long-tail document-size skew (SURVEY §7.3.4).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        # Arrow for all pandas UDF traffic. 16k rows/batch ≈ 400 median docs
        # (or ~27 worst-case 60-page docs) per Python call — raw-node rows are
        # ~1 KB so a batch stays ~16 MB; the old 2048 made extract pay per-batch
        # Arrow overhead ~8x more often for no memory benefit.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "16384")
        # Keep scan partitions reasonable for wide parquet at 100 TB.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Effective only when THIS process builds the driver JVM (python
        # jobs/x.py, pyspark, tests). Under `spark-submit` the driver is
        # already running before get_spark() executes and this is silently
        # ignored — pass `--driver-memory 16g` on the spark-submit line
        # (the jobs' docstrings say so).
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # bucketed-table warehouse (io.write_bucketed_table — the Iceberg
        # hash-distribution-mode analog); kept out of the repo tree
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/sparkdoc-warehouse"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
