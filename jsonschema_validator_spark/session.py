"""SparkSession helpers tuned for the validation workload.

Defaults are chosen for a multi-executor cluster reading ~100 TB of
image+caption parquet/Iceberg data; tests override parallelism to the
sandbox's local[N].
"""

from __future__ import annotations

import os
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def build_session(
    app_name: str = "jsonschema-validator-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create a SparkSession with scale-appropriate defaults.

    - AQE on (runtime coalescing + skew-join splitting — the phash column is
      deliberately skewed per FIXTURES.md).
    - Arrow enabled for pandas UDFs with a bounded batch size so multi-MB
      binary image payloads can't blow executor memory
      (SURVEY.md §4.3 item 4).
    - 128 MB parquet split size: good balance of task count vs overhead for
      wide binary columns.
    """
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or "local[*]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    if shuffle_partitions is not None:
        builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def arrow_rows(rows: Sequence[tuple], schema):
    """``rows`` as one ``pyarrow.RecordBatch`` typed exactly by ``schema``
    (nulls kept, ``rows`` may be empty). Pure pyarrow, so it also runs
    inside Python workers."""
    import pyarrow as pa

    columns = list(zip(*rows)) if rows else [()] * len(schema)
    return pa.RecordBatch.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(columns, schema)],
        schema=schema,
    )


def local_frame(spark: SparkSession, rows: Sequence[tuple], ddl: str) -> DataFrame:
    """A tiny literal table (dimension rows, key lists, lineage, spec diffs)
    as a JVM ``LocalRelation``.

    ``spark.createDataFrame(list)`` plans a ``Scan ExistingRDD`` over a
    Python RDD, so every query that touches the table starts Python
    workers for a handful of rows. Handing Spark a ``pyarrow.Table``
    instead plans a ``LocalTableScan``: no Python stage, no job. Column
    types come exactly from ``ddl`` (every column nullable, as with
    ``createDataFrame(rows, ddl)``); ``rows`` may be empty.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = StructType.fromDDL(ddl)
    batch = arrow_rows(rows, to_arrow_schema(schema))
    return spark.createDataFrame(pa.Table.from_batches([batch]), schema)
