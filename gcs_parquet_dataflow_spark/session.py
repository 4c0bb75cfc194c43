"""SparkSession factory.

Local-mode defaults are tuned for the test container (local[32], single JVM)
but every setting is chosen so the same code scales to a real cluster:

- AQE on: runtime coalescing, skew-join splitting, dynamic join strategy —
  the knobs that keep a 100 TB shuffle healthy without hand-tuning.
- shuffle.partitions sized to cores locally; on a cluster AQE's coalesce
  makes the initial number mostly irrelevant.
- UTC session timezone so results are comparable with the DuckDB oracle and
  stable across deployment regions.
- Arrow enabled for the Pandas-UDF slow path.
- Python workers fork from ``worker_daemon``, which reads each zip on
  ``sys.path`` once instead of once per task.
- PySpark's DataFrame call-site capture off: ~11 fewer py4j round trips
  per Column operator.

``local_frame`` builds the small frames the driver already holds (file
lists, ledger rows, routing tables) without a Python RDD.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def get_spark(
    app_name: str = "gcs_parquet_dataflow_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default all
    cores). On a real cluster pass ``master=None`` with ``--master`` given
    by spark-submit and this just layers conf on top.

    Two confs trade something away:

    - ``spark.python.daemon.module`` is ``worker_daemon``: executors
      must import this package to start any Python worker, as the
      package's UDFs already require (SCALE.md).
    - ``spark.python.sql.dataFrameDebugging.enabled`` is ``false``: an
      ``AnalysisException`` still names the column or function, but no
      longer the Python file and line that built the failing Column.
      The conf is static: it applies only when this call creates the
      session.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)

    shuffle_parts = os.environ.get(
        "SPARK_GRAFT_SHUFFLE_PARTITIONS",
        str(os.cpu_count() or 32) if cpus == "*" else cpus,
    )

    conf = {
        # Spark 4 defaults ANSI on (errors on overflow / bad casts); the
        # engine's reference semantics are permissive — bad casts become
        # NULL and get stripped (SURVEY §1.2) — so run non-ANSI.
        "spark.sql.ansi.enabled": "false",
        "spark.sql.shuffle.partitions": shuffle_parts,
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.parquet.filterPushdown": "true",
        # parquet TIMESTAMP(NANOS) (e.g. pandas-written ts columns) is
        # otherwise unreadable; read as long and convert in the catalog.
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.python.daemon.module": "gcs_parquet_dataflow_spark.worker_daemon",
        # PySpark's _with_origin otherwise makes ~11 py4j round trips per
        # Column operator to record the Python call site
        "spark.python.sql.dataFrameDebugging.enabled": "false",
        # local mode: driver is the only JVM; give it headroom but leave
        # space for the OS page cache that backs shuffle spill files.
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"),
        "spark.ui.enabled": "false",
        # keep stdout machine-parseable: stage-progress bars otherwise
        # interleave with (and can truncate) the one-line JSON contracts
        # that bench.py / tools emit (BENCH_r03 arrived unparseable)
        "spark.ui.showConsoleProgress": "false",
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _silence_benign_warnings(spark)
    return spark


def local_frame(
    spark: SparkSession, columns: Sequence[Sequence], schema: StructType
) -> DataFrame:
    """A DataFrame of driver-held values: ``columns`` holds one sequence
    per field of ``schema``, in field order.

    The values go through a ``pyarrow.Table``, which becomes a
    ``LocalRelation`` in the plan: no Python worker and no Spark job runs
    until the frame meets real data, and collecting it alone runs none.
    ``createDataFrame`` of a Python list would instead pickle the rows
    into a Python RDD of ``defaultParallelism`` slices, each needing a
    Python worker. The Arrow-table path does not read
    ``spark.sql.execution.arrow.pyspark.enabled``.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    arrays = [
        pa.array(list(col), type=field.type)
        for col, field in zip(columns, arrow_schema, strict=True)
    ]
    table = pa.Table.from_arrays(arrays, schema=arrow_schema)
    return spark.createDataFrame(table, schema)


def _silence_benign_warnings(spark: SparkSession) -> None:
    """Raise the log level of WindowExec to ERROR: its "No Partition
    Defined ... cause serious performance degradation" warning fires for
    EVERY empty-partition-spec window, including the guard-verified
    bounded ones (single-partition windows sitting above a limit/top-k/
    aggregate — the only shape the catalog allows, machine-checked by
    tests/test_extensions.py). Three rounds of bench/sweep logs alarmed
    human readers over windows the plan guard had already proven
    bounded (VERDICT r5 item 8); a genuinely unbounded window is caught
    by the guard, not by this log line."""
    try:
        jvm = spark.sparkContext._jvm
        configurator = jvm.org.apache.logging.log4j.core.config.Configurator
        level = jvm.org.apache.logging.log4j.Level.ERROR
        for cls in (
            "org.apache.spark.sql.execution.window.WindowExec",
            "org.apache.spark.sql.execution.window.WindowInPandasExec",
        ):
            configurator.setLevel(cls, level)
    except Exception:  # pragma: no cover - non-log4j2 deployments
        pass
