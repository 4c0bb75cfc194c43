"""File→config prefix routing (reference ``RouteFileToConfig``,
main.py:37-63 = main_batch.py:36-62): for each URI, the FIRST config
(in config-file order) whose ``source_gcs_prefix`` is a string prefix of
the URI wins; unmatched URIs are dropped (with a metric).

Two Spark-first strategies, both preserving first-match order via an
explicit ``config_order`` (SURVEY §7 hard part 7):

1. ``route_expr`` (default): configs are a small ordered list, so routing
   compiles to a single ``when``-chain Column — evaluated inline in the
   scan stage, NO join and NO shuffle. This is the 100 TB path: routing
   cost is O(prefixes) per row inside whole-stage codegen.
2. ``route_join``: general form for huge config sets — a broadcast theta
   join (startswith) + min_by(config_order) groupBy. Shuffles on the URI;
   only preferable when the config list is too large to inline.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from gcs_parquet_dataflow_spark.config.model import SourceConfig
from gcs_parquet_dataflow_spark.session import local_frame


def route_expr(configs: list[SourceConfig], uri: Column) -> Column:
    """config_id for the first prefix-matching config, else NULL.

    A ``when`` chain short-circuits in order — exactly the reference's
    first-``return`` loop (main.py:48-59) — but runs vectorized inside
    codegen instead of per-row Python.
    """
    ordered = sorted(configs, key=lambda c: c.config_order)
    expr: Column | None = None
    for c in ordered:
        cond = uri.startswith(c.source_gcs_prefix)
        expr = F.when(cond, F.lit(c.config_id)) if expr is None else expr.when(
            cond, F.lit(c.config_id)
        )
    if expr is None:
        return F.lit(None).cast("string")
    return expr.otherwise(F.lit(None).cast("string"))


def with_routing(
    df: DataFrame,
    configs: list[SourceConfig],
    uri_col: str = "uri",
) -> DataFrame:
    """Attach the routed config_id column (NULL = unmatched)."""
    return df.withColumn("config_id", route_expr(configs, F.col(uri_col)))


def route_uris(
    df: DataFrame,
    configs: list[SourceConfig],
    parquet_only: bool = True,
) -> DataFrame:
    """``df`` (URIs in ``uri``) with ``config_id`` attached, NULL where
    no config matches.

    The NULL rows stay, so one action reads both the routed and the
    unmatched URIs; the reference only counts the unmatched ones
    (``unmatched_uri`` counter, main.py:60-63). ``parquet_only``
    reproduces the streaming pipeline's FilterParquet (main.py:475-479):
    rows routed to a config whose file_type is not PARQUET
    (case-insensitive) are dropped.
    """
    routed = with_routing(df, configs)
    if parquet_only:
        parquet_ids = [
            c.config_id for c in configs if c.file_type.upper() == "PARQUET"
        ]
        routed = routed.filter(
            F.col("config_id").isNull() | F.col("config_id").isin(parquet_ids)
        )
    return routed


def files_by_config(
    df: DataFrame,
    configs: list[SourceConfig],
    parquet_only: bool = True,
) -> tuple[dict[str, list[str]], list[str]]:
    """Route a DataFrame of file URIs (column ``uri``) and collect the
    FILE LIST (tiny — names, never row data) in one action →
    ({config_id: [uri, ...]}, unmatched uris). The one driver-side file list both the batch
    planner and the notification stream read per config from."""
    # route_uris is looked up as this module's global on each call, so a
    # wrapper set on the module attribute (perfbench's traced run) sees it
    routed = route_uris(df, configs, parquet_only=parquet_only)
    by_config: dict[str, list[str]] = {}
    unmatched: list[str] = []
    for r in routed.select("uri", "config_id").collect():
        if r["config_id"] is None:
            unmatched.append(r["uri"])
        else:
            by_config.setdefault(r["config_id"], []).append(r["uri"])
    return by_config, unmatched


CONFIGS_SCHEMA = StructType([
    StructField("config_id", StringType()),
    StructField("source_gcs_prefix", StringType()),
    StructField("file_type", StringType()),
    StructField("config_order", IntegerType()),
])


def configs_df(df_or_spark, configs: list[SourceConfig]) -> DataFrame:
    """Routing table as a (broadcastable) DataFrame for the join strategy:
    an Arrow ``LocalRelation``, never a Python RDD."""
    spark = df_or_spark if not isinstance(df_or_spark, DataFrame) else df_or_spark.sparkSession
    columns = [
        [c.config_id for c in configs],
        [c.source_gcs_prefix for c in configs],
        [c.file_type for c in configs],
        [c.config_order for c in configs],
    ]
    return local_frame(spark, columns, CONFIGS_SCHEMA)


def route_join(
    df: DataFrame,
    configs: list[SourceConfig],
    uri_col: str = "uri",
) -> DataFrame:
    """General-form routing: broadcast theta join + first-match argmin.

    For each input row keep the match with the smallest config_order via
    ``min_by`` — one hash aggregation (map-side partial first), cheaper
    than a row_number window which would sort each partition group.
    The grouping key is a synthetic 8-byte row id, NOT the input columns:
    grouping whole (possibly wide) rows would hash and compare entire
    rows in the shuffle; here the row payload rides through the agg
    buffer (min_by keeps exactly one candidate per group per partition)
    while the exchange keys on a long.
    """
    cdf = configs_df(df, configs)
    with_id = df.withColumn("_row_id", F.monotonically_increasing_id())
    joined = with_id.join(
        F.broadcast(cdf),
        F.col(uri_col).startswith(cdf.source_gcs_prefix),
        "inner",
    )
    other_cols = [c for c in df.columns]
    best = joined.groupBy("_row_id").agg(
        F.min_by(
            F.struct(*other_cols, "config_id", "file_type"),
            F.col("config_order"),
        ).alias("_m")
    )
    return best.select(
        *[F.col(f"_m.{c}").alias(c) for c in other_cols],
        F.col("_m.config_id").alias("config_id"),
        F.col("_m.file_type").alias("file_type"),
    )
