from __future__ import annotations

from gcs_parquet_dataflow_spark.config.model import load_configs
from gcs_parquet_dataflow_spark.operators.routing import (
    files_by_config,
    route_join,
    route_uris,
    with_routing,
)
import pytest

pytestmark = pytest.mark.fast  # driver quick-gate module (r13)

CONFIGS = load_configs(
    [
        # overlapping prefixes: first match must win (config order matters)
        {"config_id": "specific", "source_gcs_prefix": "gs://b/a/x/",
         "file_type": "PARQUET", "field_mappings": []},
        {"config_id": "general", "source_gcs_prefix": "gs://b/a/",
         "file_type": "PARQUET", "field_mappings": []},
        {"config_id": "csvs", "source_gcs_prefix": "gs://b/c/",
         "file_type": "CSV", "field_mappings": []},
    ]
)

URIS = [
    ("gs://b/a/x/f1.parquet",),   # matches specific AND general → specific
    ("gs://b/a/y/f2.parquet",),   # only general
    ("gs://b/c/f3.csv",),         # csvs (non-parquet)
    ("gs://other/f4.parquet",),   # unmatched
]


def test_first_match_routing_expr(spark):
    df = spark.createDataFrame(URIS, "uri string")
    got = {r["uri"]: r["config_id"] for r in with_routing(df, CONFIGS).collect()}
    assert got == {
        "gs://b/a/x/f1.parquet": "specific",
        "gs://b/a/y/f2.parquet": "general",
        "gs://b/c/f3.csv": "csvs",
        "gs://other/f4.parquet": None,
    }


def test_route_uris_split_and_parquet_filter(spark):
    df = spark.createDataFrame(URIS, "uri string")
    routed = route_uris(df, CONFIGS, parquet_only=True)
    got = {r["uri"]: r["config_id"] for r in routed.collect()}
    assert got == {  # csvs filtered out; the unmatched row kept as NULL
        "gs://b/a/x/f1.parquet": "specific",
        "gs://b/a/y/f2.parquet": "general",
        "gs://other/f4.parquet": None,
    }


def test_files_by_config_lists_routed_and_unmatched_from_one_collect(spark):
    df = spark.createDataFrame(URIS, "uri string")
    by_config, unmatched = files_by_config(df, CONFIGS)
    assert by_config == {
        "specific": ["gs://b/a/x/f1.parquet"],
        "general": ["gs://b/a/y/f2.parquet"],
    }  # the csv config's file is neither routed nor unmatched
    assert unmatched == ["gs://other/f4.parquet"]


def test_route_join_agrees_with_expr(spark):
    df = spark.createDataFrame(URIS, "uri string")
    expr_routes = {
        r["uri"]: r["config_id"]
        for r in with_routing(df, CONFIGS).collect()
        if r["config_id"] is not None
    }
    join_routes = {r["uri"]: r["config_id"] for r in route_join(df, CONFIGS).collect()}
    assert join_routes == expr_routes


def test_routing_order_is_config_order_not_prefix_length(spark):
    # if the general prefix is listed FIRST, it wins even for the
    # more-specific path — first match is positional, like the reference
    configs = load_configs(
        [
            {"config_id": "general", "source_gcs_prefix": "gs://b/a/",
             "field_mappings": []},
            {"config_id": "specific", "source_gcs_prefix": "gs://b/a/x/",
             "field_mappings": []},
        ]
    )
    df = spark.createDataFrame([("gs://b/a/x/f.parquet",)], "uri string")
    [r] = with_routing(df, configs).collect()
    assert r["config_id"] == "general"
