"""Golden-output tests for the config compiler (SURVEY §5 item 2):
fixture config × fixture rows → exact expected output, covering every
branch of SURVEY §1.2/§2.6. Deterministic via injected now/uuid."""

from __future__ import annotations

import dataclasses
import json
import math
from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gcs_parquet_dataflow_spark.config.model import load_configs
from gcs_parquet_dataflow_spark.plans.compiler import (
    CompilerOptions,
    compile_config,
    split_dlq,
)

pytestmark = pytest.mark.fast  # driver quick-gate module (r13)

FIXED_NOW = 1_700_000_000
FIXED_UUID = "00000000-0000-4000-8000-000000000000"

CONFIG = load_configs(
    [
        {
            "config_id": "events_test",
            "source_gcs_prefix": "gs://bucket/events/",
            "file_type": "PARQUET",
            "mixpanel_event_name_from_field": "event_name",
            "field_mappings": [
                {"source_field": "bussiness_ts", "mixpanel_field": "time",
                 "type": "unix_timestamp_auto"},
                {"source_field": "user_id", "mixpanel_field": "$user_id",
                 "type": "string"},
                {"source_field": "did", "mixpanel_field": "$device_id",
                 "type": "string", "is_required_in_source": True},
                {"source_field": "insert_id", "mixpanel_field": "$insert_id",
                 "type": "string_or_uuid"},
                {"source_field": "count", "mixpanel_field": "count",
                 "type": "integer"},
                {"source_field": "ratio", "mixpanel_field": "ratio",
                 "type": "float"},
                {"source_field": "flag", "mixpanel_field": "flag",
                 "type": "boolean"},
                {"source_field": "*", "mixpanel_field": "*"},
            ],
        }
    ]
)[0]

SCHEMA = T.StructType(
    [
        T.StructField("event_name", T.StringType()),
        T.StructField("bussiness_ts", T.StringType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("did", T.StringType()),
        T.StructField("insert_id", T.StringType()),
        T.StructField("count", T.StringType()),
        T.StructField("ratio", T.StringType()),
        T.StructField("flag", T.StringType()),
        T.StructField("extra", T.DoubleType()),
    ]
)

def OPTS():
    # lazy: F.lit needs an active SparkContext (classic PySpark)
    return CompilerOptions(
        token="tok",
        now_epoch=F.lit(FIXED_NOW),
        uuid=F.lit(FIXED_UUID),
    )

ROW_OK = ("purchase", "2024-01-02 03:04:05", 7, "dev-1", "ins-1",
          "12", "1.5", "YES", 2.5)


def run_rows(spark, rows):
    df = spark.createDataFrame(rows, SCHEMA)
    compiled = compile_config(CONFIG, SCHEMA, OPTS())
    out = compiled.serialize(df).collect()
    parsed = []
    for r in out:
        parsed.append(
            (json.loads(r["event_json"]), r["_error"])
        )
    return parsed


def test_happy_path_golden(spark):
    [(doc, err)] = run_rows(spark, [ROW_OK])
    assert err is None
    assert doc == {
        "event": "purchase",
        "properties": {
            "token": "tok",
            "time": int(datetime(2024, 1, 2, 3, 4, 5,
                                 tzinfo=timezone.utc).timestamp()),
            "$user_id": "7",
            "$device_id": "dev-1",
            "$insert_id": "ins-1",
            "count": 12,
            "ratio": 1.5,
            "flag": True,
            # the event-name column is NOT an explicit mapping, so the
            # wildcard copies it too (reference main.py:266-269 skips only
            # mapped_source_fields)
            "event_name": "purchase",
            "extra": 2.5,
        },
    }


def test_missing_dynamic_event_name_empty_string(spark):
    row = ("",) + ROW_OK[1:]
    [(_, err)] = run_rows(spark, [row])
    assert err["error_type"] == "missing_dynamic_event_name"


def test_missing_dynamic_event_name_null(spark):
    row = (None,) + ROW_OK[1:]
    [(_, err)] = run_rows(spark, [row])
    assert err["error_type"] == "missing_dynamic_event_name"


def test_required_field_null_goes_to_dlq(spark):
    row = ROW_OK[:3] + (None,) + ROW_OK[4:]
    [(_, err)] = run_rows(spark, [row])
    assert err["error_type"] == "missing_required_field"
    assert "'did'" in err["reason"]


def test_error_precedence_event_name_first(spark):
    # both event name and required field bad → event-name error wins
    # (reference checks event name before the mapping loop)
    row = (None,) + ROW_OK[1:3] + (None,) + ROW_OK[4:]
    [(_, err)] = run_rows(spark, [row])
    assert err["error_type"] == "missing_dynamic_event_name"


def test_cast_failure_omits_property(spark):
    row = ROW_OK[:5] + ("not-an-int", "not-a-float") + ROW_OK[7:]
    [(doc, err)] = run_rows(spark, [row])
    assert err is None
    assert "count" not in doc["properties"]
    assert "ratio" not in doc["properties"]


def test_boolean_string_set(spark):
    rows = [ROW_OK[:7] + (s, 1.0) for s in
            ["true", "1", "t", "Y", "yes", "no", "0", "false", "anything"]]
    out = run_rows(spark, rows)
    flags = [doc["properties"]["flag"] for doc, _ in out]
    assert flags == [True, True, True, True, True,
                     False, False, False, False]


def test_nan_is_null_and_stripped(spark):
    row = ROW_OK[:8] + (float("nan"),)
    [(doc, err)] = run_rows(spark, [row])
    assert err is None
    assert "extra" not in doc["properties"]


def test_insert_id_defaults_to_uuid(spark):
    row = ROW_OK[:4] + (None,) + ROW_OK[5:]
    [(doc, _)] = run_rows(spark, [row])
    assert doc["properties"]["$insert_id"] == FIXED_UUID


def test_unparseable_time_falls_back_to_now(spark):
    row = ROW_OK[:1] + ("garbage-date",) + ROW_OK[2:]
    [(doc, _)] = run_rows(spark, [row])
    assert doc["properties"]["time"] == FIXED_NOW


def test_null_time_falls_back_to_now(spark):
    row = ROW_OK[:1] + (None,) + ROW_OK[2:]
    [(doc, _)] = run_rows(spark, [row])
    assert doc["properties"]["time"] == FIXED_NOW


def test_timestamp_formats(spark):
    cases = {
        "2024-01-02T03:04:05": 1704164645,
        "2024-01-02 03:04:05.250": 1704164645,
        "2024-01-02": 1704153600,
        "2024/01/02": 1704153600,
        "01/02/2024": 1704153600,  # MM/dd/yyyy — dateutil's US default
    }
    rows = [ROW_OK[:1] + (s,) + ROW_OK[2:] for s in cases]
    out = run_rows(spark, rows)
    got = [doc["properties"]["time"] for doc, _ in out]
    assert got == list(cases.values())


def test_strict_timestamps_off_reaches_dateutil_grammar(spark):
    """``strict_timestamps=False`` is the compiler's route to the
    reference's dateutil grammar (main.py:131-149): a string the JVM
    format ladder misses parses to dateutil's epoch. Under the default
    the same string is unparseable, so ``time`` falls back to now()."""
    value = "Jan 5th 2024 10:00"
    want = int(datetime(2024, 1, 5, 10, 0, tzinfo=timezone.utc).timestamp())
    df = spark.createDataFrame([ROW_OK[:1] + (value,) + ROW_OK[2:]], SCHEMA)

    def time_of(opts):
        [r] = compile_config(CONFIG, SCHEMA, opts).serialize(df).collect()
        assert r["_error"] is None
        return json.loads(r["event_json"])["properties"]["time"]

    assert time_of(dataclasses.replace(OPTS(), strict_timestamps=False)) == want
    assert time_of(OPTS()) == FIXED_NOW


def test_wildcard_skips_consumed_fields(spark):
    [(doc, _)] = run_rows(spark, [ROW_OK])
    # explicit source fields must not leak via the wildcard
    for k in ("bussiness_ts", "user_id", "did", "insert_id"):
        assert k not in doc["properties"]
    # ...but the event-name column (not an explicit mapping) does pass through
    assert doc["properties"]["event_name"] == "purchase"


def test_static_event_name_default():
    cfg = load_configs(
        [{"config_id": "c", "source_gcs_prefix": "gs://b/",
          "field_mappings": []}]
    )[0]
    assert cfg.mixpanel_event_name is None


def test_static_event_name(spark):
    cfg = load_configs(
        [{"config_id": "c", "source_gcs_prefix": "gs://b/",
          "field_mappings": [
              {"source_field": "x", "mixpanel_field": "x", "type": "integer"}
          ]}]
    )[0]
    schema = T.StructType([T.StructField("x", T.LongType())])
    df = spark.createDataFrame([(1,)], schema)
    compiled = compile_config(cfg, schema, OPTS())
    [row] = compiled.serialize(df).collect()
    doc = json.loads(row["event_json"])
    assert doc["event"] == "generic_event"
    assert doc["properties"]["x"] == 1


def test_split_dlq(spark):
    rows = [ROW_OK, (None,) + ROW_OK[1:]]
    df = spark.createDataFrame(rows, SCHEMA)
    compiled = compile_config(CONFIG, SCHEMA, OPTS())
    ok, dlq = split_dlq(compiled.apply(df))
    assert ok.count() == 1
    assert dlq.count() == 1
    assert "_error" not in ok.columns


def test_int_truncation_matches_python(spark):
    schema = T.StructType([T.StructField("x", T.DoubleType())])
    cfg = load_configs(
        [{"config_id": "c", "source_gcs_prefix": "gs://b/",
          "mixpanel_event_name": "e",
          "field_mappings": [
              {"source_field": "x", "mixpanel_field": "x", "type": "integer"}
          ]}]
    )[0]
    df = spark.createDataFrame([(12.9,), (-3.7,)], schema)
    compiled = compile_config(cfg, schema, OPTS())
    out = [json.loads(r["event_json"])["properties"]["x"]
           for r in compiled.serialize(df).collect()]
    assert out == [int(12.9), int(-3.7)]  # trunc toward zero, like Python


def test_wildcard_nested_types_serialize_natively(spark):
    """Arrays/maps/structs flow through the wildcard into to_json without
    any special handling (SURVEY §1.2: the reference relied on Arrow
    as_py() + json default=str; Spark serializes them natively)."""
    from pyspark.sql import functions as F

    from gcs_parquet_dataflow_spark.config.model import load_configs
    from gcs_parquet_dataflow_spark.plans.compiler import (
        CompilerOptions,
        compile_config,
        split_dlq,
    )

    df = spark.createDataFrame(
        [(1, "click", [1, 2], {"k": "v"}, (5, "x"))],
        "event_id long, event_type string, arr array<int>, "
        "mp map<string,string>, st struct<a:int,b:string>",
    )
    cfg = load_configs(
        [
            {
                "config_id": "c",
                "source_gcs_prefix": "gs://b/",
                "mixpanel_event_name_from_field": "event_type",
                "field_mappings": [
                    {"source_field": "event_id", "mixpanel_field": "$insert_id",
                     "type": "string"},
                    {"source_field": "*", "mixpanel_field": "*"},
                ],
            }
        ]
    )[0]
    compiled = compile_config(
        cfg, df.schema, CompilerOptions(now_epoch=F.lit(1700000000), uuid=F.lit("u"))
    )
    ok, dlq = split_dlq(compiled.serialize(df))
    assert dlq.count() == 0
    payload = ok.first()["event_json"]
    assert '"arr":[1,2]' in payload
    assert '"mp":{"k":"v"}' in payload
    assert '"st":{"a":5,"b":"x"}' in payload


def test_load_configs_from_file_uri(spark, tmp_path):
    # S6 parity (reference gcs_utils.py:18-45): a scheme:// config URI is
    # fetched driver-side through the JVM Hadoop FileSystem. file:// uses
    # the same code path gs:// takes on a cluster with the GCS connector.
    p = tmp_path / "sources.json"
    p.write_text(json.dumps([
        {"config_id": "remote", "source_gcs_prefix": "gs://b/",
         "field_mappings": []},
    ]))
    configs = load_configs(f"file://{p}", spark=spark)
    assert [c.config_id for c in configs] == ["remote"]


def test_load_configs_with_injected_fetcher():
    # custom-client injection point (no Spark session required)
    seen = []

    def fetcher(uri):
        seen.append(uri)
        return json.dumps([
            {"config_id": "fetched", "source_gcs_prefix": "gs://b/",
             "field_mappings": []},
        ])

    configs = load_configs("gs://bucket/cfg/sources.json", fetcher=fetcher)
    assert seen == ["gs://bucket/cfg/sources.json"]
    assert configs[0].config_id == "fetched"


def test_load_configs_json_text_with_uri_inside_is_not_fetched():
    # inline JSON whose VALUES contain gs:// must not trigger a fetch
    text = json.dumps([{"config_id": "inline",
                        "source_gcs_prefix": "gs://b/p/",
                        "field_mappings": []}])
    configs = load_configs(text)
    assert configs[0].source_gcs_prefix == "gs://b/p/"


def test_compiled_lineage_reports_every_output_column(spark):
    """lineage(): one row per output property + the event row; explicit
    mappings carry their cast type and required flag, wildcard
    passthroughs are marked and expanded to real source columns."""
    from gcs_parquet_dataflow_spark.config.model import load_configs
    from gcs_parquet_dataflow_spark.plans.compiler import (
        CompilerOptions,
        compile_config,
    )

    events = spark.createDataFrame(
        [(1, "u1", "click", 2.0)],
        "ts long, user_id string, event_type string, value double",
    )
    cfg = load_configs(
        [
            {
                "config_id": "c1",
                "source_gcs_prefix": "gs://b/",
                "mixpanel_event_name_from_field": "event_type",
                "field_mappings": [
                    {
                        "source_field": "ts",
                        "mixpanel_field": "time",
                        "type": "unix_timestamp_auto",
                        "is_required_in_source": True,
                    },
                    {
                        "source_field": "user_id",
                        "mixpanel_field": "$user_id",
                        "type": "string",
                    },
                    {"source_field": "*", "mixpanel_field": "*"},
                ],
            }
        ]
    )[0]
    compiled = compile_config(cfg, events.schema, CompilerOptions(token="t"))
    lin = {r["output_field"]: r for r in compiled.lineage(spark).collect()}

    assert lin["event"]["source_field"] == "event_type"
    assert lin["time"]["cast_type"] == "unix_timestamp_auto"
    assert lin["time"]["required"] is True
    assert lin["$user_id"]["source_field"] == "user_id"
    # wildcard expanded to the real remaining columns
    assert lin["value"]["from_wildcard"] is True
    assert lin["value"]["source_field"] == "value"
    # every compiled output property is covered
    assert set(lin) == {"event"} | {n for n, _ in compiled.property_exprs}


def test_insert_id_empty_string_also_defaults_to_uuid(spark):
    """Reference main.py:260-263 uses Python `or`: _to_str('') is falsy,
    so an EMPTY insert id gets a fresh uuid too — NULL-only coalesce
    missed this (round-4 parity fix)."""
    row = ROW_OK[:4] + ("",) + ROW_OK[5:]
    [(doc, _)] = run_rows(spark, [row])
    assert doc["properties"]["$insert_id"] == FIXED_UUID


def test_inf_float_property_goes_to_dlq(spark):
    """Reference serializes with json.dumps(allow_nan=False): an inf in
    the final properties raises → outer except → DLQ
    critical_transformation_error (main.py:279-293). Covers the float
    cast of the string 'inf'…"""
    row = ROW_OK[:6] + ("inf",) + ROW_OK[7:]
    [(_, err)] = run_rows(spark, [row])
    assert err is not None and err["error_type"] == "critical_transformation_error"


def test_nan_cast_result_goes_to_dlq(spark):
    """…and the NaN that float('nan') PRODUCES (input NaNs are cleaned
    to None at main.py:183; cast results are not re-cleaned)."""
    row = ROW_OK[:6] + ("nan",) + ROW_OK[7:]
    [(_, err)] = run_rows(spark, [row])
    assert err is not None and err["error_type"] == "critical_transformation_error"


def test_inf_wildcard_double_goes_to_dlq(spark):
    row = ROW_OK[:8] + (float("inf"),)
    [(_, err)] = run_rows(spark, [row])
    assert err is not None and err["error_type"] == "critical_transformation_error"


def test_nonfinite_check_is_last_in_error_precedence(spark):
    """dumps happens after the required-field return in the reference,
    so missing_required_field wins over the inf elsewhere."""
    row = ROW_OK[:3] + (None,) + ROW_OK[4:8] + (float("inf"),)
    [(_, err)] = run_rows(spark, [row])
    assert err is not None and err["error_type"] == "missing_required_field"


def test_empty_array_event_name_is_falsy(spark):
    """Python `if not event_name` counts an empty list/dict as falsy →
    missing_dynamic_event_name DLQ; a non-empty one passes the gate."""
    schema = T.StructType(
        [
            T.StructField("event_name", T.ArrayType(T.StringType())),
            T.StructField("v", T.LongType()),
        ]
    )
    cfg = load_configs(
        [
            {
                "config_id": "arr",
                "source_gcs_prefix": "gs://b/",
                "mixpanel_event_name_from_field": "event_name",
                "field_mappings": [
                    {"source_field": "v", "mixpanel_field": "v",
                     "type": "integer"},
                ],
            }
        ]
    )[0]
    df = spark.createDataFrame([([], 1), (["x"], 2), (None, 3)], schema)
    compiled = compile_config(cfg, schema, OPTS())
    rows = compiled.apply(df).select(
        F.col("properties.v").alias("v"), "_error"
    ).collect()
    errs = {r["v"]: r["_error"] for r in rows}
    assert errs[1] is not None and errs[1]["error_type"] == "missing_dynamic_event_name"
    assert errs[2] is None
    assert errs[3] is not None and errs[3]["error_type"] == "missing_dynamic_event_name"
    # a NON-empty array event name serializes like the reference's
    # json.dumps of the list itself, not Spark's '[x]' string cast
    events = {
        r["v"]: r["event"]
        for r in compiled.apply(df).select(
            F.col("properties.v").alias("v"), "event"
        ).collect()
    }
    assert events[2] == '["x"]'


def test_integer_mapping_over_inf_double_dlqs(spark):
    """Reference int(float('inf')) raises OverflowError — NOT caught by
    the cast ladder's (ValueError, TypeError) at main.py:232 — so the
    whole row DLQs as critical_transformation_error. A NaN source was
    already cleaned row-wide (main.py:183) → property omitted, no error."""
    schema = T.StructType(
        [
            T.StructField("ev", T.StringType()),
            T.StructField("n", T.DoubleType()),
        ]
    )
    cfg = load_configs(
        [
            {
                "config_id": "intinf",
                "source_gcs_prefix": "gs://b/",
                "mixpanel_event_name_from_field": "ev",
                "field_mappings": [
                    {"source_field": "n", "mixpanel_field": "n",
                     "type": "integer"},
                ],
            }
        ]
    )[0]
    df = spark.createDataFrame(
        [("a", float("inf")), ("b", float("-inf")),
         ("c", float("nan")), ("d", 2.0)],
        schema,
    )
    compiled = compile_config(cfg, schema, OPTS())
    rows = compiled.apply(df).select(
        "event", F.col("properties.n").alias("n"), "_error"
    ).collect()
    by_ev = {r["event"]: r for r in rows}
    for ev in ("a", "b"):
        err = by_ev[ev]["_error"]
        assert err is not None
        assert err["error_type"] == "critical_transformation_error"
        assert err["reason"] == "cannot convert float infinity to integer"
    assert by_ev["c"]["_error"] is None and by_ev["c"]["n"] is None
    assert by_ev["d"]["_error"] is None and by_ev["d"]["n"] == 2


def test_timestamp_mapping_over_inf_double_dlqs(spark):
    """unix_timestamp_auto has the same hole: the numeric branch
    ``return int(cleaned_val)`` (main.py:139) sits OUTSIDE
    _parse_timestamp's try (its except guards only the dateutil
    branch), so int(inf) propagates → critical_transformation_error."""
    schema = T.StructType(
        [
            T.StructField("ev", T.StringType()),
            T.StructField("ts", T.DoubleType()),
        ]
    )
    cfg = load_configs(
        [
            {
                "config_id": "tsinf",
                "source_gcs_prefix": "gs://b/",
                "mixpanel_event_name_from_field": "ev",
                "field_mappings": [
                    {"source_field": "ts", "mixpanel_field": "time",
                     "type": "unix_timestamp_auto"},
                ],
            }
        ]
    )[0]
    df = spark.createDataFrame(
        [("a", float("inf")), ("b", float("nan")), ("c", 1.7e9)], schema
    )
    compiled = compile_config(cfg, schema, OPTS())
    rows = compiled.apply(df).select(
        "event", F.col("properties.time").alias("time"), "_error"
    ).collect()
    by_ev = {r["event"]: r for r in rows}
    assert by_ev["a"]["_error"]["error_type"] == "critical_transformation_error"
    # NaN ts cleaned → None → `time` defaults to injected now()
    assert by_ev["b"]["_error"] is None and by_ev["b"]["time"] == FIXED_NOW
    assert by_ev["c"]["_error"] is None and by_ev["c"]["time"] == 1_700_000_000


def test_integer_inf_fires_before_later_required_check(spark):
    """The OverflowError propagates mid-loop, so it wins over a LATER
    mapping's missing_required_field (and loses to an earlier one)."""
    schema = T.StructType(
        [
            T.StructField("n", T.DoubleType()),
            T.StructField("req", T.StringType()),
        ]
    )
    cfg = load_configs(
        [
            {
                "config_id": "prec",
                "source_gcs_prefix": "gs://b/",
                "mixpanel_event_name": "e",
                "field_mappings": [
                    {"source_field": "n", "mixpanel_field": "n",
                     "type": "integer"},
                    {"source_field": "req", "mixpanel_field": "req",
                     "type": "string", "is_required_in_source": True},
                ],
            }
        ]
    )[0]
    df = spark.createDataFrame([(float("inf"), None)], schema)
    compiled = compile_config(cfg, schema, OPTS())
    [row] = compiled.apply(df).collect()
    assert row["_error"]["error_type"] == "critical_transformation_error"


def test_unresolved_column_still_names_the_column(spark):
    """With PySpark's call-site capture off (``get_spark``), a compiled
    config applied to rows that lack a mapped field still fails analysis
    with an ``AnalysisException`` naming that field."""
    from pyspark.errors import AnalysisException

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    compiled = compile_config(CONFIG, SCHEMA, OPTS())
    missing = T.StructType([f for f in SCHEMA.fields if f.name != "did"])
    df = spark.createDataFrame([ROW_OK[:3] + ROW_OK[4:]], missing)
    with pytest.raises(AnalysisException) as err:
        compiled.serialize(df).collect()
    assert err.value.getCondition() == "UNRESOLVED_COLUMN.WITH_SUGGESTION"
    assert "`did`" in str(err.value)
