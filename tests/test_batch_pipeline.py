"""End-to-end batch backfill: files on disk → glob match → route →
read → transform → events + DLQ + unmatched (reference run_batch DAG)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from gcs_parquet_dataflow_spark.config.model import load_configs
from gcs_parquet_dataflow_spark.plans.compiler import CompilerOptions
from gcs_parquet_dataflow_spark.sources.batch import list_files, run_batch

pytestmark = pytest.mark.fast  # driver quick-gate module (r13)


@pytest.fixture(scope="module")
def data_dir(tmp_path_factory):
    return tmp_path_factory.mktemp("lake")


@pytest.fixture(scope="module")
def lake(spark, data_dir):
    """Two routed sources with different schemas + one unrouted file."""
    a = spark.createDataFrame(
        [("click", 1, "2024-01-01 00:00:00"), ("view", 2, "2024-01-02 00:00:00")],
        "event_name string, user_id long, ts string",
    )
    a.coalesce(1).write.mode("overwrite").parquet(str(data_dir / "src_a" / "d1"))
    b = spark.createDataFrame(
        [(3.5, "u9"), (float("nan"), "u10")], "amount double, uid string"
    )
    b.coalesce(1).write.mode("overwrite").parquet(str(data_dir / "src_b" / "d1"))
    c = spark.createDataFrame([(1,)], "x long")
    c.coalesce(1).write.mode("overwrite").parquet(str(data_dir / "other" / "d1"))
    return data_dir


def configs_for(root):
    return load_configs(
        [
            {
                "config_id": "a",
                "source_gcs_prefix": f"file:{root}/src_a/",
                "file_type": "PARQUET",
                "mixpanel_event_name_from_field": "event_name",
                "field_mappings": [
                    {"source_field": "ts", "mixpanel_field": "time",
                     "type": "unix_timestamp_auto"},
                    {"source_field": "user_id", "mixpanel_field": "$user_id",
                     "type": "string"},
                ],
            },
            {
                "config_id": "b",
                "source_gcs_prefix": f"file:{root}/src_b/",
                "file_type": "PARQUET",
                "mixpanel_event_name": "payment",
                "field_mappings": [
                    {"source_field": "amount", "mixpanel_field": "amount",
                     "type": "float", "is_required_in_source": True},
                    {"source_field": "uid", "mixpanel_field": "$user_id",
                     "type": "string"},
                ],
            },
        ]
    )


def test_list_files_glob(spark, lake):
    files = list_files(spark, f"file:{lake}/*/*/*.parquet")
    names = [r["uri"] for r in files.collect()]
    assert len(names) == 3
    assert all(n.endswith(".parquet") for n in names)


def test_run_batch_end_to_end(spark, lake):
    opts = CompilerOptions(
        token="tk", now_epoch=F.lit(1700000000), uuid=F.lit("fixed-uuid")
    )
    ok, dlq, unmatched = run_batch(
        spark, configs_for(lake), f"file:{lake}/*/*/*.parquet", opts
    )
    ok_rows = [json.loads(r["event_json"]) for r in ok.collect()]
    events = sorted(d["event"] for d in ok_rows)
    # src_a: click+view; src_b: one ok payment (NaN row is required-null → DLQ)
    assert events == ["click", "payment", "view"]
    assert dlq.count() == 1
    [drow] = dlq.collect()
    assert drow["_error"]["error_type"] == "missing_required_field"
    # the 'other' dir file routed nowhere
    assert [os.path.basename(r["uri"]).startswith("part")
            for r in unmatched.collect()] == [True]
    payment = next(d for d in ok_rows if d["event"] == "payment")
    assert payment["properties"]["amount"] == 3.5
    assert payment["properties"]["$user_id"] == "u9"


def test_plan_batch_reads_json_config_files(spark, tmp_path):
    """file_type dispatch beyond the reference's parquet-only surface:
    a JSON-typed config's files read through spark.read.json with the
    same route-first / per-config-schema flow."""
    import json as _json

    from gcs_parquet_dataflow_spark.config.model import load_configs
    from gcs_parquet_dataflow_spark.sources.batch import plan_batch

    pdir = tmp_path / "p"
    jdir = tmp_path / "j"
    pdir.mkdir(); jdir.mkdir()
    spark.createDataFrame(
        [("click", 1)], "event_name string, user_id long"
    ).coalesce(1).write.mode("append").parquet(str(pdir))
    (jdir / "a.json").write_text(
        _json.dumps({"event_name": "jtap", "user_id": 9}) + "\n"
    )
    configs = load_configs([
        {"config_id": "pq", "source_gcs_prefix": f"file:{pdir}",
         "file_type": "PARQUET",
         "mixpanel_event_name_from_field": "event_name",
         "field_mappings": [{"source_field": "user_id",
                             "mixpanel_field": "$user_id", "type": "string"}]},
        {"config_id": "js", "source_gcs_prefix": f"file:{jdir}",
         "file_type": "JSON",
         "mixpanel_event_name_from_field": "event_name",
         "field_mappings": [{"source_field": "user_id",
                             "mixpanel_field": "$user_id", "type": "string"}]},
    ])
    batches, unmatched = plan_batch(
        spark, configs, f"file:{tmp_path}/*/*", parquet_only=False
    )
    by_id = {b.config.config_id: b for b in batches}
    assert set(by_id) == {"pq", "js"}
    import json as _json2

    j_events = [
        _json2.loads(r["event_json"])
        for r in by_id["js"].events().filter(F.col("_error").isNull()).collect()
    ]
    assert [e["event"] for e in j_events] == ["jtap"]
    assert j_events[0]["properties"]["$user_id"] == "9"


def test_read_with_lineage_csv_with_schema(spark, tmp_path):
    from gcs_parquet_dataflow_spark.sources.batch import read_with_lineage

    p = tmp_path / "c.csv"
    p.write_text("event_name,user_id\nbuy,7\nclick,8\n")
    df = read_with_lineage(
        spark, f"file:{p}", file_type="CSV",
        schema="event_name string, user_id long",
    )
    rows = sorted((r["event_name"], r["user_id"]) for r in df.collect())
    assert rows == [("buy", 7), ("click", 8)]
    assert all(r["_uri"].endswith("c.csv") for r in df.collect())


def test_read_jsonl_with_dlq_quarantines_malformed_lines(spark, tmp_path):
    from pyspark.sql import types as T

    from gcs_parquet_dataflow_spark.sources.text_formats import (
        read_jsonl_with_dlq,
    )

    p = tmp_path / "in.jsonl"
    p.write_text(
        '{"id": 1, "name": "a", "score": 1.5}\n'
        '{"id": 2, "name": "b"}\n'                       # missing field -> NULL
        '{"id": "x", "name": "c", "score": 2.0}\n'       # uncastable id
        '{"id": 3, "name": "d", "score":\n'              # truncated JSON
    )
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("score", T.DoubleType()),
        ]
    )
    ok, dlq = read_jsonl_with_dlq(spark, str(p), schema)
    rows = {r["id"]: r for r in ok.collect()}
    assert set(rows) == {1, 2}
    assert rows[2]["score"] is None
    bad = [r["raw_record"] for r in dlq.collect()]
    assert len(bad) == 2 and all(b.startswith('{"id":') for b in bad)


def test_read_csv_with_dlq_quarantines_bad_rows(spark, tmp_path):
    from pyspark.sql import types as T

    from gcs_parquet_dataflow_spark.sources.text_formats import (
        read_csv_with_dlq,
    )

    p = tmp_path / "in.csv"
    p.write_text("id,name,score\n1,a,1.5\nnope,b,2.0\n3,c,oops\n4,d,4.0\n")
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("score", T.DoubleType()),
        ]
    )
    ok, dlq = read_csv_with_dlq(spark, str(p), schema)
    assert {r["id"] for r in ok.collect()} == {1, 4}
    assert sorted(r["raw_record"] for r in dlq.collect()) == [
        "3,c,oops",
        "nope,b,2.0",
    ]


def test_backfill_ledger_resumes_and_records_failures(spark, tmp_path):
    """Resumable backfill: a mid-run failure is recorded and re-raised
    after all units are attempted; re-invoking skips completed units
    and re-runs only the failed one; a third run is a no-op."""
    import pytest as _pytest

    from gcs_parquet_dataflow_spark.sources.batch import backfill

    ledger = str(tmp_path / "ledger")
    out = tmp_path / "out"
    out.mkdir()
    calls = []

    def mk(fail_units):
        def process(unit):
            calls.append(unit)
            if unit in fail_units:
                raise RuntimeError(f"boom {unit}")
            (out / f"{unit}.ok").write_text("done")
        return process

    units = ["d1", "d2", "d3", "d4"]
    with _pytest.raises(RuntimeError, match="boom d3"):
        backfill(spark, units, mk({"d3"}), ledger)
    assert calls == units                      # one failure didn't stop d4
    assert (out / "d4.ok").exists()

    calls.clear()
    res = backfill(spark, units, mk(set()), ledger)
    assert calls == ["d3"]                     # only the failed unit reran
    assert res == {"d1": "done", "d2": "done", "d3": "done", "d4": "done"}

    calls.clear()
    res = backfill(spark, units, mk(set()), ledger)
    assert calls == [] and set(res.values()) == {"done"}


def test_backfill_fails_on_unreadable_ledger(spark, tmp_path):
    """A ledger that exists but cannot be read (here a torn part file)
    fails the backfill before any unit runs. Reading it as empty would
    re-run every done unit and restart ``seq``, so a later resume would
    see two statuses at one seq."""
    from gcs_parquet_dataflow_spark.sources.batch import backfill

    ledger = str(tmp_path / "ledger")
    units = ["d1", "d2", "d3"]
    assert backfill(spark, units, lambda unit: None, ledger) == dict.fromkeys(
        units, "done"
    )
    (tmp_path / "ledger" / "part-torn.parquet").write_bytes(b"PAR1torn")

    calls = []
    with pytest.raises(Exception, match="part-torn.parquet"):
        backfill(spark, units, calls.append, ledger)
    assert calls == []


def test_register_views_enables_raw_sql_with_pushdown(spark):
    """SQL entry point: registered views answer plain spark.sql with
    results identical to the DataFrame builder, and filters still reach
    the parquet scan (same Catalyst plans either way)."""
    from gcs_parquet_dataflow_spark.catalog import load_table, register_views
    from gcs_parquet_dataflow_spark.queries.catalog import CATALOG

    names = register_views(spark, "/root/testdata/sf0.001")
    assert "lineitem" in names and len(names) == 10

    sql_rows = spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        FROM lineitem GROUP BY l_returnflag, l_linestatus
        """
    )
    df_rows = (
        load_table(spark, "/root/testdata/sf0.001", "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"))
    )
    assert sorted(map(tuple, sql_rows.collect())) == sorted(
        map(tuple, df_rows.collect())
    )

    pushed = spark.sql(
        "SELECT l_orderkey FROM lineitem WHERE l_shipdate >= TIMESTAMP '1995-01-01'"
    )
    pushed.collect()
    plan = pushed._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "l_shipdate" in plan.split(
        "PushedFilters", 1
    )[1][:300]


def test_resilient_read_skips_corrupt_files_and_quarantine_names_them(
    spark, tmp_path
):
    """One torn upload must not fail the batch: read_resilient returns
    every row of the healthy files, and quarantine_corrupt_files names
    exactly the corrupt member."""
    from gcs_parquet_dataflow_spark.sources.batch import (
        quarantine_corrupt_files,
        read_resilient,
    )

    d = tmp_path / "lake"
    d.mkdir()
    spark.range(0, 50).toDF("id").coalesce(1).write.parquet(str(d / "p1"))
    spark.range(50, 100).toDF("id").coalesce(1).write.parquet(str(d / "p2"))
    # flatten the two part files into one dir + plant a torn file
    import glob
    import shutil

    files = glob.glob(str(d / "p*" / "*.parquet"))
    for i, f in enumerate(files):
        shutil.copy(f, str(d / f"part-{i}.parquet"))
    shutil.rmtree(str(d / "p1"))
    shutil.rmtree(str(d / "p2"))
    (d / "part-torn.parquet").write_bytes(b"PAR1 this is not a real footer")

    got = read_resilient(spark, str(d))
    assert sorted(r["id"] for r in got.collect()) == list(range(100))

    ok, bad = quarantine_corrupt_files(spark, str(d / "*.parquet"))
    assert len(ok) == 2 and len(bad) == 1
    assert bad[0].endswith("part-torn.parquet")


def test_read_with_lineage_orc(spark, tmp_path):
    """ORC joins the file_type dispatch as the second Spark-native
    columnar format: self-describing schema, vectorized scan, per-row
    lineage — a reference user's pipeline swaps formats by config."""
    from gcs_parquet_dataflow_spark.sources.batch import read_with_lineage

    p = str(tmp_path / "orc_data")
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, s string"
    ).write.orc(p)
    df = read_with_lineage(spark, p, file_type="ORC")
    rows = sorted((r["id"], r["s"]) for r in df.collect())
    assert rows == [(1, "a"), (2, "b")]
    assert all(r["_uri"] for r in df.collect())
    # predicate pushes into the ORC scan like parquet
    plan = (
        df.filter(F.col("id") > 1)._jdf.queryExecution()
        .executedPlan().toString()
    )
    assert "PushedFilters" in plan and "id" in plan.split("PushedFilters", 1)[1][:200]


# ---------------------------------------------------------------------------
# Driver-held frames are Arrow LocalRelations, not Python-RDD jobs
# ---------------------------------------------------------------------------


def _jobs_run_by(spark, fn):
    """(fn(), number of Spark jobs fn ran), counted in a job group."""
    sc = spark.sparkContext
    group = f"jobs-{id(fn)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _optimized_plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _landing(root):
    """3 routed sources, one unrouted file and one non-parquet object
    (under a routed prefix; the ``*.parquet`` glob skips it)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    for i, name in enumerate(("web", "app", "pos", "other")):
        (root / name).mkdir()
        pq.write_table(
            pa.table({"id": [i], "event_name": [name]}),
            str(root / name / "part-0.parquet"),
        )
    (root / "web" / "_manifest.txt").write_text("not parquet\n")
    return load_configs([
        {"config_id": name, "source_gcs_prefix": f"file:{root}/{name}/",
         "mixpanel_event_name_from_field": "event_name", "field_mappings": []}
        for name in ("web", "app", "pos")
    ])


def test_plan_batch_and_ledger_record_job_counts(spark, tmp_path):
    """Listing, routing, the unmatched frame and the per-config schema
    reads (one footer each, on the driver) run no Spark job, so
    ``plan_batch`` runs none; one ledger ``record`` runs exactly 1 job
    (its write)."""
    from gcs_parquet_dataflow_spark.sources.batch import backfill, plan_batch

    land = tmp_path / "land"
    land.mkdir()
    configs = _landing(land)
    pattern = f"file:{land}/*/*.parquet"

    (batches, unmatched), jobs = _jobs_run_by(
        spark, lambda: plan_batch(spark, configs, pattern)
    )
    assert sorted(b.config.config_id for b in batches) == ["app", "pos", "web"]
    assert jobs == 0
    assert "LocalRelation" in _optimized_plan(list_files(spark, pattern))
    assert "LocalRelation" in _optimized_plan(unmatched)
    rows, jobs = _jobs_run_by(spark, unmatched.collect)
    assert [r["uri"] for r in rows] == [f"file:{land}/other/part-0.parquet"]
    assert jobs == 0

    # a fresh ledger reads as empty without a job; the one record is 1
    status, jobs = _jobs_run_by(
        spark, lambda: backfill(spark, ["u1"], lambda u: None, str(tmp_path / "l"))
    )
    assert status == {"u1": "done"} and jobs == 1


def test_footer_schema_equals_spark_inference(spark, tmp_path):
    """The schema read from one footer on the driver is the schema
    ``spark.read.parquet`` infers: Spark-written files (row metadata,
    non-null fields), pyarrow ``TIMESTAMP(NANOS)`` (read as long under
    the session's ``nanosAsLong``), decimal, binary and nested
    struct/list/map columns, and, for files that differ, the first
    file in path order."""
    import datetime
    import decimal

    import pyarrow as pa
    import pyarrow.parquet as pq

    from gcs_parquet_dataflow_spark.sources.batch import (
        URI_COL,
        footer_schema_reader,
        plan_batch,
    )

    read = footer_schema_reader(spark)

    def inferred(files):
        return spark.read.parquet(*files).schema

    spark.sql(
        "SELECT 1L AS id, CAST('1.50' AS DECIMAL(10,2)) AS d, "
        "named_struct('a', 1, 'b', array(1, 2)) AS s, map('k', 1.0D) AS m, "
        "CAST('abc' AS BINARY) AS bin, TIMESTAMP'2024-01-02 03:04:05' AS ts"
    ).coalesce(1).write.parquet(str(tmp_path / "spark"))
    spark_files = [
        f"file:{p}" for p in sorted((tmp_path / "spark").glob("part-*.parquet"))
    ]
    meta = pq.read_schema(spark_files[0][len("file:"):]).metadata
    assert b"org.apache.spark.sql.parquet.row.metadata" in meta
    assert read(spark_files) == inferred(spark_files)
    # the row metadata says non-null; inference, like the reader, says nullable
    assert read(spark_files)["id"].nullable

    pq.write_table(pa.table({
        "ts_ns": pa.array([1, None], pa.timestamp("ns")),
        "ts_us": pa.array([datetime.datetime(2024, 1, 2), None],
                          pa.timestamp("us", tz="UTC")),
        "ts_ms": pa.array([1, 2], pa.timestamp("ms")),
        "dec": pa.array([decimal.Decimal("1.23"), None], pa.decimal128(12, 2)),
        "bin": pa.array([b"x", None], pa.binary()),
        "st": pa.array([{"x": 1, "y": [1, 2]}, None]),
        "lst": pa.array([[1.5], []]),
        "mp": pa.array([[("a", 1)], None], pa.map_(pa.string(), pa.int32())),
    }), str(tmp_path / "arrow.parquet"))
    arrow_files = [f"file:{tmp_path}/arrow.parquet"]
    assert read(arrow_files) == inferred(arrow_files)
    assert read(arrow_files)["ts_ns"].dataType.simpleString() == "bigint"

    # files that differ: the first in path order wins, whatever the order
    # they are listed in; ``_``/``.`` names are never read
    (tmp_path / "mixed").mkdir()
    pq.write_table(pa.table({"b_col": [1]}), str(tmp_path / "mixed/b.parquet"))
    pq.write_table(pa.table({"a_col": ["x"]}), str(tmp_path / "mixed/a.parquet"))
    pq.write_table(pa.table({"h": [1.0]}), str(tmp_path / "mixed/_h.parquet"))
    mixed = [f"file:{tmp_path}/mixed/{n}" for n in ("b.parquet", "_h.parquet", "a.parquet")]
    assert read(mixed) == inferred(mixed)
    assert read(mixed).fieldNames() == ["a_col"]

    # plan_batch reads with that schema: the frame's schema is Spark's
    configs = load_configs([{
        "config_id": "mixed", "source_gcs_prefix": f"file:{tmp_path}/mixed/",
        "mixpanel_event_name_from_field": "a_col", "field_mappings": [],
    }])
    (batch,), _ = plan_batch(spark, configs, f"file:{tmp_path}/mixed/*.parquet")
    assert batch.df.drop(URI_COL).schema == inferred(batch.files)
    rows = batch.df.orderBy("a_col").collect()  # b.parquet has no a_col
    assert [r["a_col"] for r in rows] == [None, "x"]


def test_footer_schema_falls_back_to_spark_inference(spark, tmp_path):
    """Where Spark would not read one good footer, the reader returns
    None and Spark's inference raises its own error."""
    from gcs_parquet_dataflow_spark.sources.batch import (
        footer_schema_reader,
        plan_batch,
    )

    read = footer_schema_reader(spark)
    (tmp_path / "empty.parquet").write_bytes(b"")
    (tmp_path / "torn.parquet").write_bytes(b"not a parquet file")
    for name in ("empty.parquet", "torn.parquet", "absent.parquet", "_only.parquet"):
        assert read([f"file:{tmp_path}/{name}"]) is None, name
    assert read([]) is None

    configs = load_configs([{
        "config_id": "torn", "source_gcs_prefix": f"file:{tmp_path}/",
        "mixpanel_event_name_from_field": "e", "field_mappings": [],
    }])
    with pytest.raises(Exception, match="torn.parquet"):
        plan_batch(spark, configs, f"file:{tmp_path}/torn.parquet")


def test_local_frame_round_trips_driver_values(spark, tmp_path):
    """``local_frame`` returns the driver's values unchanged, keeps the
    declared types and does not depend on the Arrow conf."""
    from gcs_parquet_dataflow_spark.session import local_frame
    from gcs_parquet_dataflow_spark.sources.batch import (
        URIS_SCHEMA,
        backfill,
        plan_batch,
    )

    uris = ["gs://b/it's a file.parquet", "gs://b/dir with space/x",
            "gs://b/données/ファイル.parquet"]
    assert [r["uri"] for r in local_frame(spark, [uris], URIS_SCHEMA).collect()] == uris
    key = "spark.sql.execution.arrow.pyspark.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        df = local_frame(spark, [uris], URIS_SCHEMA)
        assert [r["uri"] for r in df.collect()] == uris
        assert "LocalRelation" in _optimized_plan(df)
    finally:
        spark.conf.set(key, before)

    # an empty glob and an empty unmatched list: empty `uri string` frames
    empty = list_files(spark, f"file:{tmp_path}/nothing-here/*")
    assert empty.schema.simpleString() == "struct<uri:string>"
    assert empty.collect() == []
    land = tmp_path / "land"
    land.mkdir()
    configs = _landing(land)
    batches, unmatched = plan_batch(
        spark, configs, f"file:{land}/[!o]*/*.parquet"
    )
    assert len(batches) == 3
    assert unmatched.schema.simpleString() == "struct<uri:string>"
    assert unmatched.collect() == []

    # a ledger part written before (Python-RDD frame) and one written
    # now read as one table with ``seq`` still a long
    ledger = str(tmp_path / "ledger")
    spark.createDataFrame(
        [("d1", "done", 1)], "unit string, status string, seq long"
    ).write.parquet(ledger)
    assert backfill(spark, ["d1", "d2"], lambda u: None, ledger) == {
        "d1": "done", "d2": "done",
    }
    table = spark.read.parquet(ledger)
    assert table.schema.simpleString() == (
        "struct<unit:string,status:string,seq:bigint>"
    )
    assert sorted(tuple(r) for r in table.collect()) == [
        ("d1", "done", 1), ("d2", "done", 2),
    ]


def _create_dataframe_calls(source: str, filename: str) -> list[int]:
    """Lines of every ``createDataFrame`` call in ``source``."""
    import ast

    return [
        node.lineno
        for node in ast.walk(ast.parse(source, filename=filename))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "createDataFrame"
    ]


def test_batch_and_routing_build_no_frame_from_python_lists():
    """Guard: the batch path and the routing module build their
    driver-held frames through ``session.local_frame``, never with
    ``createDataFrame`` of a Python list (a pickled Python RDD)."""
    import pathlib

    import gcs_parquet_dataflow_spark

    root = pathlib.Path(gcs_parquet_dataflow_spark.__file__).parent
    sites = {
        module: _create_dataframe_calls((root / module).read_text(), module)
        for module in ("sources/batch.py", "operators/routing.py")
    }
    assert sites == {"sources/batch.py": [], "operators/routing.py": []}, (
        f"createDataFrame calls: {sites} — build driver-held frames "
        "with session.local_frame"
    )
    # the guard sees a violation (it cannot rot into passing vacuously)
    synthetic = 'def f(spark):\n    return spark.createDataFrame([("a",)], "uri string")\n'
    assert _create_dataframe_calls(synthetic, "synthetic.py") == [2]
