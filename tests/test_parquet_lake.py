"""Partitioned-lake sink tests: layout, partition pruning in the read
plan, and idempotent streaming-replay overwrite semantics."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from gcs_parquet_dataflow_spark.sinks.parquet_lake import (
    read_lake,
    write_dlq,
    write_partitioned,
)
import pytest

pytestmark = pytest.mark.fast  # driver quick-gate module (r13)


def test_partitioned_write_and_prune(spark, tmp_path):
    path = str(tmp_path / "lake")
    df = spark.createDataFrame(
        [(i, "a" if i % 2 else "b", i * 1.0) for i in range(100)],
        "id long, bucket string, v double",
    )
    write_partitioned(df, path, ["bucket"])
    assert sorted(
        d for d in os.listdir(path) if d.startswith("bucket=")
    ) == ["bucket=a", "bucket=b"]

    back = read_lake(spark, path).filter(F.col("bucket") == "a")
    assert back.count() == 50
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket" in plan.split("PartitionFilters")[1][:120]


def test_batch_keyed_overwrite_is_idempotent(spark, tmp_path):
    path = str(tmp_path / "dlq")
    df1 = spark.createDataFrame([(1, "x")], "id long, payload string").withColumn(
        "_error",
        F.struct(F.lit("err_a").alias("error_type"), F.lit("r1").alias("reason")),
    )
    write_dlq(df1, path, batch_id=7)
    # replaying the same batch (e.g. after a foreachBatch retry) must not duplicate
    write_dlq(df1, path, batch_id=7)
    out = read_lake(spark, path)
    assert out.count() == 1
    row = out.first()
    assert row["error_type"] == "err_a" and row["_batch_id"] == 7

    # a different batch appends alongside, not over
    df2 = df1.withColumn("id", F.lit(2).cast("long"))
    write_dlq(df2, path, batch_id=8)
    assert read_lake(spark, path).count() == 2


def test_write_sorted_produces_disjoint_file_ranges(spark, tmp_path):
    """write_sorted's layout claim, verified from the parquet footers:
    every output file covers a disjoint range of the sort key, so
    zone-map (min/max) pruning can skip whole files."""
    import glob

    import pyarrow.parquet as pq

    from gcs_parquet_dataflow_spark.sinks.parquet_lake import write_sorted

    df = spark.range(0, 50_000).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("v")
    ).repartition(16)  # scrambled input
    out = str(tmp_path / "sorted")
    write_sorted(df, out, ["k"], n_files=8)

    ranges = []
    for f in glob.glob(f"{out}/*.parquet"):
        md = pq.ParquetFile(f).metadata
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(0)
            assert col.path_in_schema == "k"
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    assert len(ranges) >= 4
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2, f"overlapping file ranges: {ranges}"
    # nothing lost
    back = spark.read.parquet(out)
    assert back.count() == 50_000


def test_data_file_stats_raises_on_missing_path_and_stats_single_file(
    spark, tmp_path
):
    """A missing path is an error, not an empty table; a path that is one
    data file counts that file, on the local branch as on Hadoop's."""
    from gcs_parquet_dataflow_spark.sinks.parquet_lake import data_file_stats

    with pytest.raises(FileNotFoundError, match="absent"):
        data_file_stats(spark, str(tmp_path / "absent"))
    path = str(tmp_path / "t")
    spark.range(10).coalesce(1).write.parquet(path)
    [part] = [f for f in os.listdir(path) if f.endswith(".parquet")]
    size = os.path.getsize(os.path.join(path, part))
    assert data_file_stats(spark, path) == (1, size)
    assert data_file_stats(spark, os.path.join(path, part)) == (1, size)
    assert data_file_stats(spark, f"file:{path}/{part}") == (1, size)


def test_compact_reduces_file_count_preserving_rows(spark, tmp_path):
    from gcs_parquet_dataflow_spark.sinks.parquet_lake import (
        compact,
        data_file_stats,
        read_table,
    )

    path = str(tmp_path / "many_small")
    df = spark.range(10000).withColumn("v", F.col("id") * 2)
    df.repartition(64).write.parquet(path)
    before, total = data_file_stats(spark, path)
    assert before == 64
    # target ~ quarter of the table per file → ~4 output files
    b, a = compact(spark, path, target_file_bytes=max(1, total // 4))
    assert (b, a) == (64, a) and a <= 8
    # reads of a maintained table go through the versioned pointer (r12)
    back = read_table(spark, path)
    assert back.count() == 10000
    assert back.agg(F.sum("v")).first()[0] == sum(2 * i for i in range(10000))


def test_zordered_write_clusters_both_dimensions(spark, tmp_path):
    import pyarrow.parquet as pq

    from gcs_parquet_dataflow_spark.sinks.parquet_lake import write_zordered

    path = str(tmp_path / "zordered")
    n = 1 << 12
    df = spark.range(n).select(
        (F.col("id") % 64).alias("x"), (F.col("id") / 64).cast("long").alias("y")
    )
    write_zordered(df, path, "x", "y", bits=6, n_files=8)
    files = [
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith(".parquet")
    ]
    assert len(files) == 8
    # every file's (x, y) bounding box must cover far less than the full
    # grid — the point of Morton layout; a random or single-key sort
    # layout leaves one dimension spanning its whole domain in each file
    areas = []
    for f in files:
        t_ = pq.read_table(f)
        xs, ys = t_.column("x").to_pylist(), t_.column("y").to_pylist()
        areas.append((max(xs) - min(xs) + 1) * (max(ys) - min(ys) + 1))
    # 8 files over a 64x64 grid: perfect quadrants would be 512 cells;
    # allow generous slack over boundary straddle, but far below 4096
    assert sum(areas) / len(areas) < 2048
    total = spark.read.parquet(path)
    assert total.count() == n


def test_bloom_filter_option_reaches_the_files(spark, tmp_path):
    from gcs_parquet_dataflow_spark.sinks.parquet_lake import write_partitioned

    df = spark.range(20000).select(
        (F.col("id") * 2654435761 % 1000000007).alias("k"), F.col("id").alias("v")
    ).coalesce(1)
    plain, bloomed = str(tmp_path / "plain"), str(tmp_path / "bloomed")
    write_partitioned(df, plain, [], mode="overwrite")
    write_partitioned(df, bloomed, [], mode="overwrite", bloom_filter_cols=["k"])

    def total(p):
        return sum(
            os.path.getsize(os.path.join(p, f))
            for f in os.listdir(p)
            if f.endswith(".parquet")
        )

    # the split-block bloom adds real bytes per row group; identical data
    # otherwise — a size increase is the filter landing in the footer
    assert total(bloomed) > total(plain) + 512
    # and the data is unchanged
    assert spark.read.parquet(bloomed).agg(F.sum("v")).first()[0] == \
        spark.read.parquet(plain).agg(F.sum("v")).first()[0]


def test_zorder_key_is_a_bijection_on_the_bit_domain(spark):
    from gcs_parquet_dataflow_spark.sinks.parquet_lake import zorder_key

    # 6-bit domain: all 4096 (x, y) points must map to 4096 distinct
    # z values covering exactly [0, 4096)
    grid = spark.range(4096).select(
        (F.col("id") % 64).alias("x"), (F.col("id") / 64).cast("long").alias("y")
    )
    z = grid.select(zorder_key(F.col("x"), F.col("y"), 6).alias("z"))
    stats = z.agg(
        F.count_distinct("z").alias("d"), F.min("z").alias("lo"), F.max("z").alias("hi")
    ).first()
    assert (stats["d"], stats["lo"], stats["hi"]) == (4096, 0, 4095)
    # truncation semantics: values beyond the bit budget wrap mod 2^bits
    big = spark.createDataFrame([(64 + 3, 128 + 5)], "x long, y long")
    small = spark.createDataFrame([(3, 5)], "x long, y long")
    zb = big.select(zorder_key(F.col("x"), F.col("y"), 6).alias("z")).first()["z"]
    zs = small.select(zorder_key(F.col("x"), F.col("y"), 6).alias("z")).first()["z"]
    assert zb == zs


def test_upsert_latest_wins_inserts_and_idempotent(spark, tmp_path):
    from gcs_parquet_dataflow_spark.sinks.parquet_lake import read_table, upsert

    path = str(tmp_path / "upsert_tbl")
    base = spark.createDataFrame(
        [(1, "a", 1), (2, "b", 1), (3, "c", 1)],
        "k long, payload string, version long",
    )
    base.write.parquet(path)
    updates = spark.createDataFrame(
        [(2, "b-new", 2),   # overwrite existing key
         (4, "d", 2),       # insert new key
         (3, "c-stale", 0)],  # STALE update must lose to current v1
        "k long, payload string, version long",
    )
    before, after = upsert(spark, path, updates, ["k"], "version")
    assert (before, after) == (3, 4)
    got = {r["k"]: (r["payload"], r["version"])
           for r in read_table(spark, path).collect()}
    assert got == {1: ("a", 1), 2: ("b-new", 2), 3: ("c", 1), 4: ("d", 2)}

    # retrying the SAME batch converges to the same table (idempotent)
    upsert(spark, path, updates, ["k"], "version")
    got2 = {r["k"]: (r["payload"], r["version"])
            for r in read_table(spark, path).collect()}
    assert got2 == got

    # equal-version conflict: the update wins (deterministic tie rule)
    tie = spark.createDataFrame(
        [(1, "a-tie", 1)], "k long, payload string, version long"
    )
    upsert(spark, path, tie, ["k"], "version")
    assert {r["k"]: r["payload"] for r in read_table(spark, path).collect()}[1] == "a-tie"


def test_schema_evolution_merge_read(spark, tmp_path):
    """Lake reads tolerate schema evolution: batches written with
    added/missing columns union under mergeSchema with NULL fill —
    the append-only lake's upgrade path when a source adds fields."""
    path = str(tmp_path / "evolving")
    spark.createDataFrame(
        [(1, "a")], "k long, payload string"
    ).write.parquet(path + "/batch=1")
    spark.createDataFrame(
        [(2, "b", 9.5)], "k long, payload string, score double"
    ).write.parquet(path + "/batch=2")
    got = {
        r["k"]: (r["payload"], r["score"])
        for r in spark.read.option("mergeSchema", "true")
        .parquet(path)
        .collect()
    }
    assert got == {1: ("a", None), 2: ("b", 9.5)}


def test_versioned_snapshots_time_travel_upsert_and_vacuum(spark, tmp_path):
    from gcs_parquet_dataflow_spark.sinks.parquet_lake import (
        latest_version,
        read_version,
        upsert_versioned,
        vacuum_versions,
        write_version,
    )

    root = str(tmp_path / "tbl")
    v0 = write_version(
        spark, root, spark.createDataFrame([(1, "a", 1)], "k long, s string, ver long")
    )
    v1 = write_version(
        spark, root,
        spark.createDataFrame([(1, "a", 1), (2, "b", 1)], "k long, s string, ver long"),
    )
    assert (v0, v1) == (0, 1) and latest_version(spark, root) == 1
    # MERGE commits a NEW snapshot; history intact
    v2 = upsert_versioned(
        spark, root,
        spark.createDataFrame([(1, "A", 2), (3, "c", 1)], "k long, s string, ver long"),
        ["k"], "ver",
    )
    assert v2 == 2
    latest = {r["k"]: r["s"] for r in read_version(spark, root).collect()}
    assert latest == {1: "A", 2: "b", 3: "c"}
    # time travel: v0 still exactly the first write
    assert [r["k"] for r in read_version(spark, root, 0).collect()] == [1]
    # vacuum: drop everything but the last 1; old reads now fail
    assert vacuum_versions(spark, root, keep_last=1) == [0, 1]
    assert latest_version(spark, root) == 2
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        read_version(spark, root, 0)
    assert {r["k"] for r in read_version(spark, root).collect()} == {1, 2, 3}


def test_export_ndjson_and_csv_round_trip(spark, tmp_path):
    """Exports are readable back with the DLQ readers (the ingest
    twins); CSV refuses nested columns instead of corrupting them."""
    import gzip as _gzip
    import json
    import pathlib

    import pytest as _pytest
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from gcs_parquet_dataflow_spark.sinks.export import write_csv, write_ndjson
    from gcs_parquet_dataflow_spark.sources.text_formats import (
        read_csv_with_dlq,
        read_jsonl_with_dlq,
    )

    df = spark.createDataFrame(
        [(1, "a", 1.5, None), (2, "b", None, 3.0)],
        "id long, name string, x double, y double",
    )
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("x", T.DoubleType()),
            T.StructField("y", T.DoubleType()),
        ]
    )
    jd = str(tmp_path / "j")
    write_ndjson(df, jd, gzip=True, n_files=1)
    gz = next(pathlib.Path(jd).glob("*.json.gz"))
    lines = [json.loads(ln) for ln in _gzip.open(gz, "rt")]
    assert len(lines) == 2 and "x" not in [
        k for ln in lines if ln["id"] == 2 for k in ln
    ]  # nulls omitted
    ok, dlq = read_jsonl_with_dlq(spark, jd, schema)
    assert ok.count() == 2 and dlq.count() == 0

    cd = str(tmp_path / "c")
    write_csv(df, cd, n_files=1)
    ok_c, dlq_c = read_csv_with_dlq(spark, cd, schema)
    assert {r["id"] for r in ok_c.collect()} == {1, 2} and dlq_c.count() == 0

    nested = df.select("id", F.struct("name").alias("s"))
    with _pytest.raises(ValueError):
        write_csv(nested, str(tmp_path / "bad"))


def test_orc_round_trip_preserves_schema_and_values(spark, tmp_path):
    """The lake layer is format-agnostic where Spark is: ORC (the other
    production columnar format) round-trips the same typed rows with
    predicate pushdown available — a config switch, not new code."""
    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", None)], "id long, s string, x double"
    )
    p = str(tmp_path / "t.orc")
    df.write.orc(p)
    back = spark.read.orc(p)
    assert back.schema == df.schema
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))
    pushed = (
        back.filter(F.col("id") == 2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PushedFilters" in pushed or "pushed" in pushed.lower()


def test_zone_map_pruning_skips_files_and_loses_no_rows(spark, tmp_path):
    """Data-skipping contract (collect_file_stats + read_skipping): on
    a range-clustered table a narrow range read opens strictly fewer
    files than the table holds, and returns exactly the rows a
    full-scan filter returns; an out-of-range probe reads zero files
    but keeps the schema."""
    from gcs_parquet_dataflow_spark.catalog import load_table
    from gcs_parquet_dataflow_spark.sinks import parquet_lake as PL

    o = load_table(spark, "/root/testdata/sf0.001", "orders")
    path = str(tmp_path / "zlake")
    PL.write_sorted(o, path, ["o_custkey"], n_files=12)
    stats = PL.collect_file_stats(spark, path, ["o_custkey"])
    n_files_total = stats.count()
    assert n_files_total >= 10

    hit = (
        stats.filter((F.col("max_o_custkey") >= 10) & (F.col("min_o_custkey") <= 40))
        .count()
    )
    assert hit < n_files_total  # the prune actually skips files

    got = PL.read_skipping(spark, path, stats, "o_custkey", 10, 40)
    want = (
        spark.read.parquet(path)
        .filter((F.col("o_custkey") >= 10) & (F.col("o_custkey") <= 40))
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    empty = PL.read_skipping(spark, path, stats, "o_custkey", -50, -10)
    assert empty.count() == 0
    assert empty.columns == want.columns


def test_snapshot_diff_over_committed_versions(spark, tmp_path):
    """Time-travel CDC: diff two committed lake versions
    (write_version + read_version + incremental.snapshot_diff) —
    updates, inserts, and deletes each surface exactly once with old
    and new values side by side; identical snapshots diff to zero
    rows."""
    from gcs_parquet_dataflow_spark.operators.incremental import snapshot_diff
    from gcs_parquet_dataflow_spark.sinks import parquet_lake as PL

    root = str(tmp_path / "vlake")
    v0 = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "id long, s string, v long"
    )
    PL.write_version(spark, root, v0)          # version 0
    v1 = spark.createDataFrame(
        [(1, "a", 10), (2, "B", 25), (4, "d", 40)], "id long, s string, v long"
    )
    PL.write_version(spark, root, v1)          # version 1

    old = PL.read_version(spark, root, 0)
    new = PL.read_version(spark, root, 1)
    changes = {
        r["id"]: r for r in snapshot_diff(old, new, ["id"]).collect()
    }
    assert set(changes) == {2, 3, 4}
    assert changes[2]["change_type"] == "update"
    assert (changes[2]["old_s"], changes[2]["new_s"]) == ("b", "B")
    assert changes[3]["change_type"] == "delete"
    assert changes[3]["new_v"] is None
    assert changes[4]["change_type"] == "insert"
    assert changes[4]["old_v"] is None

    assert snapshot_diff(new, new, ["id"]).count() == 0


def test_delete_keys_forgets_rows_in_new_version_only(spark, tmp_path):
    """GDPR-delete on the versioned lake: the new snapshot contains no
    trace of the deleted keys, the prior snapshot still does (until
    vacuum), and vacuuming old versions completes the erasure."""
    from gcs_parquet_dataflow_spark.sinks import parquet_lake as PL

    root = str(tmp_path / "gdpr")
    data = spark.createDataFrame(
        [(u, f"pay{u}-{i}") for u in (1, 2, 3) for i in range(4)],
        "user_id long, payload string",
    )
    PL.write_version(spark, root, data)
    gone = spark.createDataFrame([(2,)], "user_id long")
    v = PL.delete_keys(spark, root, gone, "user_id")

    new = PL.read_version(spark, root, v)
    assert new.filter(F.col("user_id") == 2).count() == 0
    assert new.count() == 8
    old = PL.read_version(spark, root, v - 1)
    assert old.filter(F.col("user_id") == 2).count() == 4

    PL.vacuum_versions(spark, root, keep_last=1)
    import pytest as _pytest

    with _pytest.raises(Exception):
        PL.read_version(spark, root, v - 1)
    assert PL.read_version(spark, root).count() == 8


def test_rank_zorder_clusters_narrow_domain_columns(spark, tmp_path):
    """The measured failure rank-Z-order fixes: orders' custkey is a
    narrow-domain int, so raw-Morton files don't prune custkey ranges —
    rank-bucketed Morton must cluster BOTH dimensions (a narrow custkey
    range hits a strict subset of files, and so does a totalprice
    range), with no rows lost."""
    from gcs_parquet_dataflow_spark.catalog import load_table
    from gcs_parquet_dataflow_spark.sinks import parquet_lake as PL

    o = load_table(spark, "/root/testdata/sf0.001", "orders").withColumn(
        "_tc", F.round(F.col("o_totalprice") * 100).cast("long")
    )
    path = str(tmp_path / "rz")
    PL.write_zordered_ranked(o, path, "o_custkey", "_tc", bits=8, n_files=16)

    stats = PL.collect_file_stats(spark, path, ["o_custkey", "_tc"])
    n_files = stats.count()
    assert n_files >= 12

    hit_x = stats.filter(
        (F.col("max_o_custkey") >= 10) & (F.col("min_o_custkey") <= 40)
    ).count()
    lo, hi = 500_000, 1_500_000  # a cents range on the other dimension
    hit_y = stats.filter(
        (F.col("max__tc") >= lo) & (F.col("min__tc") <= hi)
    ).count()
    assert hit_x < n_files, (hit_x, n_files)
    assert hit_y < n_files, (hit_y, n_files)

    got = PL.read_skipping(spark, path, stats, "o_custkey", 10, 40)
    want = spark.read.parquet(path).filter(
        (F.col("o_custkey") >= 10) & (F.col("o_custkey") <= 40)
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_optimize_table_compacts_sorts_blooms_and_manifests(spark, tmp_path):
    """The one-call OPTIMIZE: many small unsorted files become few
    range-clustered ones with blooms and a persisted manifest; rows
    survive exactly; the manifest prunes a range read that still
    returns exactly the filtered rows."""
    from gcs_parquet_dataflow_spark.sinks import parquet_lake as PL

    path = str(tmp_path / "messy")
    df = spark.range(20000).select(
        (F.col("id") * 7919 % 20011).alias("k"), F.col("id").alias("v")
    )
    df.repartition(32).write.parquet(path)

    before, total = PL.data_file_stats(spark, path)
    assert before == 32
    res = PL.optimize_table(
        spark,
        path,
        sort_cols=["k"],
        bloom_cols=["v"],
        target_file_bytes=max(1, total // 6),
    )
    assert res["files_before"] == 32 and res["files_after"] <= 8
    assert res["n_rows"] == 20000
    back = PL.read_table(spark, path)
    assert back.count() == 20000
    assert back.agg(F.sum("v")).first()[0] == sum(range(20000))

    stats = spark.read.parquet(res["manifest_path"])
    got = PL.read_skipping(spark, path, stats, "k", 100, 900)
    want = back.filter((F.col("k") >= 100) & (F.col("k") <= 900))
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    hit = stats.filter((F.col("max_k") >= 100) & (F.col("min_k") <= 900)).count()
    assert hit < res["files_after"]

    # idempotent re-run
    res2 = PL.optimize_table(
        spark, path, sort_cols=["k"], target_file_bytes=max(1, total // 6)
    )
    assert res2["n_rows"] == 20000
    assert PL.read_table(spark, path).count() == 20000


def test_export_dataset_layout_produces_loadable_splits(spark, tmp_path):
    """The training-side handoff: per-split shard directories + a
    manifest written last; every split round-trips with exact rows and
    no split column; the manifest counts match."""
    import glob
    import json

    from gcs_parquet_dataflow_spark.sinks.export import export_dataset_layout

    df = spark.createDataFrame(
        [(i, f"text {i}", "train" if i % 10 else "val") for i in range(1000)],
        "doc_id long, text string, split string",
    )
    out = str(tmp_path / "ds")
    man = export_dataset_layout(spark, df, out, shards_per_split=3)
    assert man["splits"]["train"]["num_rows"] == 900
    assert man["splits"]["val"]["num_rows"] == 100
    assert man["splits"]["train"]["num_shards"] == 3

    train = spark.read.parquet(f"{out}/train")
    assert train.count() == 900 and "split" not in train.columns
    assert len(glob.glob(f"{out}/train/*.parquet")) == 3
    val_ids = {r["doc_id"] for r in spark.read.parquet(f"{out}/val").collect()}
    assert val_ids == {i for i in range(1000) if i % 10 == 0}

    txt = spark.read.text(f"{out}/_manifest").first()["value"]
    assert json.loads(txt)["splits"]["val"]["num_rows"] == 100
