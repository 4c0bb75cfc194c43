"""Unit tests for the extension operators (dedup / similarity / text /
multimodal). The DuckDB differential oracle (queries/extensions.py)
checks values end-to-end; these tests pin the algorithmic properties the
oracle can't see: recall guarantees, determinism, stub behavior, and
scalable-plan shape.
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from gcs_parquet_dataflow_spark.functions import text as TX
from gcs_parquet_dataflow_spark.operators import dedup as DD
from gcs_parquet_dataflow_spark.operators import multimodal as MM
from gcs_parquet_dataflow_spark.operators import similarity as SIM


def docs_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_hash32_matches_md5(spark):
    row = spark.range(1).select(TX.hash32(F.lit("hello world")).alias("h")).first()
    expected = int(hashlib.md5(b"hello world").hexdigest()[:8], 16)
    assert row["h"] == expected


def test_exact_dedup_keeps_min_id(spark):
    df = docs_df(spark, [(3, "a"), (1, "a"), (2, "b")])
    out = {r["text"]: r["doc_id"] for r in DD.exact_dedup(df, ["text"], "doc_id").collect()}
    assert out == {"a": 1, "b": 2}


def test_minhash_identical_docs_identical_sigs(spark):
    df = docs_df(
        spark,
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy dog"),
         (3, "a completely different sentence with other words entirely")],
    )
    perms = DD.minhash_perms(16)
    sigs = {
        r["doc_id"]: r["sig"]
        for r in df.select(
            "doc_id",
            DD.minhash_signature(
                DD.word_shingle_hashes(F.col("text")), perms
            ).alias("sig"),
        ).collect()
    }
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[3]
    assert all(0 <= v < DD.MERSENNE_PRIME for v in sigs[1])


def test_minhash_estimates_jaccard(spark):
    """Signature agreement rate ≈ true Jaccard (within sketch error)."""
    base = "w%d " * 30
    a = " ".join(f"w{i}" for i in range(30))
    b = " ".join(f"w{i}" for i in range(3, 33))  # high overlap
    df = docs_df(spark, [(1, a), (2, b)])
    perms = DD.minhash_perms(64)
    sh = DD.word_shingle_hashes(F.col("text"))
    rows = df.select(
        DD.minhash_signature(sh, perms).alias("sig"), F.size(F.array_distinct(sh)).alias("n")
    ).collect()
    agree = sum(x == y for x, y in zip(rows[0]["sig"], rows[1]["sig"])) / 64
    # true jaccard of the 3-gram shingle sets: 25 common / (28+28-25)
    true_j = 25 / 31
    assert abs(agree - true_j) < 0.25


def test_lsh_candidates_contain_near_dups_not_far_pairs(spark):
    near_a = " ".join(f"w{i}" for i in range(40))
    near_b = near_a + " extra"
    far = " ".join(f"z{i}" for i in range(40))
    df = docs_df(spark, [(1, near_a), (2, near_b), (3, far)])
    sigs = df.select(
        "doc_id",
        DD.minhash_signature(
            DD.word_shingle_hashes(F.col("text")), DD.minhash_perms(16)
        ).alias("sig"),
    )
    pairs = {
        (r["id_a"], r["id_b"])
        for r in DD.lsh_candidate_pairs(sigs, "doc_id", "sig").collect()
    }
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_simhash_banding_recall_is_exact_at_radius_3(spark):
    """Pigeonhole guarantee: banded pairs == brute-force pairs for d≤3."""
    texts = [(i, " ".join(f"t{j}" for j in range(i, i + 25))) for i in range(20)]
    texts += [(100 + i, texts[i][1] + " tail") for i in range(5)]
    df = docs_df(spark, texts)
    sims = df.select("doc_id", DD.simhash32(F.col("text")).alias("sh"))
    banded = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in DD.simhash_pairs(sims, "doc_id", "sh", max_hamming=3).collect()
    }
    a, b = sims.alias("a"), sims.alias("b")
    brute = {
        tuple(r)
        for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id"),
            F.col("b.doc_id"),
            DD.hamming32(F.col("a.sh"), F.col("b.sh")).alias("h"),
        )
        .filter(F.col("h") <= 3)
        .collect()
    }
    assert banded == brute


def test_jaccard_pairs_exact_value(spark):
    a = " ".join(f"w{i}" for i in range(10))  # 8 shingles
    b = " ".join(f"w{i}" for i in range(2, 12))  # 8 shingles, 6 common
    df = docs_df(spark, [(1, a), (2, b)])
    sh = df.select("doc_id", DD.word_shingle_hashes(F.col("text")).alias("sh"))
    rows = DD.jaccard_pairs(sh, "doc_id", "sh", threshold=0.0).collect()
    assert len(rows) == 1
    assert rows[0]["jaccard"] == pytest.approx(6 / 10)


def test_cosine_and_topk(spark):
    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [1.0, 1.0]), (3, [-1.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    q = df.filter(F.col("vec_id") == 0)
    out = SIM.brute_force_topk(df, q, k=2).collect()
    assert [(r["neighbor_id"], r["rank"]) for r in out] == [(2, 1), (1, 2)]
    assert out[0]["cos"] == pytest.approx(0.707107)


def test_lsh_topk_subset_of_brute_force(spark):
    import random

    rng = random.Random(5)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(60)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.filter(F.col("vec_id") < 3)
    planes = SIM.hyperplanes(n_planes=4, dim=16)
    approx = SIM.lsh_topk(df, q, k=5, planes=planes).collect()
    exact = SIM.brute_force_topk(df, q, k=60).collect()
    exact_cos = {(r["query_id"], r["neighbor_id"]): r["cos"] for r in exact}
    # every LSH result is a real pair with the exact cosine value
    for r in approx:
        assert exact_cos[(r["query_id"], r["neighbor_id"])] == r["cos"]


def test_pandas_topk_matches_expression_topk(spark):
    """The numpy mapInPandas scale path must reproduce the Column-
    expression brute-force top-k exactly (same ids, ranks, rounded cos)."""
    import random

    rng = random.Random(11)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(32)]) for i in range(80)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.filter(F.col("vec_id") < 4)
    a = sorted(
        tuple(r) for r in SIM.brute_force_topk(df, q, k=7)
        .select("query_id", "neighbor_id", "rank", "cos").collect()
    )
    b = sorted(
        tuple(r) for r in SIM.brute_force_topk_pandas(df, q, k=7)
        .select("query_id", "neighbor_id", "rank", "cos").collect()
    )
    assert a == b


def test_media_table_and_decode_stub(spark):
    df = spark.createDataFrame([(1, b"hello"), (2, b"")], "doc_id long, payload binary")
    media = MM.as_media_table(df, "doc_id", "payload")
    feats = {r["media_id"]: r for r in MM.decode_features(media).collect()}
    assert feats[1]["n_bytes"] == 5
    assert feats[1]["content_md5"] == hashlib.md5(b"hello").hexdigest()
    assert feats[1]["first_byte"] == ord("h")
    assert feats[2]["n_bytes"] == 0 and feats[2]["first_byte"] == 0
    with pytest.raises(NotImplementedError):
        MM.decode_image(b"\x89PNG")
    with pytest.raises(NotImplementedError):
        MM.resize_image(b"\x89PNG", 64, 64)
    # aspect-preserving resize arithmetic: 640x480 → 320 wide = 320x240,
    # bytes scale with pixel count
    assert MM.fake_resize_meta(1000, 640, 480, 320) == (320, 240, 250)


def test_text_builders_propagate_null(spark):
    """NULL text must yield NULL stats, not size(NULL)=-1 artifacts
    (ratio 1.0, lang 'en')."""
    df = spark.createDataFrame([(1, None), (2, "the a of")], "doc_id long, text string")
    c = F.col("text")
    rows = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            TX.token_count(c).alias("tc"),
            TX.distinct_token_ratio(c).alias("dr"),
            TX.quality_score(c).alias("q"),
            TX.lang_id(c).alias("lang"),
        ).collect()
    }
    assert rows[1]["tc"] is None and rows[1]["dr"] is None
    assert rows[1]["q"] is None and rows[1]["lang"] is None
    assert rows[2]["tc"] == 3 and rows[2]["lang"] == "en"


def test_dataframe_sketch_builders_match_column_builders(spark):
    """with_minhash/with_simhash (the codegen'd scale path) must compute
    byte-identical sketches to the Column-expression definitions."""
    df = docs_df(
        spark,
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "pack my box with five dozen liquor jugs today"),
         (3, "sphinx of black quartz judge my vow now then")],
    )
    perms = DD.minhash_perms(16)
    col_sig = {
        r["doc_id"]: r["sig"]
        for r in df.select(
            "doc_id",
            DD.minhash_signature(
                DD.word_shingle_hashes(F.col("text")), perms
            ).alias("sig"),
        ).collect()
    }
    df_sig = {
        r["doc_id"]: r["sig"]
        for r in DD.with_minhash(df, "doc_id", "text", perms).collect()
    }
    assert col_sig == df_sig

    col_sim = {
        r["doc_id"]: r["sh"]
        for r in df.select("doc_id", DD.simhash32(F.col("text")).alias("sh")).collect()
    }
    df_sim = {
        r["doc_id"]: r["simhash"]
        for r in DD.with_simhash(df, "doc_id", "text").collect()
    }
    assert col_sim == df_sim


def test_sample_frames_fanout(spark):
    payload = bytes(range(200))  # 200 bytes → frames 0,1,2,3 of 64/64/64/8
    df = spark.createDataFrame([(1, payload)], "doc_id long, payload binary")
    media = MM.as_media_table(df, "doc_id", "payload")
    frames = {
        r["frame_idx"]: r
        for r in MM.sample_frames(media, frame_bytes=64, every_n=2).collect()
    }
    assert sorted(frames) == [0, 2]  # every 2nd of 4 frames
    assert frames[0]["frame_bytes"] == 64
    assert frames[0]["frame_md5"] == hashlib.md5(payload[0:64]).hexdigest()
    assert frames[2]["frame_md5"] == hashlib.md5(payload[128:192]).hexdigest()


@pytest.mark.fast  # registry guard, part of the driver quick gate (r13)
def test_query_names_are_unique_and_bound_to_their_function(spark):
    """Every CATALOG entry's builder must be the function registered
    under that name (guards against decorator-stacking mistakes)."""
    from gcs_parquet_dataflow_spark.queries import CATALOG

    for name, q in CATALOG.items():
        assert q.build.__name__ == name, (
            f"query {name!r} is bound to function {q.build.__name__!r}"
        )


# the correctness gate checks the FIRST 50 registered queries, in order;
# new queries append after them
CATALOG_FIRST_50 = [
    "q1_pricing_summary", "agg_distinct", "agg_salted_distinct", "agg_cube",
    "agg_rollup", "agg_pivot", "agg_statistics", "agg_grouping_sets",
    "q3_shipping_priority", "q5_local_supplier_volume", "join_left_outer",
    "join_semi", "join_anti", "prefix_route_first_match",
    "prefix_route_first_match_join", "q6_forecast_revenue",
    "q10_returned_items", "q12_shipmode_priority", "q14_promo_revenue",
    "q16_supplier_diversity", "q17_small_quantity_revenue",
    "q18_large_orders", "q19_disjunctive_predicates",
    "q22_global_sales_opportunity", "stream_dedup_5min_windows",
    "sessionize_events", "window_topk_per_group", "window_running_total",
    "window_lag_gap_days", "sort_limit_topn", "set_union_distinct",
    "set_intersect", "set_except", "filter_project_pushdown",
    "scalar_string_funcs", "scalar_string_funcs2", "scalar_regexp_funcs",
    "scalar_date_funcs", "scalar_math_funcs", "null_semantics",
    "conditional_case", "json_extract", "array_map_funcs",
    "timestamp_lenient_parse", "json_typed_struct", "explode_words",
    "event_time_window_agg", "transform_cast_ladders",
    "transform_nan_normalization", "scalar_date_arithmetic",
]
# sha256 of the sorted names joined by newlines
CATALOG_NAMES_SHA256 = (
    "843a4113f933667e4f9c9f7a4522abf0137f83622e3386cdc94d3abb595e5f9d"
)


@pytest.mark.fast
def test_catalog_names_and_first_50_order_are_frozen():
    """Query names and registration order are part of the contract: the
    ordered first 50 are the correctness gate's window, and the full set
    (330 names) is what the oracle sweep covers. A rename, removal,
    addition or reorder fails here; an intended one updates both pins."""
    from gcs_parquet_dataflow_spark.queries import CATALOG

    names = list(CATALOG)
    assert names[:50] == CATALOG_FIRST_50
    assert len(names) == 330
    digest = hashlib.sha256("\n".join(sorted(names)).encode()).hexdigest()
    assert digest == CATALOG_NAMES_SHA256


def test_no_python_udf_in_sketch_plans(spark):
    """Sketches must stay JVM-side: no BatchEvalPython/ArrowEvalPython
    in the physical plan (multimodal decode is the sanctioned exception)."""
    df = docs_df(spark, [(1, "a b c d e")])
    plan_df = df.select(
        DD.simhash32(F.col("text")),
        DD.minhash_signature(
            DD.word_shingle_hashes(F.col("text")), DD.minhash_perms(8)
        ),
        TX.rolling_min_fingerprint(F.col("text")),
        TX.quality_score(F.col("text")),
    )
    plan = plan_df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_connected_components_deep_chain_converges_bounded_plan(spark):
    # A planted 50-link chain is the worst case for min-label propagation
    # (the min label travels one hop per round): proves convergence at
    # high diameter AND that periodic localCheckpoint keeps the logical
    # plan bounded instead of nesting 50 rounds of joins.
    n = 51
    nodes = spark.createDataFrame([(i,) for i in range(n)], "_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    labels = DD.connected_components(nodes, pairs, max_iter=60)
    plan = labels._jdf.queryExecution().optimizedPlan().toString()
    assert len(plan) < 20_000, f"plan blew up: {len(plan)} chars"
    rows = labels.collect()
    assert len(rows) == n
    assert {r["cluster"] for r in rows} == {0}
    from gcs_parquet_dataflow_spark.operators.partitioning import (
        release_intermediates,
    )
    release_intermediates()


def test_ivf_topk_invariants(spark):
    import random as _r

    rng = _r.Random(3)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(40)
    ]
    # plant a near-twin of vector 0: must share vector 0's list and be
    # its rank-1 IVF neighbor
    rows.append((99, [x + 0.01 for x in rows[0][1]]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter(F.col("vec_id") == 0)

    assigned = df.select(
        "vec_id", SIM.ivf_assign(F.col("embedding"), SIM.ivf_centroids()).alias("lst")
    ).collect()
    assert all(r["lst"] is not None and 0 <= r["lst"] < 8 for r in assigned)

    ivf = SIM.ivf_topk(df, q, k=5, nprobe=2)
    got = {r["rank"]: r for r in ivf.collect()}
    assert got[1]["neighbor_id"] == 99 and got[1]["cos"] > 0.99

    # approximation property: per-rank cos never exceeds brute force
    bf = {r["rank"]: r["cos"] for r in SIM.brute_force_topk(df, q, k=5).collect()}
    for rank, row in got.items():
        assert row["cos"] <= bf[rank] + 1e-9


def test_simhash_nulls_beyond_lane_capacity(spark):
    # 2^16 tokens exceeds the packed-lane popcount capacity → NULL, not
    # a silently wrong sketch; a doc under the limit still sketches
    big = " ".join(f"w{i % 9973}" for i in range(2**16))
    df = docs_df(spark, [(1, big), (2, "a small doc")])
    got = {r["doc_id"]: r["simhash"] for r in DD.with_simhash(df, "doc_id", "text").collect()}
    assert got[1] is None and got[2] is not None


def test_keep_best_quality_one_representative_per_cluster(spark):
    """dedup_keep_best_quality keeps exactly one member per cluster and
    it is the max-quality (tie: min doc_id) member."""
    from gcs_parquet_dataflow_spark.queries.catalog import CATALOG

    rows = (
        CATALOG["dedup_keep_best_quality"]
        .build(spark, "/root/testdata/sf0.001")
        .collect()
    )
    by_cluster: dict = {}
    for r in rows:
        by_cluster.setdefault(r["cluster"], []).append(r)
    for members in by_cluster.values():
        kept = [m for m in members if m["keep"]]
        assert len(kept) == 1
        best = sorted(members, key=lambda m: (-m["quality"], m["doc_id"]))[0]
        assert kept[0]["doc_id"] == best["doc_id"]
    # the planted near-dups create multi-member clusters
    assert any(len(m) > 1 for m in by_cluster.values())


def test_containment_catches_truncated_copy_jaccard_misses(spark):
    """A half-length excerpt scores containment ≈ 1 but Jaccard ≈ 0.5 —
    the case the asymmetric measure exists for."""
    words = " ".join(f"tok{i}" for i in range(40))
    half = " ".join(f"tok{i}" for i in range(20))
    df = docs_df(spark, [(1, words), (2, half), (3, "unrelated words only")])
    cont = {(r["id_a"], r["id_b"]): r for r in
            DD.containment_pairs_from_text(df, "doc_id", "text", 0.9).collect()}
    assert (1, 2) in cont
    assert cont[(1, 2)]["contained_id"] == 2        # the excerpt side
    assert cont[(1, 2)]["containment"] == 1.0
    jac = {(r["id_a"], r["id_b"]) for r in
           DD.jaccard_pairs_from_text(df, "doc_id", "text", 0.5).collect()}
    assert (1, 2) not in jac                        # Jaccard misses it


def test_round3_query_plans_stay_jvm_side_no_cartesian(spark):
    """The round-3 analytics queries must compile to plans with no
    Python evaluation and no cartesian/nested-loop joins — the same
    guard the sketch plans carry."""
    from gcs_parquet_dataflow_spark.queries.catalog import CATALOG

    names = [
        "timeseries_gapfill_locf",
        "event_transition_probs",
        "url_canonical_dedup",
        "outlier_mad_orders",
        "regression_trend_by_type",
        "graph_triangle_participation",
        "impute_missing_by_group",
        "time_weighted_avg",
        "counter_delta_resets",
        "embedding_cluster_centroids",
        "dedup_containment_pairs",
        "training_data_pipeline_v3",
        "window_rolling_median",
        "quality_benford_digits",
        "sample_kfold_assignment",
    ]
    sf = "/root/testdata/sf0.001"
    for name in names:
        df = CATALOG[name].build(spark, sf)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name
        # the only sanctioned BroadcastNestedLoopJoin is a 1-row scalar
        # broadcast (Benford total); anything else is a plan bug
        if "BroadcastNestedLoopJoin" in plan:
            assert name == "quality_benford_digits", name


def test_persisted_ivf_index_matches_inline_ivf(spark, tmp_path):
    """build_ivf_index + ivf_query_index reproduce ivf_topk exactly,
    and the probe plan prunes to the probed list partitions."""
    import random

    rng = random.Random(3)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(200)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = spark.createDataFrame(rows[:5], "vec_id long, embedding array<double>")

    path = str(tmp_path / "ivf_index")
    n = SIM.build_ivf_index(corpus, path)
    assert n == 200

    inline = {(r["query_id"], r["rank"]): r["neighbor_id"]
              for r in SIM.ivf_topk(corpus, queries, k=5, nprobe=2).collect()}
    from_index = {(r["query_id"], r["rank"]): r["neighbor_id"]
                  for r in SIM.ivf_query_index(
                      spark, path, queries, k=5, nprobe=2).collect()}
    assert from_index == inline and len(from_index) > 0

    # partition pruning: the scan must filter on _list (partition col)
    df = SIM.ivf_query_index(spark, path, queries, k=5, nprobe=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_duplicated_window_stats_flags_copies_and_partial_overlap(spark):
    """A full copy scores dup_fraction 1.0 on both sides; a doc sharing
    only a k-window-sized prefix is flagged partially; a unique doc
    scores 0; a doc shorter than k tokens drops out."""
    base = " ".join(f"w{i}" for i in range(16))
    prefix = " ".join(f"w{i}" for i in range(8)) + " " + " ".join(
        f"x{i}" for i in range(8)
    )
    df = docs_df(
        spark,
        [
            (1, base),
            (2, base),                       # exact copy
            (3, prefix),                     # shares exactly one 8-window
            (4, "totally different words here only once padded padding"),
            (5, "too short"),                # < k tokens -> no windows
        ],
    )
    out = {r["doc_id"]: r for r in
           DD.duplicated_window_stats(df, "doc_id", "text", k=8).collect()}
    assert set(out) == {1, 2, 3, 4}
    assert out[1]["dup_fraction"] == 1.0 and out[2]["dup_fraction"] == 1.0
    assert out[1]["n_windows"] == 9          # 16 - 8 + 1
    assert out[3]["n_dup_windows"] == 1      # just the shared prefix window
    assert out[4]["n_dup_windows"] == 0 and out[4]["dup_fraction"] == 0.0


def test_round3b_query_plans_stay_jvm_side_no_cartesian(spark):
    """Plan guard for the round-3 continuation queries: no Python
    evaluation, no cartesian products, no nested-loop joins."""
    from gcs_parquet_dataflow_spark.queries.catalog import CATALOG

    names = [
        "quality_lm_bigram_score",
        "dedup_duplicated_window_fraction",
        "sample_dsir_importance",
        "text_readability",
        "anomaly_seasonal_zscore",
        "quality_winsorize_by_type",
        "nearest_error_per_purchase",
        "window_ewma_value",
        "corpus_novelty_by_source",
        "source_vocab_overlap",
        "quantile_histogram_rollup",
        "skew_hot_key_report",
        "user_rfm_segments",
        "experiment_conversion_ztest",
        "graph_pagerank_coactivity",
        "knn_pq_adc",
        "knn_ivfpq",
        "sample_weighted_gumbel",
        "funnel_time_to_convert",
        "quality_chi2_type_independence",
        "vocab_zipf_fit",
        "growth_cumulative_users_by_day",
        "vocab_ctfidf_top_terms",
        "media_phash_near_dup",
        "cohort_ltv_weekly",
        "metric_wow_change",
        "path_top_trigrams",
        "feature_target_encode_loo",
        "dedup_semantic_keep_centroid_closest",
    ]
    sf = "/root/testdata/sf0.001"
    for name in names:
        df = CATALOG[name].build(spark, sf)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_pagerank_quantized_ranks_hub_highest_and_is_layout_independent(spark):
    """On a star-plus-chain graph the hub outranks every leaf, and the
    integer-quantized iteration returns identical longs regardless of
    input partitioning (the determinism the quantization buys)."""
    from gcs_parquet_dataflow_spark.operators.graph import pagerank_quantized

    edges = [(0, i) for i in range(1, 6)] + [(6, 7), (7, 8)]
    df = spark.createDataFrame(edges, "u long, v long")
    r1 = {r["node"]: r["rank_q"] for r in pagerank_quantized(df).collect()}
    hub, leaves = r1[0], [r1[i] for i in range(1, 6)]
    assert all(hub > x for x in leaves)
    assert len(set(leaves)) == 1          # symmetric leaves tie exactly
    r2 = {
        r["node"]: r["rank_q"]
        for r in pagerank_quantized(df.repartition(7, "v")).collect()
    }
    assert r1 == r2


def test_pq_encode_and_adc_find_near_duplicate_first(spark):
    """An exact duplicate shares all 8 PQ codes and ranks first in the
    ADC scan with distance 0-ish; results are layout-independent."""
    import random as _random

    from gcs_parquet_dataflow_spark.operators.similarity import (
        pq_adc_topk,
        pq_codebooks,
        pq_encode,
    )

    rng = _random.Random(3)
    base = [round(rng.uniform(-0.5, 0.5), 4) for _ in range(64)]
    rows = [
        (0, base),
        (1, base),                                           # exact copy
        (2, [round(rng.uniform(-0.5, 0.5), 4) for _ in range(64)]),
        (3, [round(rng.uniform(-0.5, 0.5), 4) for _ in range(64)]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    books = pq_codebooks()
    codes = {
        (r["vec_id"], r["m"]): r["code"]
        for r in pq_encode(df, books).collect()
    }
    assert all(codes[(0, m)] == codes[(1, m)] for m in range(8))
    top = pq_adc_topk(df, df.filter("vec_id = 0"), 3, books=books).collect()
    first = min(top, key=lambda r: r["rank"])
    assert first["neighbor_id"] == 1
    top2 = pq_adc_topk(
        df.repartition(5, "vec_id"), df.filter("vec_id = 0"), 3, books=books
    ).collect()
    assert sorted(map(tuple, top)) == sorted(map(tuple, top2))


def test_train_pq_codebooks_reduces_distortion_deterministically(spark):
    """Lloyd training strictly reduces total quantization distortion vs
    the seeded random codebooks, keeps improving with iterations, and
    is partitioning-independent. (Recall on the synthetic fixture is
    uninformative — 64-dim random vectors concentrate distances — so
    distortion is the meaningful k-means metric here.)"""
    from gcs_parquet_dataflow_spark.operators import similarity as SIM

    corp = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    v = F.col("embedding").cast("array<double>")

    def distortion(books):
        cells = F.array(*[
            F.struct(
                F.lit(m).cast("int").alias("m"),
                F.lit(kk).cast("int").alias("k"),
                SIM._pq_subdist(v, m, c).alias("d"),
            )
            for m, book in enumerate(books)
            for kk, c in enumerate(book)
        ])
        ex = corp.select(F.col("vec_id"), F.explode(cells).alias("c")).select(
            "vec_id", F.col("c.m").alias("m"), F.col("c.d").alias("d")
        )
        return (
            ex.groupBy("vec_id", "m")
            .agg(F.min("d").alias("md"))
            .agg(F.sum("md"))
            .first()[0]
        )

    d_rand = distortion(SIM.pq_codebooks())
    b1 = SIM.train_pq_codebooks(corp, iterations=1)
    b3 = SIM.train_pq_codebooks(corp, iterations=3)
    d1, d3 = distortion(b1), distortion(b3)
    assert d3 < d1 < d_rand
    b3b = SIM.train_pq_codebooks(corp.repartition(13, "vec_id"), iterations=3)
    assert b3 == b3b


def test_lsh_multiprobe_finds_adjacent_bucket_neighbor(spark):
    """Construct a near-identical pair separated only by the query's
    least-confident hyperplane: plain bucketed LSH cannot see it,
    multi-probe (1 extra probe) must."""
    import random as _random

    def dot(a, b):
        return sum(x * y for x, y in zip(a, b))

    planes = SIM.hyperplanes()
    pair = None
    for seed in range(200):
        rng = _random.Random(seed)
        v = [rng.uniform(-0.5, 0.5) for _ in range(64)]
        ds = [dot(v, p) for p in planes]
        i = min(range(len(planes)), key=lambda j: (round(abs(ds[j]), 6), j))
        pn = dot(planes[i], planes[i])
        # reflect across plane i -> flips its sign, perturbs the others
        v2 = [x - 2 * ds[i] / pn * c for x, c in zip(v, planes[i])]
        b = sum(2**j for j, d in enumerate(ds) if d > 0)
        b2 = sum(2**j for j, d in enumerate(dot(v2, p) for p in planes) if d > 0)
        if b2 == b ^ (1 << i):
            pair = (v, v2)
            break
    assert pair is not None, "no constructible boundary pair in 200 seeds"
    v, v2 = pair
    rng = _random.Random(999)
    corpus = [(1, v2)] + [
        (j, [rng.uniform(-0.5, 0.5) for _ in range(64)]) for j in range(2, 30)
    ]
    cdf = spark.createDataFrame(corpus, "vec_id long, embedding array<double>")
    qdf = spark.createDataFrame([(0, v)], "vec_id long, embedding array<double>")
    single = {r["neighbor_id"] for r in
              SIM.lsh_topk(cdf, qdf, k=5, extra_probes=0).collect()}
    multi = {r["neighbor_id"] for r in
             SIM.lsh_topk(cdf, qdf, k=5, extra_probes=1).collect()}
    assert 1 not in single          # adjacent bucket -> invisible
    assert 1 in multi               # weakest-bit probe finds it


def test_round4_query_plans_stay_jvm_side_no_cartesian(spark):
    """Plan guard for the round-4 additions: no Python evaluation, no
    cartesian products, no nested-loop joins."""
    from gcs_parquet_dataflow_spark.queries.catalog import CATALOG

    names = [
        "sketch_fm_distinct_users",
        "sketch_count_min_heavy_hitters",
        "skip_pruned_range_read",
        "affinity_basket_pairs",
        "corr_matrix_lineitem",
        "lake_snapshot_changes",
        "rollup_incremental_merge",
        "privacy_k_anonymity_audit",
        "privacy_l_diversity",
        "bpe_pair_frequencies",
        "sketch_join_size_estimate",
        "drift_ks_by_event_type",
        "inequality_gini_revenue",
        "attribution_last_touch",
        "knn_lsh_recall",
        "privacy_pseudonymize_rollup",
        "forecast_holt_linear",
        "concurrency_peak_by_day",
        "time_in_state_by_type",
        "rolling_corr_revenue_volume",
        "dedup_benchmark_decontaminate",
        "text_html_extract",
        "training_data_pipeline_v4",
        "dedup_remove_duplicated_spans",
        "metric_rolling_wau",
        "sample_apply_language_mixture",
        "corpus_health_scorecard",
        "search_phrase_index",
        "trend_theil_sen_by_type",
    ]
    # single-row × single-row scalar combinations where a 1×1
    # nested-loop join is the correct plan, not a scale risk
    bnlj_ok = {
        "sketch_join_size_estimate",
        # exact-baseline side is the documented broadcast-queries ×
        # corpus linear scan (same shape as knn_brute_force_cosine)
        "knn_lsh_recall",
    }
    sf = "/root/testdata/sf0.001"
    for name in names:
        df = CATALOG[name].build(spark, sf)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name
        if name not in bnlj_ok:
            assert "BroadcastNestedLoopJoin" not in plan, name


def test_ingest_media_dir_builds_typed_table_with_glob_pruning(spark, tmp_path):
    """binaryFile ingestion: raw blob files land in the typed media
    table with stable path-hash ids, exact sizes and checksums, and the
    glob filter prunes non-matching files at listing time (they are
    never read). Re-ingesting yields identical ids (no counters)."""
    import hashlib

    from gcs_parquet_dataflow_spark.operators.multimodal import (
        ingest_media_dir,
    )

    d = tmp_path / "blobs"
    d.mkdir()
    payloads = {}
    for i in range(3):
        b = bytes([i] * (100 + i))
        (d / f"img_{i}.bin").write_bytes(b)
        payloads[f"img_{i}.bin"] = b
    (d / "notes.txt").write_text("not media")

    media = ingest_media_dir(spark, str(d), glob="*.bin")
    rows = media.collect()
    assert len(rows) == 3                      # .txt pruned by the glob
    by_name = {r["source_path"].rsplit("/", 1)[-1]: r for r in rows}
    for name, b in payloads.items():
        r = by_name[name]
        assert bytes(r["payload"]) == b
        assert r["n_bytes"] == len(b)
        assert r["content_md5"] == hashlib.md5(b).hexdigest()
        assert r["media_type"] == "image"

    again = {r["source_path"]: r["media_id"]
             for r in ingest_media_dir(spark, str(d), glob="*.bin").collect()}
    assert again == {r["source_path"]: r["media_id"] for r in rows}

    # composes with the downstream media ops (phash over the payload)
    from gcs_parquet_dataflow_spark.operators.multimodal import phash_stub

    ph = media.select(phash_stub(F.col("payload")).alias("ph")).collect()
    assert all(r["ph"] is not None for r in ph)


def test_ivf_index_append_equals_rebuild(spark, tmp_path):
    """Incremental ANN maintenance: building the persisted IVF index on
    half the corpus and appending the rest (append_to_ivf_index, same
    pinned centroids) must answer queries identically to a full
    rebuild."""
    from gcs_parquet_dataflow_spark.catalog import load_table

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = e.filter(F.col("vec_id") < 3)
    full_path = str(tmp_path / "ivf_full")
    incr_path = str(tmp_path / "ivf_incr")

    SIM.build_ivf_index(e, full_path)
    SIM.build_ivf_index(e.filter(F.col("vec_id") % 2 == 0), incr_path)
    n = SIM.append_to_ivf_index(e.filter(F.col("vec_id") % 2 == 1), incr_path)
    assert n > 0

    a = sorted(map(tuple, SIM.ivf_query_index(spark, full_path, q, k=5).collect()))
    b = sorted(map(tuple, SIM.ivf_query_index(spark, incr_path, q, k=5).collect()))
    assert a == b and len(a) > 0


def test_refine_pairs_difflib_keeps_only_true_near_dups(spark):
    """Two-stage dedup contract: the Python exact-verify stage scores
    candidate pairs deterministically, keeps near-identical ones, and
    drops sketch false positives."""
    from gcs_parquet_dataflow_spark.operators.linkage import (
        refine_pairs_difflib,
    )

    pairs = spark.createDataFrame(
        [
            (1, 2, "the quick brown fox jumps", "the quick brown fox jumped"),
            (3, 4, "completely different text here", "nothing alike at all!!"),
            (5, 6, "same same same", "same same same"),
        ],
        "id_a long, id_b long, text_a string, text_b string",
    )
    out = {(r["id_a"], r["id_b"]): r["ratio"]
           for r in refine_pairs_difflib(pairs, min_ratio=0.85).collect()}
    assert (5, 6) in out and out[(5, 6)] == 1.0
    assert (1, 2) in out and out[(1, 2)] >= 0.9
    assert (3, 4) not in out
    # deterministic across runs
    again = {(r["id_a"], r["id_b"]): r["ratio"]
             for r in refine_pairs_difflib(pairs, min_ratio=0.85).collect()}
    assert out == again


def test_our_lsh_dedup_agrees_with_mllib_minhash_lsh(spark):
    """Independent-implementation cross-check: the hand-built
    MinHash-LSH pipeline and Spark MLlib's MinHashLSH must BOTH
    recover every planted near-duplicate pair on the same corpus —
    two unrelated hash families agreeing on the same recall set."""
    from pyspark.ml.feature import HashingTF, MinHashLSH, NGram, Tokenizer

    from gcs_parquet_dataflow_spark.catalog import load_table

    d = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    planted = d.filter(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra")).alias("text"),
    )
    corpus = d.unionByName(planted)
    expected = {
        (r["doc_id"], r["doc_id"] + 100000)
        for r in d.filter(F.col("doc_id") % 25 == 0).collect()
    }

    # ours: md5 shingle minhash + banded candidates + exact jaccard
    perms = DD.minhash_perms(16, seed=7)
    sigs = DD.with_minhash(corpus, "doc_id", "text", perms)
    cand = DD.lsh_candidate_pairs(sigs, "doc_id", "sig")
    ours = {(r["id_a"], r["id_b"]) for r in cand.collect()}
    assert expected <= ours

    # MLlib: tokenizer → 3-gram → hashingTF → MinHashLSH similarity join
    pipe_df = corpus.filter(F.col("text").isNotNull())
    toks = Tokenizer(inputCol="text", outputCol="words").transform(pipe_df)
    grams = NGram(n=3, inputCol="words", outputCol="shingles").transform(toks)
    grams = grams.filter(F.size("shingles") > 0)
    tf = HashingTF(
        inputCol="shingles", outputCol="features", numFeatures=1 << 18
    ).transform(grams)
    model = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=8, seed=7
    ).fit(tf)
    joined = model.approxSimilarityJoin(tf, tf, 0.6, distCol="jacc_dist")
    mllib = {
        (r["datasetA"]["doc_id"], r["datasetB"]["doc_id"])
        for r in joined.filter(
            F.col("datasetA.doc_id") < F.col("datasetB.doc_id")
        ).collect()
    }
    assert expected <= mllib


def test_pq_codebook_training_distortion_near_mllib_kmeans(spark):
    """Quality cross-check: on the first PQ subspace, the deterministic
    hash-seeded Lloyd trainer must reach within 25% of MLlib KMeans'
    within-cluster cost (MLlib gets k-means|| init and more freedom —
    matching it closely means the determinism isn't costing real
    quality)."""
    import numpy as np
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    from gcs_parquet_dataflow_spark.catalog import load_table

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    sub = e.select(
        "vec_id", F.slice(F.col("embedding"), 1, 8).alias("sv")
    )

    cents = SIM.train_pq_codebooks(
        e, n_sub=8, k=8, dim=64, iterations=3
    )[0]
    data = np.array([r["sv"] for r in sub.collect()], dtype="float64")
    c = np.array(cents, dtype="float64")
    d2 = ((data[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
    ours_cost = d2.min(axis=1).sum()

    km = KMeans(k=8, seed=7, maxIter=20, featuresCol="features").fit(
        sub.select(array_to_vector(F.col("sv").cast("array<double>")).alias("features"))
    )
    mllib_cost = km.summary.trainingCost

    assert ours_cost <= mllib_cost * 1.25, (ours_cost, mllib_cost)


def test_benchmark_contamination_flags_planted_leaks_only(spark):
    """A corpus doc that quotes an 8-gram of the benchmark is flagged
    with the right window counts; unrelated docs are clean; benchmark
    members self-flag at fraction 1.0."""
    bench = docs_df(spark, [(100, "alpha beta gamma delta epsilon zeta eta theta iota kappa")])
    corpus = docs_df(
        spark,
        [
            # quotes benchmark tokens 1-8 → one contaminated window
            (1, "intro words alpha beta gamma delta epsilon zeta eta theta closing remark"),
            (2, "totally unrelated text with enough tokens to form several windows here"),
            (100, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        ],
    )
    out = {
        r["doc_id"]: r
        for r in DD.benchmark_contamination(
            corpus, bench, "doc_id", "text", k=8
        ).collect()
    }
    assert out[100]["contam_fraction"] == 1.0
    assert out[1]["is_contaminated"] and out[1]["n_contam"] == 1
    assert not out[2]["is_contaminated"] and out[2]["n_contam"] == 0


def test_strip_html_handles_blocks_entities_and_nesting(spark):
    """Known-form HTML: script/style/comment content disappears
    entirely, tags collapse to whitespace, entities decode exactly
    once (&amp;lt; → &lt; as TEXT, never twice), whitespace collapses."""
    cases = spark.createDataFrame(
        [
            (1, "<p>plain</p>"),
            (2, "<script>alert('x<y')</script>visible<style>a b</style>"),
            (3, "a &amp; b &lt;tag&gt; &amp;lt;escaped&amp;gt;"),
            (4, "<!-- secret -->shown<br/><div   class='x'>in  div</div>"),
            (5, None),
        ],
        "id long, html string",
    )
    out = {
        r["id"]: r["t"]
        for r in cases.select(
            "id", TX.strip_html(F.col("html")).alias("t")
        ).collect()
    }
    assert out[1] == "plain"
    assert out[2] == "visible"
    assert out[3] == "a & b <tag> &lt;escaped&gt;"
    assert out[4] == "shown in div"
    assert out[5] is None


def test_unicode_text_flows_through_hashing_and_dedup(spark):
    """Non-ASCII corpora (accents, CJK, emoji) flow through hash32,
    tokenization, minhash, and exact dedup without crashes, with
    hash32 still matching md5-over-UTF-8 (the oracle contract) and
    identical unicode docs still deduplicating."""
    s = "héllo wörld 你好 世界 🚀 emoji tail here now"
    row = spark.range(1).select(TX.hash32(F.lit(s)).alias("h")).first()
    assert row["h"] == int(hashlib.md5(s.encode("utf-8")).hexdigest()[:8], 16)

    df = docs_df(
        spark,
        [(1, s), (2, s), (3, "ascii only text that differs completely ok")],
    )
    kept = {r["doc_id"] for r in DD.exact_dedup(df, ["text"], "doc_id").collect()}
    assert kept == {1, 3}

    sigs = DD.with_minhash(df, "doc_id", "text", DD.minhash_perms(8))
    got = {r["doc_id"]: r["sig"] for r in sigs.collect()}
    assert got[1] == got[2] != got[3]

    assert TX is not None  # strip_html on unicode content
    out = (
        spark.createDataFrame([("<p>héllo&nbsp;你好</p>",)], "h string")
        .select(TX.strip_html(F.col("h")).alias("t"))
        .first()["t"]
    )
    assert out == "héllo 你好"


def test_new_operators_tolerate_empty_inputs(spark):
    """Empty tables: sketches, diffs, and contamination checks return
    empty (typed) results instead of failing — the behavior batch
    drivers rely on when a partition turns out vacant."""
    from gcs_parquet_dataflow_spark.operators.incremental import snapshot_diff
    from gcs_parquet_dataflow_spark.operators.sketches import (
        count_min_build,
        salted_min_sketch,
    )

    empty_kv = spark.createDataFrame([], "k long, v long")
    assert salted_min_sketch(empty_kv, ["k"], "v").count() == 0
    assert count_min_build(empty_kv, "v").count() == 0
    assert snapshot_diff(empty_kv, empty_kv, ["k"]).count() == 0

    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    some_docs = docs_df(spark, [(1, "a few words of text right here ok")])
    out = DD.benchmark_contamination(
        some_docs, empty_docs, "doc_id", "text", k=3
    ).collect()
    assert len(out) == 1 and out[0]["n_contam"] == 0


def test_remove_duplicated_windows_cuts_shared_spans_exactly(spark):
    """Hand-built corpus: the shared 10-token prefix disappears from
    BOTH docs that carry it (plus the k−1 tokens its windows cover),
    unique tails survive verbatim, a short doc passes untouched, and a
    full duplicate is emptied."""
    shared = "s1 s2 s3 s4 s5 s6 s7 s8 s9 s10"
    df = docs_df(
        spark,
        [
            (1, shared + " tail_a1 tail_a2 tail_a3"),
            (2, shared + " tail_b1 tail_b2 tail_b3"),
            (3, "totally unique document with its own words here ok"),
            (4, "tiny doc"),                      # < k tokens: untouched
            (5, "full dup full dup full dup full dup"),
            (6, "full dup full dup full dup full dup"),
        ],
    )
    out = {
        r["doc_id"]: r
        for r in DD.remove_duplicated_windows(df, "doc_id", "text", k=8).collect()
    }
    # shared prefix (10 tokens) gone; windows starting at prefix
    # positions also cover nothing of the distinct tails beyond k−1
    # overlap — tails themselves contain no cross-doc window starts,
    # but tokens within k−1 of the last shared start are covered too
    assert out[1]["n_removed"] == out[2]["n_removed"] >= 10
    assert out[1]["cleaned_text"].endswith("tail_a3")
    assert "s1" not in out[1]["cleaned_text"]
    assert out[2]["cleaned_text"].endswith("tail_b3")
    assert out[3]["n_removed"] == 0
    assert out[3]["cleaned_text"].startswith("totally unique")
    assert out[4]["n_removed"] == 0 and out[4]["cleaned_text"] == "tiny doc"
    assert out[5]["cleaned_text"] == "" and out[6]["cleaned_text"] == ""
    assert out[5]["n_removed"] == out[5]["n_tokens"]


def _walk_physical(node, depth=0):
    """Yield (simpleClassName, node) over a physical plan tree,
    descending through the AQE wrapper and query-stage leaves."""
    name = node.getClass().getSimpleName()
    yield name, node
    if name == "AdaptiveSparkPlanExec":
        yield from _walk_physical(node.executedPlan(), depth + 1)
        return
    if name.endswith("QueryStageExec"):
        yield from _walk_physical(node.plan(), depth + 1)
        return
    it = node.children().iterator()
    while it.hasNext():
        yield from _walk_physical(it.next(), depth + 1)


# physical nodes that TRULY bound the row count flowing INTO an
# unpartitioned window: explicit limits and top-k heaps only. Tightened
# round 6 (ADVICE r5): a plain aggregate does NOT bound — a groupBy
# over a high-cardinality key (per-user, per-part, per-term tables) is
# still data-sized, and treating any HashAggregate as bounding let
# exactly the shape skew_hot_key_report had just fixed pass the guard.
_LIMIT_NODES = (
    "TakeOrderedAndProjectExec",
    "GlobalLimitExec",
    "LocalLimitExec",
    "CollectLimitExec",
    "WindowGroupLimitExec",
)
_AGG_NODES = (
    "HashAggregateExec",
    "ObjectHashAggregateExec",
    "SortAggregateExec",
)

# Queries allowed to run an unpartitioned window above an AGGREGATE:
# each aggregate's grouping key is low-cardinality BY CONSTRUCTION
# (value → why it is bounded, reviewed individually). An aggregate
# grouped by `_gpid` (spark_partition_id — the |partitions|-row offset
# table of global_row_number / global_prefix_sum) is accepted
# mechanically without an entry. High-cardinality shapes (|customers|,
# |parts|, |users|, |terms|) were rewritten onto the distributed
# rank/prefix-sum this round and need no entry either.
_AGG_BOUNDED_OK = {
    "embedding_dimension_variance": "groups = embedding dims (≤ vector width)",
    "feature_quantile_bins": "groups = fixed quantile-bin count",
    "mixture_epoch_allocation": "groups = corpus sources (config-sized)",
    "training_data_pipeline_v5": "groups = corpus sources (config-sized)",
    "quality_otsu_threshold": "groups = fixed histogram thresholds",
    "seasonal_decompose_dow": "groups = calendar days / 7 weekdays",
    "growth_cumulative_users_by_day": "groups = calendar days",
    "survival_kaplan_meier": "groups = duration days (calendar-bounded)",
    "privacy_epsilon_ledger": (
        "window input = union of GLOBAL (1-row) per-release aggregates"
        " — ledger is |releases| rows by construction"
    ),
}


def _unbounded_single_partition_windows(df, query_name: str = "") -> list[str]:
    """Every WindowExec with an EMPTY partition spec whose subtree has
    no limit/top-k node — i.e. a single-partition window over
    potentially unbounded rows, the one shape that cannot scale.
    Aggregate-bounded windows pass only via the `_gpid` grouping (the
    |partitions|-row offset shape) or the reviewed _AGG_BOUNDED_OK
    allowlist."""
    plan = df._jdf.queryExecution().executedPlan()
    offenders = []
    for name, node in _walk_physical(plan):
        if name in ("WindowExec", "WindowInPandasExec") and node.partitionSpec().isEmpty():
            subtree = []
            it = node.children().iterator()
            while it.hasNext():
                for n, sub in _walk_physical(it.next()):
                    subtree.append((n, sub))
            names = [n for n, _ in subtree]
            if any(n in _LIMIT_NODES for n in names):
                continue
            aggs = [sub for n, sub in subtree if n in _AGG_NODES]
            if aggs and any("_gpid" in a.toString() for a in aggs):
                continue  # |partitions|-row offset table by construction
            if aggs and query_name in _AGG_BOUNDED_OK:
                continue  # reviewed low-cardinality grouping
            offenders.append(name)
    return offenders


def test_entire_catalog_plans_stay_jvm_side_no_cartesian(spark):
    """Catalog-WIDE plan guard (every declared query, present and
    future — no per-round list to forget): no row-at-a-time Python, no
    scalar pandas UDFs, no cartesian products anywhere; nested-loop
    joins only in the enumerated legitimate shapes (scalar/one-row
    broadcast comparisons, deliberate theta joins, and the
    broadcast-queries × corpus linear-scan baselines). Also mechanizes
    the bounded-window invariant (VERDICT r4 item 3): any
    single-partition Window must sit above a limit/top-k/aggregate
    node — 'bounded by convention' is now asserted per plan."""
    from gcs_parquet_dataflow_spark.queries.catalog import CATALOG

    # every BNLJ here is a one-row/scalar broadcast or a documented
    # deliberate scan shape — reviewed individually; a NEW name showing
    # up means a join lost its equi-key and must be justified or fixed
    bnlj_ok = {
        "prefix_route_first_match_join",   # theta prefix join (by design)
        "q22_global_sales_opportunity",    # scalar avg-balance subquery
        "q11_important_parts",             # scalar threshold subquery
        "knn_brute_force_cosine",          # broadcast queries × corpus scan
        "knn_lsh_recall",                  # exact baseline side of recall
        "sample_mixture_resample",         # scalar totals broadcast
        "sample_token_mixture_plan",       # 1-row achievable-T broadcast
        "sample_token_mixture_resample",   # same scalar-T broadcast as
        #   the doc-count mixture row, token-denominated
        "er_threshold_tradeoff",           # 1-row planted-total broadcast
        #   attached to the 11-row threshold ladder aggregate
        "sample_alpha_mixture_weights",    # scalar z/t broadcast
        "retrieval_bm25_scores",           # scalar corpus stats broadcast
        "retrieval_rrf_fusion",            # same, through bm25
        "text_tfidf_top_terms",            # scalar doc-count broadcast
        "funnel_view_click_purchase",      # scalar stage totals
        "quality_benford_digits",          # scalar row-total broadcast
        "sketch_join_size_estimate",       # 1×1 scalar combination
        "ab_cuped_adjustment",             # scalar theta/mean broadcast
        "survival_kaplan_meier",           # scalar censoring-horizon broadcast
        "contrastive_hard_negatives",      # broadcast anchors × corpus scan
        "knn_label_eval",                  # LOO corpus × corpus exact eval baseline
        "knn_label_eval_ann",              # 1-row class-total broadcast on the
        #   accuracy rollup (candidates themselves are a _list equi-join)
        "source_unigram_kl",               # 1-row corpus-totals broadcast
        "json_schema_drift_audit",         # 1-row event-total broadcast
        "retrieval_mrr_eval",              # broadcast query-shingles × corpus scan
        "mixture_epoch_allocation",        # 1-row corpus-budget broadcast
        "pareto_abc_parts",                # 1-row revenue-total broadcast
        "attribution_linear_touch",        # 1-row credit-total broadcast
        "dedup_lsh_precision_recall",      # 1×1×1 scalar count combination
        "training_data_pipeline_v5",       # 1-row corpus-budget broadcast
        "embedding_dimension_variance",    # 1-row total-variance broadcast
        "release_gate_scoreboard",         # 1×1×1×1 scalar audit combination
        "sketch_set_intersection_users",   # 1×1×1×1 scalar sketch-estimate
        #   combination (each side a global or 2-row-filtered aggregate)
        "text_tfidf_cosine_pairs",         # 1-row corpus-size broadcast
        "text_tfidf_cosine_pairs_budget",  # 1-row corpus-size broadcast
        "quality_threshold_tradeoff",      # 1-row corpus-totals broadcast
        "knn_ivf_nprobe_curve",            # truth set = broadcast 5-query exact baseline
        "knn_dim_truncation_curve",        # truth + each width = the same
        #   broadcast 5-query exact scan (no index build by design)
        "user_feature_matrix",             # 1-row corpus-horizon broadcast
        "dedup_url_vs_content_venn",       # 1-row doc-0-text broadcast
        "lm_generalization_gap",           # 1-row vocab-size broadcast + 1x1 pivot
        "dedup_blocking_effectiveness",    # 1x1x1 scalar count combination
        "metric_rank_movers_wow",          # 1-row week-bounds broadcast
        "unigram_em_piece_counts",         # 1-row vocab-map + totals broadcast
        "classifier_distill_step1",        # 1-row n-docs broadcast
        "langid_train_step1",              # 1-row n-docs broadcast (per class)
        "classifier_calibration_bins",     # same 1-row n-docs broadcast
        #   through the shared step1_weights scorer as distill_step1
        "knn_index_family_crossover",      # truth = broadcast 5-query exact
        #   baseline + per-method 1×1 (n_candidates × n_hits) scalar
        #   combination; every candidate join is an equi-join
    }
    sf = "/root/testdata/sf0.001"
    offenders = {}
    for name, q in CATALOG.items():
        df = q.build(spark, sf)
        plan = df._jdf.queryExecution().executedPlan().toString()
        bad = [
            k
            for k in ("BatchEvalPython", "ArrowEvalPython", "CartesianProduct")
            if k in plan
        ]
        if "BroadcastNestedLoopJoin" in plan and name not in bnlj_ok:
            bad.append("BroadcastNestedLoopJoin")
        bad += [
            f"unbounded single-partition {w}"
            for w in _unbounded_single_partition_windows(df, name)
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, offenders
