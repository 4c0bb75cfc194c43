"""Declarative curation-recipe compiler: a JSON-able list of named
stages compiled into one composed DataFrame plan — the pipeline-level
twin of the reference's config-compiled row transform
(plans/compiler.py; reference main.py builds its DAG from fetched JSON
configs the same way). A data engineer ships a recipe file; the engine
validates it and emits a single declarative plan Catalyst optimizes
end-to-end (filters merge into the scan, stages don't materialize
between steps).

Every stage maps onto an operator that already has its own oracle/test
coverage; the compiler's own guarantee — compiled(recipe) ≡ the manual
composition of those operators — is pinned by tests/test_recipe.py.

Scale notes are per-stage: scan-stage Column work (quality, lang, pii,
length, annotate, sample, split) fuses into one codegen pass; the dedup
stages cost exactly their operator's documented join shape and nothing
more.
"""

from __future__ import annotations

import json
from typing import Any, Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gcs_parquet_dataflow_spark.functions import text as TX
from gcs_parquet_dataflow_spark.operators import dedup as DD
from gcs_parquet_dataflow_spark.operators.sampling import (
    hash_bucket,
    hash_split,
)


class RecipeError(ValueError):
    pass


def _stage_filter_in(df: DataFrame, ctx: dict, p: dict) -> DataFrame:
    return df.filter(F.col(p["col"]).isin(list(p["keep"])))


def _stage_length_gate(df: DataFrame, ctx: dict, p: dict) -> DataFrame:
    c = F.length(F.col(ctx["text_col"]))
    out = df
    if "min_chars" in p:
        out = out.filter(c >= int(p["min_chars"]))
    if "max_chars" in p:
        out = out.filter(c <= int(p["max_chars"]))
    return out


def _stage_quality_gate(df: DataFrame, ctx: dict, p: dict) -> DataFrame:
    return df.filter(
        TX.quality_score(F.col(ctx["text_col"])) >= float(p["min_score"])
    )


def _stage_encoding_gate(df: DataFrame, ctx: dict, p: dict) -> DataFrame:
    return df.filter(TX.encoding_ok(F.col(ctx["text_col"])))


def _stage_quality_annotate(df: DataFrame, ctx: dict, p: dict) -> DataFrame:
    """Annotate the shared quality heuristic into ``out`` (and gate on
    ``min_score`` if given) — the annotating sibling of quality_gate,
    needed when downstream stages (curriculum, epoch allocation)
    consume the score as a column."""
    out = p.get("out", "quality")
    d = df.withColumn(out, TX.quality_score(F.col(ctx["text_col"])))
    if "min_score" in p:
        d = d.filter(F.col(out) >= float(p["min_score"]))
    return d


def _stage_decontaminate(df: DataFrame, ctx: dict, p: dict) -> DataFrame:
    """Benchmark decontamination (the training_data_pipeline_v4 step):
    drop every document sharing a ``k``-token window with the held-out
    benchmark — given as a parquet path (``benchmark_path``) or as a
    boolean SQL expression selecting benchmark members out of the
    corpus itself (``benchmark_filter``, the eval-split-inside-corpus
    case; members themselves are then dropped too, by construction).
    Cost: the operator's inverted-index membership join, never
    corpus × benchmark."""
    k = int(p.get("k", 8))
    if "benchmark_path" in p:
        bench = df.sparkSession.read.parquet(str(p["benchmark_path"])).select(
            ctx["id_col"], ctx["text_col"]
        )
    elif "benchmark_filter" in p:
        bench = df.filter(F.expr(str(p["benchmark_filter"])))
    else:
        raise RecipeError(
            "decontaminate: need benchmark_path or benchmark_filter"
        )
    contam = DD.benchmark_contamination(
        df, bench, ctx["id_col"], ctx["text_col"], k=k
    )
    dropped = contam.filter(F.col("is_contaminated")).select(ctx["id_col"])
    return df.join(dropped, ctx["id_col"], "left_anti")


def _stage_decontaminate_semantic(
    df: DataFrame, ctx: dict, p: dict
) -> DataFrame:
    """Embedding-space benchmark decontamination (the companion to
    ``decontaminate`` — paraphrased eval leakage shares few shingles
    but keeps a near-identical embedding; a thorough recipe runs
    BOTH).  Needs an embedding column on the recipe frame
    (``vec_col``, default "embedding"); benchmark given exactly like
    the lexical stage (``benchmark_path`` or ``benchmark_filter`` —
    in-corpus members drop themselves at cosine 1 by construction).
    Cost: the capped LSH bucket join
    (operators/similarity.py decontaminate_semantic), never
    corpus × benchmark; ``max_bucket_size`` arms the corpus-side
    guard."""
    from gcs_parquet_dataflow_spark.operators import similarity as SIM

    vec = str(p.get("vec_col", "embedding"))
    planes = SIM.hyperplanes(
        n_planes=int(p.get("n_planes", 8)),
        dim=int(p.get("dim", 64)),
        seed=int(p.get("seed", 13)),
    )
    if "benchmark_path" in p:
        bench = df.sparkSession.read.parquet(
            str(p["benchmark_path"])
        ).select(ctx["id_col"], vec)
    elif "benchmark_filter" in p:
        bench = df.filter(F.expr(str(p["benchmark_filter"]))).select(
            ctx["id_col"], vec
        )
    else:
        raise RecipeError(
            "decontaminate_semantic: need benchmark_path or "
            "benchmark_filter"
        )
    mbs = p.get("max_bucket_size")
    return SIM.decontaminate_semantic(
        df, bench, float(p.get("threshold", 0.98)), planes=planes,
        id_col=ctx["id_col"], vec_col=vec,
        max_bucket_size=int(mbs) if mbs is not None else None,
    )


def _stage_epoch_allocation(df: DataFrame, ctx: dict, p: dict) -> DataFrame:
    """Per-source data-constrained epoch allocation (the
    training_data_pipeline_v5 scheduling step): sources are ranked by
    mean quality; walking that order, each source gets up to
    ``max_extra`` repeat epochs while the cumulative repeat cost fits
    the 1×-corpus token budget — epochs = 1 + clamp((corpus_tokens −
    Σ_prev max_extra·tokens) div tokens, 0, max_extra). Runs on the
    tiny source table (window allowlisted: |sources| groups); the
    result joins back as a broadcast."""
    from pyspark.sql import Window as WS

    src = p.get("source_col", "source")
    tokens_col = p.get("tokens_col", "n_tokens")
    quality_col = p.get("quality_col", "quality")
    max_extra = int(p.get("max_extra", 3))
    out = p.get("out", "epochs")
    q = df.groupBy(src).agg(
        F.sum(tokens_col).cast("long").alias("_tokens"),
        F.round(F.avg(quality_col), 6).alias("_mq"),
    )
    tot = q.agg(F.sum("_tokens").cast("long").alias("_corpus_tokens"))
    w = WS.orderBy(F.col("_mq").desc(), src)
    alloc = (
        q.crossJoin(F.broadcast(tot))
        .withColumn(
            "_cum_before",
            F.coalesce(
                F.sum(max_extra * F.col("_tokens"))
                .over(w.rowsBetween(WS.unboundedPreceding, -1))
                .cast("long"),
                F.lit(0),
            ),
        )
        .select(
            src,
            (
                1
                + F.greatest(
                    F.least(
                        # integer `div`, not float floor(a/b): the float
                        # path loses exactness past 2^53 token mass, and
                        # the documented semantics are integer truncation.
                        # Negative numerators (budget exhausted) differ
                        # between floor and div but both clamp to 0 below.
                        # A zero-token source gets NO extra epochs
                        # explicitly (div by 0 would yield silent NULLs).
                        F.when(F.col("_tokens") <= 0, F.lit(0)).otherwise(
                            F.expr(
                                "(_corpus_tokens - _cum_before) div _tokens"
                            )
                        ).cast("long"),
                        F.lit(max_extra).cast("long"),
                    ),
                    F.lit(0).cast("long"),
                )
            ).alias(out),
        )
    )
    return df.join(F.broadcast(alloc), src)


def _stage_manifest(df: DataFrame, ctx: dict, p: dict) -> DataFrame:
    """Assign training-manifest positions under the curriculum order
    (stage, shuffle_key, id): with ``top_k`` a TakeOrderedAndProject
    heap + rank over the k survivors (the v5 preview contract); without
    it, the exact DISTRIBUTED global position via global_row_number —
    never a single-partition sort over the corpus."""
    order = [
        p.get("stage_col", "stage"),
        p.get("shuffle_col", "shuffle_key"),
        ctx["id_col"],
    ]
    out = p.get("out", "position")
    if "top_k" in p:
        from pyspark.sql import Window as WS

        k = int(p["top_k"])
        topk = df.orderBy(*order).limit(k)
        return topk.withColumn(
            out, F.row_number().over(WS.orderBy(*order)).cast("long")
        )
    from gcs_parquet_dataflow_spark.operators.partitioning import (
        global_row_number,
    )

    return global_row_number(df, order, out=out)


def _stage_curriculum_annotate(df: DataFrame, ctx: dict, p: dict) -> DataFrame:
    """stage 1..3 by quality cutoffs + the deterministic within-stage
    shuffle key (the curriculum_order_manifest discipline); positions
    are assigned downstream per shard + offset, so the stage stays
    scan-only and streamable."""
    hi = float(p.get("hi", 0.75))
    lo = float(p.get("lo", 0.5))
    q = TX.quality_score(F.col(ctx["text_col"]))
    return df.withColumn(
        p.get("out", "stage"),
        F.when(q >= hi, 1).when(q >= lo, 2).otherwise(3),
    ).withColumn(
        p.get("shuffle_out", "shuffle_key"),
        TX.hash32(
            F.concat(
                F.lit(str(p.get("salt", "curriculum-v1")) + ":"),
                F.col(ctx["id_col"]).cast("string"),
            )
        ),
    )


def _stage_lang_annotate(df: DataFrame, ctx: dict, p: dict) -> DataFrame:
    """Stopword-heuristic language-ID by default; with ``weights``
    (``{lang: {bucket: µ-weight}}`` inline, the classifier_score
    convention — a recipe file is a complete reproducible artifact)
    the TRAINED char-n-gram one-vs-rest model scores instead
    (operators/classifier.train_langid_classifier's deploy path).
    Note the trained path joins a per-doc argmax back onto the flow
    (no longer a pure scan-stage map), so a recipe using it is
    batch-only — validate_streamable rejects it."""
    if "weights" in p:
        from gcs_parquet_dataflow_spark.operators.classifier import (
            HASH_DIM,
            langid_predict,
        )

        weights = {
            lang: {int(b): int(w) for b, w in dict(ws).items()}
            for lang, ws in dict(p["weights"]).items()
        }
        return langid_predict(
            df,
            ctx["id_col"],
            ctx["text_col"],
            weights,
            n=int(p.get("n", 3)),
            dim=int(p.get("dim", HASH_DIM)),
            out=p.get("out", "lang_id"),
        )
    return df.withColumn(p.get("out", "lang_id"), TX.lang_id(F.col(ctx["text_col"])))


def _stage_pii_scrub(df: DataFrame, ctx: dict, p: dict) -> DataFrame:
    return df.withColumn(ctx["text_col"], TX.scrub_pii(F.col(ctx["text_col"])))


def _stage_html_extract(df: DataFrame, ctx: dict, p: dict) -> DataFrame:
    return df.withColumn(ctx["text_col"], TX.strip_html(F.col(ctx["text_col"])))


def _stage_gopher_gate(df: DataFrame, ctx: dict, p: dict) -> DataFrame:
    """Keep documents passing the full Gopher rule set (Rae et al.
    §A1.1; functions/text.py gopher_quality_flags) — or a chosen subset
    via ``rules`` (list of ok_* flag names)."""
    g = TX.gopher_quality_flags(F.col(ctx["text_col"]))
    rules = p.get("rules")
    if rules:
        cond = None
        for r in rules:
            c = g.getField(r)
            cond = c if cond is None else (cond & c)
        return df.filter(cond)
    return df.filter(g.getField("pass_gopher"))


def _stage_c4_line_clean(df: DataFrame, ctx: dict, p: dict) -> DataFrame:
    """C4 line cleaning (Raffel et al. §2.2): rewrite text to the kept
    lines (terminal punctuation, ≥5 words, no 'javascript'), then drop
    pages with <3 cleaned sentences, braces, or 'lorem ipsum'."""
    tx = F.col(ctx["text_col"])
    kept = F.filter(
        F.split(tx, "\n"),
        lambda l: (
            l.endswith(".") | l.endswith("!") | l.endswith("?")
            | l.endswith('"')
        )
        & (F.size(F.split(l, " ")) >= 5)
        & ~F.lower(l).contains("javascript"),
    )
    cleaned = F.array_join(kept, "\n")
    n_sent = sum(
        F.length(cleaned) - F.length(F.replace(cleaned, F.lit(m), F.lit("")))
        for m in (".", "!", "?")
    )
    keep = (
        (n_sent >= int(p.get("min_sentences", 3)))
        & ~tx.contains("{")
        & ~F.lower(tx).contains("lorem ipsum")
    )
    return df.filter(keep).withColumn(ctx["text_col"], cleaned)


def _stage_dedup_exact(df: DataFrame, ctx: dict, p: dict) -> DataFrame:
    return DD.exact_dedup(df, [ctx["text_col"]], ctx["id_col"])


def _stage_dedup_minhash(df: DataFrame, ctx: dict, p: dict) -> DataFrame:
    perms = DD.minhash_perms(
        num_perm=int(p.get("num_perm", 16)), seed=int(p.get("seed", 7))
    )
    sigs = DD.with_minhash(
        df, ctx["id_col"], ctx["text_col"], perms, k=int(p.get("k", 3))
    )
    cap = p.get("max_bucket_size")  # hot-bucket guard dial (SCALE.md)
    pairs = DD.lsh_candidate_pairs(
        sigs, ctx["id_col"], "sig",
        max_bucket_size=int(cap) if cap is not None else None,
    )
    losers = pairs.select(F.col("id_b").alias(ctx["id_col"])).distinct()
    return df.join(losers, ctx["id_col"], "left_anti")


def _stage_classifier_score(df: DataFrame, ctx: dict, p: dict) -> DataFrame:
    """Apply a TRAINED quality classifier (operators/classifier.py —
    hashed-n-gram logistic regression, round 6) as a recipe stage:
    annotate σ(w·x) into ``out`` and, with ``min_prob``, gate on it —
    the discriminative upgrade of the heuristic quality_gate. The
    recipe carries the weights inline (JSON object bucket→µ-weight),
    so a recipe file is a complete, reproducible artifact."""
    from gcs_parquet_dataflow_spark.operators.classifier import (
        HASH_DIM,
        classifier_scores,
    )

    weights = {int(b): int(w) for b, w in dict(p["weights"]).items()}
    out = p.get("out", "clf_prob")
    scored = classifier_scores(
        df,
        ctx["id_col"],
        ctx["text_col"],
        weights,
        dim=int(p.get("dim", HASH_DIM)),
        out=out,
    )
    if "min_prob" in p:
        return scored.filter(F.col(out) >= float(p["min_prob"]))
    return scored


def _stage_token_stats(df: DataFrame, ctx: dict, p: dict) -> DataFrame:
    return df.withColumn(
        p.get("out", "n_tokens"), TX.token_count(F.col(ctx["text_col"]))
    )


def _stage_sample(df: DataFrame, ctx: dict, p: dict) -> DataFrame:
    denom = int(p.get("denominator", 10000))
    keep = int(float(p["fraction"]) * denom)
    return df.filter(
        hash_bucket(F.col(ctx["id_col"]).cast("string"), denom) < keep
    )


def _stage_split(df: DataFrame, ctx: dict, p: dict) -> DataFrame:
    return hash_split(
        df,
        F.col(ctx["id_col"]).cast("string"),
        dict(p["fractions"]),
        out=p.get("out", "split"),
    )


def _stage_quota_per_key(df: DataFrame, ctx: dict, p: dict) -> DataFrame:
    # per-domain / per-entity page cap: keep ≤ n rows per p["key"] in
    # content-hash order (partitioning-independent; id tie break).
    # Batch-only: the quota is a per-key GLOBAL rank over the corpus,
    # so it is deliberately absent from STREAMABLE_STAGES.
    from gcs_parquet_dataflow_spark.operators.sampling import quota_per_key

    return quota_per_key(
        df,
        [p.get("key", "source")],
        int(p["n"]),
        [TX.hash32(F.col(ctx["text_col"])), F.col(ctx["id_col"])],
    )


def _stage_dp_release(df: DataFrame, ctx: dict, p: dict) -> DataFrame:
    """TERMINAL release stage: ε-DP per-``key`` counts of privacy units
    (default unit = the id column, cap 1 — each document counted once),
    via operators/privacy.dp_release_counts.  Aggregates the flow into
    the released rollup — put it last; the released statistics artifact
    is the stage's output (e.g. publishable per-source corpus counts).
    Batch-only: the clamp is a per-unit global aggregate."""
    from gcs_parquet_dataflow_spark.operators.privacy import (
        DP_RELEASE_SEED,
        dp_release_counts,
    )

    gcap = p.get("group_cap")
    return dp_release_counts(
        df,
        [p.get("key", "source")],
        p.get("unit", ctx["id_col"]),
        epsilon=float(p["epsilon"]),
        contribution_cap=int(p.get("cap", 1)),
        seed=p.get("seed", DP_RELEASE_SEED),
        group_cap=None if gcap is None else int(gcap),
    )


STAGES: dict[str, Callable[[DataFrame, dict, dict], DataFrame]] = {
    "filter_in": _stage_filter_in,
    "length_gate": _stage_length_gate,
    "quality_gate": _stage_quality_gate,
    "quality_annotate": _stage_quality_annotate,
    "encoding_gate": _stage_encoding_gate,
    "decontaminate": _stage_decontaminate,
    "decontaminate_semantic": _stage_decontaminate_semantic,
    "epoch_allocation": _stage_epoch_allocation,
    "manifest": _stage_manifest,
    "curriculum_annotate": _stage_curriculum_annotate,
    "lang_annotate": _stage_lang_annotate,
    "pii_scrub": _stage_pii_scrub,
    "html_extract": _stage_html_extract,
    "gopher_gate": _stage_gopher_gate,
    "c4_line_clean": _stage_c4_line_clean,
    "dedup_exact": _stage_dedup_exact,
    "dedup_minhash": _stage_dedup_minhash,
    "classifier_score": _stage_classifier_score,
    "token_stats": _stage_token_stats,
    "sample": _stage_sample,
    "split": _stage_split,
    "quota_per_key": _stage_quota_per_key,
    "dp_release": _stage_dp_release,
}


def compile_recipe(
    df: DataFrame,
    recipe: list[dict[str, Any]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Apply the recipe's stages in order → one composed DataFrame.

    Each entry is ``{"op": <name>, ...params}``. Unknown ops and
    missing required params fail at COMPILE time (before any job runs),
    like the config compiler's schema validation."""
    ctx = {"id_col": id_col, "text_col": text_col}
    out = df
    for i, entry in enumerate(recipe):
        if not isinstance(entry, dict) or "op" not in entry:
            raise RecipeError(f"stage {i}: missing 'op'")
        op = entry["op"]
        if op not in STAGES:
            raise RecipeError(
                f"stage {i}: unknown op {op!r}; known: {sorted(STAGES)}"
            )
        params = {k: v for k, v in entry.items() if k != "op"}
        try:
            out = STAGES[op](out, ctx, params)
        except KeyError as e:
            raise RecipeError(f"stage {i} ({op}): missing param {e}") from e
    return out


def load_recipe(text: str) -> list[dict[str, Any]]:
    """Parse a JSON recipe (a list of stage objects) with validation."""
    data = json.loads(text)
    if not isinstance(data, list):
        raise RecipeError("recipe must be a JSON list of stages")
    return data


# stages expressible as pure scan-stage Column work — safe to run
# unchanged inside a streaming micro-batch (no joins, no global state)
STREAMABLE_STAGES = {
    "filter_in",
    "length_gate",
    "quality_gate",
    "encoding_gate",
    "gopher_gate",
    "c4_line_clean",
    "curriculum_annotate",
    "lang_annotate",
    "pii_scrub",
    "html_extract",
    "token_stats",
    "sample",
    "split",
}


def validate_streamable(recipe: list[dict[str, Any]]) -> None:
    """Raise RecipeError if any stage needs cross-row state (dedup
    stages join against the whole corpus — in streaming that's the
    sketch-index path, run_corpus_ingest_stream, not a per-batch map)."""
    bad = [e.get("op") for e in recipe if e.get("op") not in STREAMABLE_STAGES]
    # lang_annotate is only a pure scan-stage map in its heuristic
    # form; the trained-weights variant joins a per-doc argmax back
    # (aggregation state) and must stay batch-only.
    bad += [
        "lang_annotate(weights)"
        for e in recipe
        if e.get("op") == "lang_annotate" and "weights" in e
    ]
    if bad:
        raise RecipeError(
            f"stages not streamable per-batch: {bad}; "
            "route dedup through run_corpus_ingest_stream's index instead"
        )


def run_recipe_stream(
    docs_stream: DataFrame,
    recipe: list[dict[str, Any]],
    out_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    available_now: bool = False,
    trigger_seconds: int = 10,
):
    """Run a STREAMABLE recipe continuously: each micro-batch flows
    through the same compiled stage chain batch mode uses (identical
    semantics — the stages are pure row functions, so batch/stream
    parity is by construction) and appends batch-keyed to the curated
    lake (replay-idempotent). Validation happens before the query
    starts: a recipe with corpus-level stages fails fast, pointing at
    the index-backed streaming dedup entry point instead."""
    from gcs_parquet_dataflow_spark.sinks.parquet_lake import write_partitioned
    from gcs_parquet_dataflow_spark.streaming.pipeline import (
        _start_foreach_batch,
    )

    validate_streamable(recipe)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        out = compile_recipe(batch_df, recipe, id_col=id_col, text_col=text_col)
        write_partitioned(out, out_path, [], batch_id=batch_id,
                          coalesce_files=1)

    return _start_foreach_batch(
        docs_stream, handle, checkpoint_dir, trigger_seconds, available_now
    )
