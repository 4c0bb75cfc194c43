"""Mechanized crash-window harness (VERDICT r9 item 3): round 9 found
two non-self-healing multi-file-commit states by HAND adjudication;
this file generalizes the discipline into a parameterized sweep —
every staged-swap commit sequence × every intermediate state, each
asserted to converge to exactly the pre-crash or the post-commit
table, never a third state, under the documented recovery entry
point (recover_staged_swap and/or a re-run of the operation itself).

Versioned-commit sequence (round 12 — every family now commits by a
rename-only version flip; see sinks/parquet_lake.py):

    write staging (+_SUCCESS)  → crash ⇒ ``torn``     (no _SUCCESS yet)
                               → crash ⇒ ``staged``   (table untouched)
    rename staging → <t>__vN   → crash ⇒ ``committed`` (old state retained)
    retention sweep            → crash ⇒ ``flat_gone`` (flat remnant gone)

There is NO state in which the table is absent or partial — the
read_table resolver always lands on a complete committed version (or
the pre-versioning flat dir).  The PRE-r12 delete→rename crash state
(``legacy_deleted``: flat dest absent, complete payload in staging) is
still constructed and must still heal via recover_staged_swap —
lakes that crashed under the old binary recover under the new one.

The crash states are CONSTRUCTED, not fault-injected: rename commits
are copyless, so the staging dir's content is byte-identical to the
post-commit version — running the op to completion on a clone yields
both the post content and the exact staging payload.

Also swept here: reader atomicity DURING live maintenance (a pinned
reader and a mid-flight reader both see exactly one complete table
state), the flat→versioned migration/retention ladder, write_version's
orphan-staging states, the RTBF stream's audit _COMMITTED fence
(ADVICE r9), and read_skipping's stale-manifest degradation — which
under retention must ALSO reject manifest hits that still exist but
point into a superseded version."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from gcs_parquet_dataflow_spark.operators import incremental as INC
from gcs_parquet_dataflow_spark.sinks import parquet_lake as PL
from gcs_parquet_dataflow_spark.streaming.pipeline import (
    compact_batch_shards,
    compact_golden_log,
)


def _content(spark, path):
    df = PL.read_table(spark, path)
    cols = sorted(df.columns)
    return sorted(tuple(r) for r in df.select(*cols).collect())


# --- family registry: (suffix, setup(spark, path), op(spark, path)) ----

def _setup_upsert(spark, path):
    spark.createDataFrame(
        [(1, "a", 1), (2, "b", 1), (3, "c", 1)], "k long, v string, ver long"
    ).repartition(2).write.parquet(path)


def _op_upsert(spark, path):
    upd = spark.createDataFrame(
        [(2, "B", 2), (4, "d", 2)], "k long, v string, ver long"
    )
    PL.upsert(spark, path, upd, ["k"], "ver")


def _setup_table(spark, path):
    spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("g")
    ).repartition(8).write.parquet(path)


def _op_compact(spark, path):
    PL.compact(spark, path, target_file_bytes=1 << 30)


def _op_optimize(spark, path):
    PL.optimize_table(spark, path, sort_cols=["k"])


def _setup_shards(spark, path):
    rows = [(b, f"k{i % 3}", i + b) for b in range(4) for i in range(6)]
    spark.createDataFrame(
        rows, "_batch_id long, key string, n long"
    ).write.partitionBy("_batch_id").parquet(path)


def _op_shards(spark, path):
    compact_batch_shards(spark, path, ["key"], keep_last=1)


def _setup_golden(spark, path):
    rows = [(1, "a", 0), (2, "b", 0), (1, "a2", 1), (3, "c", 2)]
    spark.createDataFrame(
        rows, "entity_id long, name string, _batch_id long"
    ).write.partitionBy("_batch_id").parquet(path)


def _op_golden(spark, path):
    compact_golden_log(spark, path)


def _setup_cosine_index(spark, path):
    from gcs_parquet_dataflow_spark.operators import similarity as SIM

    planes = SIM.hyperplanes(n_planes=4, dim=8, seed=13)
    import random

    rng = random.Random(61)
    for b in range(4):
        rows = [
            (100 * b + i, [round(rng.uniform(-1, 1), 6) for _ in range(8)])
            for i in range(5)
        ]
        SIM.build_cosine_bucket_index(
            spark.createDataFrame(rows, "vec_id long, v array<double>"),
            path, planes=planes, id_col="vec_id", vec_col="v", batch_id=b,
        )


def _op_cosine_index(spark, path):
    from gcs_parquet_dataflow_spark.operators.similarity import (
        compact_cosine_index,
    )

    compact_cosine_index(spark, path, keep_last=1)


def _cosine_content(spark, path):
    """Probe-visible rows of the generational cosine index: shard
    batches ∪ committed fold generations, deduped exactly as the probe
    dedupes its triples (round 12 — the index's state spans two
    tables, so the generic single-table content fn undercounts it)."""
    from gcs_parquet_dataflow_spark.operators import similarity as SIM

    rows = PL.read_table(spark, path).select("corpus_id", "_t", "_bucket")
    folded = SIM._committed_fold_rows(spark, path)
    if folded is not None:
        rows = rows.unionByName(
            folded.select("corpus_id", "_t", "_bucket")
        )
    return sorted({tuple(r) for r in rows.collect()})


def _setup_ivf_retrain(spark, path):
    from gcs_parquet_dataflow_spark.operators import similarity as SIM
    import random

    rng = random.Random(41)
    rows = []
    for i in range(12):
        rows.append(
            (i, [3.0 + rng.uniform(-0.1, 0.1) for _ in range(8)])
        )
        rows.append(
            (100 + i, [-3.0 + rng.uniform(-0.1, 0.1) for _ in range(8)])
        )
    SIM.build_ivf_index(
        spark.createDataFrame(rows, "vec_id long, embedding array<double>"),
        path,
        cents=SIM.ivf_centroids(k=2, dim=8, seed=29),
        persist_centroids=True,
    )


def _op_ivf_retrain(spark, path):
    from gcs_parquet_dataflow_spark.operators.similarity import (
        retrain_ivf_index,
    )

    retrain_ivf_index(spark, path)


def _ivf_content(spark, path):
    """Rows WITH their list assignment, plus the centroid table the
    index routes by — retrain changes both, and the versioned commit
    must flip them as one unit (a new index with old centroids, or
    vice versa, is the silent-recall-loss state)."""
    from gcs_parquet_dataflow_spark.operators import similarity as SIM

    df = PL.read_table(spark, path)
    rows = sorted(
        (r["neighbor_id"], r["_list"], tuple(r["_cv"])) for r in df.collect()
    )
    cents = SIM.load_ivf_centroids(spark, path)
    return (rows, [tuple(c) for c in cents] if cents else None)


def _setup_bloom(spark, path):
    spark.createDataFrame(
        [(0, 5), (1, 9)], "word_idx bigint, word bigint"
    ).write.mode("append").parquet(path)
    spark.createDataFrame(
        [(0, 2), (2, 4)], "word_idx bigint, word bigint"
    ).write.mode("append").parquet(path)
    INC.write_bloom_meta(spark, path, 2**10, 3)


def _op_bloom(spark, path):
    INC.compact_bloom_lake(spark, path)


# family → (staging suffix, setup, op, content fn).  The content fn is
# the reader's view of the table; _cosine_content spans the shard +
# folded pair the r12 generational fold splits the index into.
FAMILIES = {
    "upsert": ("__upsert_staging", _setup_upsert, _op_upsert, _content),
    "compact": ("__compact_staging", _setup_table, _op_compact, _content),
    "optimize": (
        "__optimize_staging", _setup_table, _op_optimize, _content,
    ),
    "shards": (
        "__shards_compact_staging", _setup_shards, _op_shards, _content,
    ),
    "golden_log": (
        "__golden_compact_staging", _setup_golden, _op_golden, _content,
    ),
    "bloom": ("__bloom_compact_staging", _setup_bloom, _op_bloom, _content),
    "cosine_index": (
        "__cosine_index_compact_staging",
        _setup_cosine_index,
        _op_cosine_index,
        _cosine_content,
    ),
    "ivf_retrain": (
        "__ivf_retrain_staging",
        _setup_ivf_retrain,
        _op_ivf_retrain,
        _ivf_content,
    ),
}

# crash states of the r12 versioned commit, plus the pre-r12 legacy
# delete→rename window (old-binary lakes must still heal):
#   torn           staging written, no _SUCCESS yet; table untouched
#   staged         staging complete; flip not yet run; table untouched
#   committed      version flipped; retention not yet run (flat + vN)
#   flat_gone      retention removed the flat remnant (vN only)
#   legacy_deleted flat dest deleted, payload in staging (PRE-r12 crash)
STATES = ["torn", "staged", "committed", "flat_gone", "legacy_deleted"]


@pytest.fixture(scope="module")
def prepared(spark, tmp_path_factory):
    """Per family, the set-up lake, its content and the completed op run
    on a clone of it, built once for the module and shared by every
    crash state and the lease test of that family: ``prepared(family)``
    → (root, pre, post, clone). ``root/lake`` (plus any sibling the
    setup wrote next to it) stays as the setup left it; each test
    copies it with ``_fresh_lake`` and only reads ``clone``."""
    cache = {}

    def get(family):
        if family not in cache:
            _suffix, setup, op, content = FAMILIES[family]
            root = tmp_path_factory.mktemp(f"prepared_{family}")
            base = str(root / "lake")
            setup(spark, base)
            pre = content(spark, base)
            clone = str(root / "clone")
            shutil.copytree(base, clone)
            op(spark, clone)
            cache[family] = (root, pre, content(spark, clone), clone)
        return cache[family]

    return get


def _fresh_lake(root, dest_dir):
    """Copy the setup's lake and its siblings from ``root`` into
    ``dest_dir`` → the lake's path there."""
    for entry in os.listdir(root):
        if entry.startswith("lake"):
            shutil.copytree(os.path.join(root, entry), dest_dir / entry)
    return str(dest_dir / "lake")


@pytest.mark.parametrize("state", STATES)
@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_staged_swap_crash_state_converges(
    spark, tmp_path, prepared, family, state
):
    suffix, _setup, op, content = FAMILIES[family]
    if family == "cosine_index" and state == "legacy_deleted":
        # the pre-r12 cosine staging was the MONOLITHIC relabeled index
        # — not constructible from the generational op's kept-only
        # staging; that shape is swept by
        # test_cosine_legacy_monolithic_staging_still_heals
        pytest.skip("covered by the dedicated legacy cosine test")
    if family == "ivf_retrain" and state == "legacy_deleted":
        # rewrite_table is r12-native: no pre-r12 binary ever staged
        # this suffix, so the legacy delete→rename crash state cannot
        # exist for it (recover_staged_swap intentionally doesn't
        # know the suffix)
        pytest.skip("no legacy window: rewrite_table postdates r12")
    root, pre, post, clone = prepared(family)
    base = _fresh_lake(root, tmp_path)

    # post content + exact staging payload, from the clone run — under
    # the versioned commit the clone's result lives in its resolved
    # version dir, not the (retained, stale) flat clone dir
    payload = PL.resolve_table(spark, clone)
    clone_folded = clone + "__folded"

    # construct the crash state
    if state in ("torn", "staged", "legacy_deleted"):
        staging = base + suffix
        shutil.copytree(payload, staging)
        if state == "torn":
            os.remove(os.path.join(staging, "_SUCCESS"))
        if state == "legacy_deleted":
            shutil.rmtree(base)
    else:
        shutil.copytree(payload, base + "__v00000000")
        if os.path.exists(clone_folded):
            # the generational-fold families commit their folded rows
            # BEFORE the shard flip, so the committed state carries
            # the sibling folded table too
            shutil.copytree(
                PL.resolve_table(spark, clone_folded), base + "__folded"
            )
        if state == "flat_gone":
            shutil.rmtree(base)

    # 0) READER ATOMICITY: in EVERY constructed state the resolver
    # lands on exactly one complete committed table — pre or post,
    # never absent, never partial, never a blend
    if state in ("committed", "flat_gone"):
        assert content(spark, base) == post
    elif state in ("torn", "staged"):
        assert content(spark, base) == pre

    # 1) the passive recovery entry point: ONLY the legacy pre-r12
    # window (absent flat dest + committed staging, no versions)
    # completes the rename; every r12 state is a no-op for it
    recovered = PL.recover_staged_swap(spark, base)
    if state == "legacy_deleted":
        assert recovered
        assert content(spark, base) == post
    else:
        assert not recovered
        expect = post if state in ("committed", "flat_gone") else pre
        assert content(spark, base) == expect

    # 2) re-running the operation converges to post from EVERY state
    # (and consumes/overwrites the staging rather than folding twice —
    # the double-count class ADVICE r9 flagged on compact_batch_shards)
    op(spark, base)
    assert content(spark, base) == post

    # 3) idempotence: a second run stays at post, never a third state
    op(spark, base)
    assert content(spark, base) == post


@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_held_lease_blocks_maintenance_until_broken(
    spark, tmp_path, prepared, family
):
    """Single-writer mutual exclusion (VERDICT r10 item 2): a held
    ``__swap_lease`` — another maintenance job mid-run, or a holder
    that crashed BEFORE its delete→rename (dest intact, so
    recover_staged_swap correctly leaves it) — makes every maintenance
    op raise ConcurrentWriterError holding nothing; break_swap_lease
    is the documented operator unblock, after which the op converges
    to post exactly as the crash sweep requires."""
    suffix, _setup, op, content = FAMILIES[family]
    root, pre, post, _clone = prepared(family)
    base = _fresh_lake(root, tmp_path)

    with open(base + "__swap_lease", "w") as f:
        f.write('{"op": "other", "pid": 1, "acquired_unix_ms": 0}')
    with pytest.raises(PL.ConcurrentWriterError):
        op(spark, base)
    assert content(spark, base) == pre  # nothing touched
    assert not os.path.exists(base + suffix)  # held nothing, staged nothing
    assert not os.path.exists(base + "__folded")  # no fold leaked either

    assert PL.break_swap_lease(spark, base)
    op(spark, base)
    assert content(spark, base) == post


def test_recover_staged_swap_clears_crashed_holders_lease(spark, tmp_path):
    """The deleted-state crash WITH the holder's lease still on disk
    (the realistic crash: every maintenance op now holds the lease
    across its delete→rename): recovery must both complete the rename
    and clear the dead holder's lease, or the healed lake would be
    permanently fenced."""
    base = str(tmp_path / "lake")
    _setup_table(spark, base)
    clone = str(tmp_path / "clone")
    shutil.copytree(base, clone)
    _op_compact(spark, clone)
    post = _content(spark, clone)

    shutil.copytree(
        PL.resolve_table(spark, clone), base + "__compact_staging"
    )
    shutil.rmtree(base)
    with open(base + "__swap_lease", "w") as f:
        f.write('{"op": "compact", "pid": 1, "acquired_unix_ms": 0}')

    assert PL.recover_staged_swap(spark, base)
    assert _content(spark, base) == post
    assert PL.read_swap_lease(spark, base) is None
    _op_compact(spark, base)  # not fenced: the lease was cleared
    assert _content(spark, base) == post


def test_concurrent_append_aborts_swap_commit(spark, tmp_path):
    """Lost-update detection: an appender that bypasses the
    write_partitioned fence (raw df.write.append — e.g. a pre-r11
    writer) and lands between the maintenance read and its commit must
    ABORT the swap: the epoch re-check sees the new data files, raises
    before the delete, and the destination keeps BOTH the original
    rows and the racing append — never clobbered, never resurrected."""
    base = str(tmp_path / "lake")
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "k long, v string"
    ).write.parquet(base)
    staging = base + "__compact_staging"
    with PL.swap_lease(spark, base, "compact") as lease:
        df = spark.read.parquet(base)
        # racing appender (unfenced): lands after the lease snapshot
        spark.createDataFrame([(3, "c")], "k long, v string").write.mode(
            "append"
        ).parquet(base)
        df.coalesce(1).write.mode("overwrite").parquet(staging)
        with pytest.raises(PL.ConcurrentWriterError):
            lease.commit(staging)
    assert _content(spark, base) == [(1, "a"), (2, "b"), (3, "c")]
    assert os.path.exists(staging)  # result preserved for the re-run
    assert PL.read_swap_lease(spark, base) is None  # live exit released
    # the documented recovery: re-run folds the racing write in
    shutil.rmtree(staging)
    PL.compact(spark, base, target_file_bytes=1 << 30)
    assert _content(spark, base) == [(1, "a"), (2, "b"), (3, "c")]


def test_write_partitioned_is_fenced_by_swap_lease(spark, tmp_path):
    """The writer-side half of the single-writer contract: a streaming
    appender (write_partitioned — every foreachBatch side-write goes
    through it) fails LOUDLY while a maintenance lease is held on its
    target, instead of appending into a table about to be deleted and
    swapped; the foreachBatch retry after the maintenance completes
    succeeds."""
    base = str(tmp_path / "lake")
    df = spark.createDataFrame([(1, "a")], "k long, v string")
    PL.write_partitioned(df, base, [], batch_id=0)
    with PL.swap_lease(spark, base, "compact"):
        with pytest.raises(PL.ConcurrentWriterError):
            PL.write_partitioned(df, base, [], batch_id=1)
    PL.write_partitioned(df, base, [], batch_id=1)  # lease released
    assert {
        r["_batch_id"]
        for r in spark.read.parquet(base).select("_batch_id").collect()
    } == {0, 1}


def test_cross_family_maintenance_is_mutually_exclusive(spark, tmp_path):
    """The lease is per-PATH, not per-op: an upsert racing a compact on
    the same table is exactly the 100 TB overlap case — the second
    acquirer raises immediately, whichever family it is."""
    base = str(tmp_path / "lake")
    _setup_upsert(spark, base)
    pre = _content(spark, base)
    with PL.swap_lease(spark, base, "compact"):
        with pytest.raises(PL.ConcurrentWriterError):
            _op_upsert(spark, base)
    assert _content(spark, base) == pre
    _op_upsert(spark, base)  # released: proceeds normally
    assert (2, "B", 2) in _content(spark, base)


def test_bloom_swap_preserves_meta_in_every_state(spark, tmp_path):
    """The bloom fold's meta file travels INSIDE the staging dir (the
    r9 meta-first window, closed): after recovery from the deleted
    state the lake must hold words AND parameters together."""
    base = str(tmp_path / "bloom")
    _setup_bloom(spark, base)
    clone = str(tmp_path / "clone")
    shutil.copytree(base, clone)
    _op_bloom(spark, clone)
    post_meta = INC.read_bloom_meta(spark, clone)
    assert post_meta == {"m_bits": 2**10, "k": 3}

    staging = base + "__bloom_compact_staging"
    shutil.copytree(PL.resolve_table(spark, clone), staging)
    shutil.rmtree(base)
    assert PL.recover_staged_swap(spark, base)
    assert INC.read_bloom_meta(spark, base) == post_meta
    assert _content(spark, base) == _content(spark, clone)


def test_write_version_orphan_staging_states(spark, tmp_path):
    """write_version commits by a single rename into the version dir:
    a crashed writer leaves __snapshot_staging garbage which the next
    writer overwrites, and _list_versions never surfaces a dir without
    _SUCCESS — both torn-copy states are invisible to readers."""
    root = str(tmp_path / "vlake")
    df1 = spark.createDataFrame([(1, "a")], "k long, v string")
    df2 = spark.createDataFrame([(2, "b")], "k long, v string")
    assert PL.write_version(spark, root, df1) == 0

    # state A: orphan staging from a crashed writer (complete payload,
    # rename never ran) — readers see only v0; next commit becomes v1
    df2.write.mode("overwrite").parquet(root + "/__snapshot_staging")
    assert PL.latest_version(spark, root) == 0
    assert PL.write_version(spark, root, df2) == 1
    assert _content(spark, root + "/v00000001") == [(2, "b")]

    # state B: torn version dir (no _SUCCESS) — never listed, reads
    # fall back to the last committed snapshot, next commit skips past
    torn = root + "/v00000002"
    shutil.copytree(root + "/v00000001", torn)
    os.remove(os.path.join(torn, "_SUCCESS"))
    assert PL.latest_version(spark, root) == 1
    assert _content(
        spark,
        root + "/v%08d" % PL.latest_version(spark, root),
    ) == [(2, "b")]


def test_upsert_stream_owner_reacquires_own_crashed_lease(spark, tmp_path):
    """The streaming self-heal: run_upsert_stream's per-batch upsert
    passes its checkpoint identity as lease owner, so a crash
    mid-upsert (own lease left behind, dest intact — the state
    recover_staged_swap correctly leaves alone) does NOT deadlock the
    restarted stream on itself; a DIFFERENT writer's lease still
    blocks it loudly."""
    base = str(tmp_path / "lake")
    _setup_upsert(spark, base)
    own = '{"op": "upsert", "pid": 1, "owner": "upsert_stream:ck0", ' \
          '"acquired_unix_ms": 0}'
    with open(base + "__swap_lease", "w") as f:
        f.write(own)
    upd = spark.createDataFrame(
        [(2, "B", 2), (4, "d", 2)], "k long, v string, ver long"
    )
    # a foreign maintenance job is still fenced
    with pytest.raises(PL.ConcurrentWriterError):
        PL.upsert(spark, base, upd, ["k"], "ver")
    with pytest.raises(PL.ConcurrentWriterError):
        PL.upsert(
            spark, base, upd, ["k"], "ver", lease_owner="upsert_stream:OTHER"
        )
    # the stream's own restart takes its crashed lease over
    rows_before, rows_after = PL.upsert(
        spark, base, upd, ["k"], "ver", lease_owner="upsert_stream:ck0"
    )
    assert (rows_before, rows_after) == (3, 4)
    assert PL.read_swap_lease(spark, base) is None  # released on exit
    assert (2, "B", 2) in _content(spark, base)


def test_write_version_concurrent_writers_each_commit_whole_snapshots(
    spark, tmp_path
):
    """Round 11: snapshot commits are safe under CONCURRENT writers —
    unique per-writer staging (no shared-staging clobber) + an
    optimistic version-id retry loop (a lost rename race re-derives
    the next free id; the local-FS rename-into-existing-dir hazard is
    detected and recovered).  Four threads commit simultaneously:
    every writer must succeed, ids must be distinct and contiguous,
    and every committed version must be exactly ONE writer's complete
    table — never a blend, never a torn dir."""
    import threading

    root = str(tmp_path / "vlake")
    PL.write_version(
        spark, root, spark.createDataFrame([(0, -1)], "k long, w long")
    )
    results: dict[int, int] = {}
    errors: list[Exception] = []

    def commit(w: int) -> None:
        try:
            df = spark.createDataFrame(
                [(i, w) for i in range(20)], "k long, w long"
            )
            results[w] = PL.write_version(spark, root, df)
        except Exception as exc:  # noqa: BLE001 — recorded for assert
            errors.append(exc)

    threads = [threading.Thread(target=commit, args=(w,)) for w in range(4)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(120)
    assert not errors, errors
    assert sorted(results.values()) == [1, 2, 3, 4]
    for w, v in results.items():
        rows = _content(spark, root + "/v%08d" % v)
        assert rows == [(i, w) for i in range(20)]  # one writer, whole
    assert PL.latest_version(spark, root) == 4


def test_write_version_nested_rename_race_recovers(spark, tmp_path):
    """The constructed worst-case interleaving: a writer's rename
    lands AFTER another writer created the same version dir, and the
    local FS moves the staging INSIDE it (rename-into-existing-dir).
    The commit loop must detect the nested dir, pull it back out, and
    commit under the next id — and the nested dir must never have
    been reader-visible (underscore prefix)."""
    root = str(tmp_path / "vlake")
    PL.write_version(
        spark, root, spark.createDataFrame([(0,)], "k long")
    )
    # construct the nested state by hand: a complete staging payload
    # moved inside an existing committed version dir
    winner = root + "/v%08d" % PL.write_version(
        spark, root, spark.createDataFrame([(1,)], "k long")
    )
    staging_name = "__snapshot_staging_9999_0"
    nested = os.path.join(winner, staging_name)
    spark.createDataFrame([(2,)], "k long").write.parquet(nested)
    # readers never see the nested payload (underscore-hidden)
    assert _content(spark, winner) == [(1,)]
    assert PL.latest_version(spark, root) == 1
    # the loser's recovery step: pull it out, commit under the next id
    fs, hroot, jvm = PL._fs_and_path(spark, root)
    out = jvm.org.apache.hadoop.fs.Path(hroot, staging_name)
    assert fs.rename(jvm.org.apache.hadoop.fs.Path(nested), out)
    vpath = jvm.org.apache.hadoop.fs.Path(hroot, "v%08d" % 2)
    assert fs.rename(out, vpath)
    assert PL.latest_version(spark, root) == 2
    assert _content(spark, root + "/v00000002") == [(2,)]


def test_vacuum_clean_staging_sweeps_orphans(spark, tmp_path):
    root = str(tmp_path / "vlake")
    for i in range(3):
        PL.write_version(
            spark, root, spark.createDataFrame([(i,)], "k long")
        )
    orphan = root + "/__snapshot_staging_1234_0"
    spark.createDataFrame([(9,)], "k long").write.parquet(orphan)
    PL.vacuum_versions(spark, root, keep_last=2)
    assert os.path.exists(orphan)  # default: untouched
    PL.vacuum_versions(spark, root, keep_last=2, clean_staging=True)
    assert not os.path.exists(orphan)
    assert PL.latest_version(spark, root) == 2


def _start_rtbf(spark, tmp_path, indir, ck_name):
    from gcs_parquet_dataflow_spark.streaming.pipeline import run_rtbf_stream

    stream = (
        spark.readStream.schema("subject_key long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(indir / "*"))
    )
    q = run_rtbf_stream(
        spark, stream,
        [(str(tmp_path / "users_lake"), "user_id")],
        str(tmp_path / "audit"), str(tmp_path / ck_name),
        available_now=True,
    )
    q.awaitTermination(180)


def test_rtbf_audit_marker_fence_states(spark, tmp_path):
    """ADVICE r9: the replay fence is the _COMMITTED marker, not the
    bare partition dir.  (a) marker present → a full replay (fresh
    checkpoint, same requests) skips the lake commit entirely;
    (b) torn audit partition (dir exists, marker absent — the crash
    window) → the replay RE-APPLIES: deletions are idempotent, the
    audit partition is rewritten whole, and the marker is restored —
    the compliance trail is never permanently incomplete."""
    users = str(tmp_path / "users_lake")
    PL.write_version(
        spark, users,
        spark.createDataFrame(
            [(i, f"n{i}") for i in range(10)], "user_id long, name string"
        ),
    )
    indir = tmp_path / "req"
    indir.mkdir()
    spark.createDataFrame([(3,), (7,)], "subject_key long").coalesce(
        1
    ).write.parquet(str(indir / "b0"))

    _start_rtbf(spark, tmp_path, indir, "ck0")
    assert PL.latest_version(spark, users) == 1
    audit_part = tmp_path / "audit" / "_batch_id=0"
    marker = audit_part / "_COMMITTED"
    assert marker.exists()
    audit_rows = _content(spark, str(tmp_path / "audit"))

    # (a) fenced replay: fresh checkpoint re-delivers batch 0; the
    # marker short-circuits it — no new snapshot, audit unchanged
    _start_rtbf(spark, tmp_path, indir, "ck1")
    assert PL.latest_version(spark, users) == 1
    assert _content(spark, str(tmp_path / "audit")) == audit_rows

    # (b) torn audit: drop the marker and a data file (the crash left
    # a partial partition); the replay re-applies and heals both
    marker.unlink()
    for f in audit_part.iterdir():
        if f.name.startswith("part-"):
            f.unlink()
            break
    _start_rtbf(spark, tmp_path, indir, "ck2")
    assert marker.exists()
    # the audit is whole again; the re-apply recorded the NEW snapshot
    # it committed (idempotent content, one extra identical version —
    # the documented raw-parquet trade)
    healed = spark.read.parquet(str(tmp_path / "audit"))
    assert [
        tuple(r) for r in healed.select(
            "_batch_id", "lake_root", "lake_key", "n_keys"
        ).collect()
    ] == [(0, users, "user_id", 2)]
    assert healed.select("new_version").first()[0] == 2
    assert PL.latest_version(spark, users) == 2
    assert _content(spark, users + "/v00000002") == _content(
        spark, users + "/v00000001"
    )


def test_read_skipping_falls_back_on_stale_manifest(spark, tmp_path):
    """optimize_table commits data before the manifest, so a crash
    between the two leaves a manifest pointing at the superseded
    version.  Under versioned retention those paths still EXIST (the
    previous version is retained for in-flight readers) — a bare
    existence check would silently read OLD data through the stale
    manifest.  read_skipping must reject hits outside the CURRENT
    resolved dir and serve the exact unpruned predicate instead —
    correct, just unpruned, until the next optimize heals the
    manifest."""
    path = str(tmp_path / "t")
    spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("x")
    ).repartition(4).write.parquet(path)
    res = PL.optimize_table(spark, path, sort_cols=["k"])
    stats = spark.read.parquet(res["manifest_path"])
    expect = [(k, 2 * k) for k in range(10, 41)]

    got = PL.read_skipping(spark, path, stats, "k", 10, 40)
    assert sorted(tuple(r) for r in got.select("k", "x").collect()) == expect

    # freeze the pre-maintenance manifest EAGERLY: this is the stale
    # state a crash between optimize's data commit and its manifest
    # write leaves behind (compact itself now refreshes the on-disk
    # manifest — see below — so the lazy DataFrame would re-read the
    # healed one and construct nothing)
    stale_stats = spark.createDataFrame(stats.collect(), stats.schema)
    PL.compact(spark, path, target_file_bytes=1 << 30)
    live = {
        r["file"]
        for r in PL.read_table(spark, path)
        .select(F.input_file_name().alias("file")).distinct().collect()
    }
    stale_files = {r["file"] for r in stale_stats.select("file").collect()}
    assert not (stale_files & live)  # manifest points at the old version
    # ...whose files are RETAINED for in-flight readers — the trap the
    # current-version membership check exists for
    fs, _, jvm = PL._fs_and_path(spark, path)
    assert all(
        fs.exists(jvm.org.apache.hadoop.fs.Path(f)) for f in stale_files
    )

    got2 = PL.read_skipping(spark, path, stale_stats, "k", 10, 40)
    assert sorted(tuple(r) for r in got2.select("k", "x").collect()) == expect

    # and the r12 half: compact REFRESHED the on-disk manifest, so the
    # live manifest prunes the new layout instead of degrading every
    # range read to the exact scan until the next optimize
    fresh = spark.read.parquet(res["manifest_path"])
    fresh_files = {r["file"] for r in fresh.select("file").collect()}
    assert fresh_files == live
    got3 = PL.read_skipping(spark, path, fresh, "k", 10, 40)
    assert sorted(tuple(r) for r in got3.select("k", "x").collect()) == expect


def test_versioned_migration_and_retention_ladder(spark, tmp_path):
    """The flat→versioned lifecycle (round 12): commit 1 creates v0
    and RETAINS the flat dir (an in-flight flat reader finishes its
    scan); commit 2 removes the flat remnant and retains v0; commit 3
    vacuums v0.  read_table is correct at every rung; table_exists
    stays True after the flat dir disappears (the first-batch
    bootstrap check streams rely on)."""
    base = str(tmp_path / "lake")
    spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("g")
    ).repartition(8).write.parquet(base)
    assert PL.resolve_table(spark, base) == base

    PL.compact(spark, base, target_file_bytes=1 << 30)
    assert PL.table_versions(spark, base) == [0]
    assert os.path.exists(base)  # flat retained for one cycle
    assert _content(spark, base) == sorted(
        (i % 7, i) for i in range(100)
    )

    PL.compact(spark, base, target_file_bytes=1 << 30)
    assert PL.table_versions(spark, base) == [0, 1]
    assert not os.path.exists(base)  # flat remnant swept
    assert PL.table_exists(spark, base)

    PL.compact(spark, base, target_file_bytes=1 << 30)
    assert PL.table_versions(spark, base) == [1, 2]  # v0 vacuumed

    # deeper history reclaim is explicit
    assert PL.vacuum_table(spark, base, keep_last=1) == [1]
    assert PL.table_versions(spark, base) == [2]
    assert _content(spark, base) == sorted(
        (i % 7, i) for i in range(100)
    )


def test_reader_pinned_before_maintenance_survives_the_commit(
    spark, tmp_path
):
    """Reader atomicity, the pinned form: a DataFrame resolved BEFORE a
    maintenance commit keeps scanning its (now superseded, still
    retained) version — under the pre-r12 delete→rename it would have
    lost its files mid-scan.  One full maintenance cycle of grace is
    the documented reader window."""
    base = str(tmp_path / "lake")
    _setup_upsert(spark, base)
    pinned = PL.read_table(spark, base)  # lazy: resolves the flat dir
    _op_upsert(spark, base)  # commits v0; flat retained
    # the pinned plan still reads the pre-maintenance state, complete
    assert sorted(tuple(r) for r in pinned.collect()) == [
        (1, "a", 1), (2, "b", 1), (3, "c", 1)
    ]
    # a fresh resolve sees the post state
    assert (2, "B", 2) in _content(spark, base)


def test_concurrent_reader_during_live_maintenance_never_fails(
    spark, tmp_path
):
    """Reader atomicity, the racing form (VERDICT r11 item 1's named
    deliverable): a reader thread hammering read_table().collect()
    while maintenance commits must only ever observe the PRE or the
    POST table — never an exception, never an absent path, never a
    blend.  Under the old delete→rename commit this reliably threw
    path-not-found in the window."""
    import threading

    base = str(tmp_path / "lake")
    _setup_upsert(spark, base)
    pre = [(1, "a", 1), (2, "b", 1), (3, "c", 1)]
    post = [(1, "a", 1), (2, "B", 2), (3, "c", 1), (4, "d", 2)]

    stop = threading.Event()
    seen: list = []
    errors: list[Exception] = []

    def reader() -> None:
        while not stop.is_set():
            try:
                df = PL.read_table(spark, base)
                rows = sorted(
                    tuple(r) for r in df.select("k", "v", "ver").collect()
                )
                seen.append(rows)
            except Exception as exc:  # noqa: BLE001 — recorded for assert
                errors.append(exc)
                return

    th = threading.Thread(target=reader)
    th.start()
    try:
        for i in range(3):  # three commits: migration + flat sweep + vacuum
            upd = spark.createDataFrame(
                [(2, "B", 2), (4, "d", 2)], "k long, v string, ver long"
            )
            PL.upsert(spark, base, upd, ["k"], "ver")
    finally:
        stop.set()
        th.join(120)
    assert not errors, errors
    assert seen, "reader never completed a scan"
    for rows in seen:
        assert rows in (pre, post), rows


def test_unfenced_append_is_never_destroyed_by_the_flip(spark, tmp_path):
    """The residual unfenced-writer window (SCALE.md r11 item 2),
    re-adjudicated under the versioned commit: an append that lands
    AFTER the epoch re-check can at worst be missing from the NEW
    version — its rows live on in the superseded version (retained,
    recoverable) instead of colliding with a delete→rename.  Here the
    epoch check still catches an append that lands before commit; the
    point under test is that an ABORTED flip leaves the racing rows
    readable and a re-run folds them in, with every prior version
    intact."""
    base = str(tmp_path / "lake")
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "k long, v string"
    ).write.parquet(base)
    PL.compact(spark, base, target_file_bytes=1 << 30)  # → v0
    staging = base + "__compact_staging"
    with PL.swap_lease(spark, base, "compact") as lease:
        df = spark.read.parquet(lease.resolved)
        # unfenced racing appender writes into the RESOLVED dir
        spark.createDataFrame([(3, "c")], "k long, v string").write.mode(
            "append"
        ).parquet(lease.resolved)
        df.coalesce(1).write.mode("overwrite").parquet(staging)
        with pytest.raises(PL.ConcurrentWriterError):
            lease.commit(staging)
    # nothing destroyed: v0 (with the racing row) is still the live
    # table, and the re-run folds the append into v1
    assert _content(spark, base) == [(1, "a"), (2, "b"), (3, "c")]
    shutil.rmtree(staging)
    PL.compact(spark, base, target_file_bytes=1 << 30)
    assert PL.table_versions(spark, base) == [0, 1]
    assert _content(spark, base) == [(1, "a"), (2, "b"), (3, "c")]


def _cosine_fixed_batch(spark, path):
    """A probe batch FROZEN from the pre-maintenance corpus (collected
    to literals) — deriving it from the live table would change the
    probe as compaction moves rows between the shard and folded
    tables."""
    rows = [
        (int(r["corpus_id"]) + 5000, [x + 0.001 for x in r["_v"]])
        for r in PL.read_table(spark, path)
        .orderBy("corpus_id").limit(6).collect()
    ]
    return spark.createDataFrame(rows, "vec_id long, v array<double>")


def _cosine_probe_pairs(spark, path, batch):
    from gcs_parquet_dataflow_spark.operators import similarity as SIM

    planes = SIM.hyperplanes(n_planes=4, dim=8, seed=13)
    return sorted(
        tuple(r)
        for r in SIM.cosine_batch_against_index(
            spark, path, batch, 0.9, planes=planes,
            id_col="vec_id", vec_col="v",
        ).collect()
    )


def test_cosine_fold_marker_protocol_crash_states(spark, tmp_path):
    """The generational fold's OWN intermediate states (round 12,
    marker-then-flip):

    (a) gen appended, UNMARKED (crash before marker): probes ignore
        it — identical results; the next run sweeps it and re-folds.
    (b) gen MARKED, shard flip not yet run (crash between marker and
        flip): the folded batches exist in BOTH tables — probe results
        identical (triple dedup); the next run drops the stale shard
        batches WITHOUT re-folding them.
    """
    from gcs_parquet_dataflow_spark.operators import similarity as SIM

    base = str(tmp_path / "lake")
    _setup_cosine_index(spark, base)
    probe_batch = _cosine_fixed_batch(spark, base)
    want = _cosine_probe_pairs(spark, base, probe_batch)
    pre_rows = _cosine_content(spark, base)
    froot = base + "__folded"

    # --- (a) unmarked generation: invisible, then swept -------------
    df = PL.read_table(spark, base)
    (
        df.filter(F.col("_batch_id") < 3)
        .select("corpus_id", "_v", "_norm", "_t", "_bucket")
        .withColumn("_fold_gen", F.lit(0))
        .write.mode("append")
        .partitionBy("_fold_gen", "_t", "_bucket")
        .parquet(froot)
    )
    assert SIM._committed_fold_rows(spark, base) is None  # unmarked
    assert _cosine_probe_pairs(spark, base, probe_batch) == want
    assert _cosine_content(spark, base) == pre_rows

    SIM.compact_cosine_index(spark, base, keep_last=1)
    marked, present = SIM._fold_state(
        spark, PL.resolve_table(spark, froot)
    )
    # the swept garbage gen's id is NOT reused (listing-race hygiene):
    # the committed generation lands under the next id
    assert sorted(marked) == [1] and marked[1] == [0, 1, 2]
    assert present == {1}
    assert _cosine_probe_pairs(spark, base, probe_batch) == want
    assert _cosine_content(spark, base) == pre_rows

    # --- (b) marked gen + stale shard copies (pre-flip crash) -------
    # construct: re-append batches 0..2 into the SHARD table (as if
    # the flip never ran) — rows now live in both tables
    stale = str(tmp_path / "stale_src")
    shutil.copytree(base, stale)  # pre-fold flat shard layout
    shard_dir = PL.resolve_table(spark, base)
    for b in (0, 1, 2):
        src = os.path.join(stale, f"_batch_id={b}")
        dst = os.path.join(shard_dir, f"_batch_id={b}")
        shutil.copytree(src, dst)
    ids = sorted(
        r["_batch_id"]
        for r in PL.read_table(spark, base)
        .select("_batch_id").distinct().collect()
    )
    assert ids == [0, 1, 2, 3]  # both-tables state constructed
    assert _cosine_probe_pairs(spark, base, probe_batch) == want  # dedup holds
    assert _cosine_content(spark, base) == pre_rows

    # the next run drops the stale copies without re-folding
    SIM.compact_cosine_index(spark, base, keep_last=1)
    ids = sorted(
        r["_batch_id"]
        for r in PL.read_table(spark, base)
        .select("_batch_id").distinct().collect()
    )
    assert ids == [3]
    marked, _ = SIM._fold_state(spark, PL.resolve_table(spark, froot))
    assert sorted(marked) == [1] and marked[1] == [0, 1, 2]  # unchanged
    assert _cosine_probe_pairs(spark, base, probe_batch) == want
    assert _cosine_content(spark, base) == pre_rows


def test_cosine_legacy_monolithic_staging_still_heals(spark, tmp_path):
    """A PRE-r12 compact_cosine_index crash left the MONOLITHIC
    relabeled index in __cosine_index_compact_staging with the dest
    deleted.  The new binary's recover_staged_swap must complete that
    rename, and probes over the healed flat index (no folded sibling)
    must work unchanged."""
    base = str(tmp_path / "lake")
    _setup_cosine_index(spark, base)
    probe_batch = _cosine_fixed_batch(spark, base)
    want = _cosine_probe_pairs(spark, base, probe_batch)

    # the old binary's staging: the whole index, old ids relabeled
    df = spark.read.parquet(base)
    relabeled = df.withColumn(
        "_batch_id",
        F.when(F.col("_batch_id") < 3, F.lit(0).cast("long")).otherwise(
            F.col("_batch_id")
        ),
    )
    staging = base + "__cosine_index_compact_staging"
    (
        relabeled.repartition("_batch_id", "_t")
        .write.mode("overwrite")
        .partitionBy("_batch_id", "_t", "_bucket")
        .parquet(staging)
    )
    shutil.rmtree(base)

    assert PL.recover_staged_swap(spark, base)
    assert sorted(
        r["_batch_id"]
        for r in PL.read_table(spark, base)
        .select("_batch_id").distinct().collect()
    ) == [0, 3]
    assert _cosine_probe_pairs(spark, base, probe_batch) == want
