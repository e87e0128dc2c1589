"""Sharded Bloom membership artifact (operators/bloom.py), and the
incremental fold's exact tier, which runs without it.

Pins the three properties the `bloom_new_docs` query depends on:
zero false negatives (exactness of genuinely_new_rows), an fpp in the
theoretical ballpark (the artifact actually prunes), and bitmap
determinism across partitionings (the artifact is a committable
snapshot, not a run-dependent byproduct)."""

import pytest
from pyspark.sql import functions as F

from acxspark.operators.bloom import (
    build_bloom,
    genuinely_new_rows,
    might_contain,
)

N_OLD = 3_000
N_NEW = 1_200
N_SHARDS = 16


@pytest.fixture(scope="module")
def frames(spark):
    old = spark.range(N_OLD).select(
        F.concat(F.lit("key-"), F.col("id")).alias("key")
    )
    # every 3rd new key is a true member; the rest are novel
    new = spark.range(N_NEW).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 3 == 0, F.concat(F.lit("key-"), F.col("id")))
        .otherwise(F.concat(F.lit("novel-"), F.col("id")))
        .alias("key"),
    )
    bloom = build_bloom(old, "key", n_shards=N_SHARDS).persist()
    bloom.count()
    yield old, new, bloom
    bloom.unpersist()


def test_zero_false_negatives(frames):
    old, new, bloom = frames
    flags = might_contain(new, "key", bloom, N_SHARDS)
    members = new.filter(F.col("doc_id") % 3 == 0).select("key")
    missed = members.join(
        flags.filter(F.col("might_contain")), "key", "left_anti"
    ).count()
    assert missed == 0


def test_fpp_in_ballpark(frames):
    old, new, bloom = frames
    flags = might_contain(new, "key", bloom, N_SHARDS)
    novel = new.filter(F.col("doc_id") % 3 != 0).count()
    false_pos = (
        flags.filter(F.col("might_contain"))
        .join(old.select("key"), "key", "left_anti")
        .count()
    )
    # theory at 10 bits/item, k=7: ~0.8%; assert < 5x with slack for
    # the double-hashing approximation and small-n variance
    assert false_pos / novel < 0.05


def test_genuinely_new_is_exact_anti_join(frames):
    old, new, bloom = frames
    got = genuinely_new_rows(new, "key", bloom, old, N_SHARDS)
    exp = new.join(old, "key", "left_anti")
    assert got.count() == exp.count() == (N_NEW - (N_NEW + 2) // 3)
    assert got.join(exp, ["doc_id", "key"], "left_anti").count() == 0


def test_bitmap_deterministic_across_partitionings(frames, spark):
    old, _, bloom = frames
    again = build_bloom(
        old.repartition(3), "key", n_shards=N_SHARDS,
        expected_items=N_OLD,
    )
    a = {r["shard"]: bytes(r["bitmap"]) for r in bloom.collect()}
    b = {r["shard"]: bytes(r["bitmap"]) for r in again.collect()}
    assert a == b


def test_empty_shard_means_definite_no(frames, spark):
    _, new, bloom = frames
    empty_bloom = bloom.limit(0)
    flags = might_contain(new, "key", empty_bloom, N_SHARDS)
    assert flags.filter(F.col("might_contain")).count() == 0
    # and every distinct probe key still gets a row back
    assert flags.count() == new.select("key").distinct().count()


def test_bloom_side_scan_pruned_to_delta_shards(frames, spark):
    """The cogroup must scan only the shards the delta touches — not
    the whole artifact (the O(|delta|) claim for the bitmap side)."""
    from pyspark.sql import Observation

    old, new, bloom = frames
    # confine the delta to shards {0,1,2}: pick probe keys by shard
    delta = new.filter(
        F.pmod(F.xxhash64(F.col("key"), F.lit(2)), F.lit(N_SHARDS)) < 3
    )
    assert delta.count() > 0
    obs = Observation()
    flags = might_contain(delta, "key", bloom, N_SHARDS, observation=obs)
    # correctness unchanged by the prune
    members = delta.filter(F.col("doc_id") % 3 == 0).select("key")
    assert members.join(
        flags.filter(F.col("might_contain")), "key", "left_anti"
    ).count() == 0
    scanned = obs.get["bloom_shards_scanned"]
    expected = bloom.filter(F.col("shard") < 3).count()
    assert scanned == expected
    assert scanned < N_SHARDS


def test_oversized_shard_bitmap_raises(spark):
    df = spark.range(10).select(F.col("id").cast("string").alias("key"))
    with pytest.raises(ValueError, match="2\\^32"):
        build_bloom(df, "key", n_shards=1,
                    expected_items=1 << 40, bits_per_item=10)


def test_merge_blooms_equals_joint_build(frames, spark):
    from acxspark.operators.bloom import bloom_params, build_bloom, merge_blooms

    old, new, bloom = frames
    m, k = bloom_params(bloom)
    delta = build_bloom(new.select("key"), "key", n_shards=N_SHARDS,
                        m_bits=m, k=k)
    merged = {r["shard"]: bytes(r["bitmap"])
              for r in merge_blooms(bloom, delta).collect()}
    # a caller that built the delta at the artifact's geometry may skip
    # the two verification actions; the merge is the same
    assert merged == {
        r["shard"]: bytes(r["bitmap"])
        for r in merge_blooms(bloom, delta, geometry=(m, k)).collect()
    }
    joint = {
        r["shard"]: bytes(r["bitmap"])
        for r in build_bloom(
            old.select("key").unionByName(new.select("key")),
            "key", n_shards=N_SHARDS, m_bits=m, k=k,
        ).collect()
    }
    assert merged == joint


def test_merge_blooms_rejects_geometry_mismatch(frames, spark):
    from acxspark.operators.bloom import build_bloom, merge_blooms

    old, _, bloom = frames
    other = build_bloom(old, "key", n_shards=N_SHARDS, m_bits=128, k=3)
    with pytest.raises(ValueError, match="m_bits"):
        merge_blooms(bloom, other)


def _incremental_fixture_frames(spark):
    base = ("the quick brown fox jumps over the lazy dog while "
            "seventeen ships sail quietly past the harbor wall "
            "under a pale winter sky full of patient birds ")
    other = ("completely different content about distributed shuffle "
             "joins and columnar execution engines at petabyte scale "
             "with adaptive query planning and skew mitigation ")
    A = spark.createDataFrame(
        [("a1", base), ("a2", base.replace("winter", "summer")),
         ("a3", other), ("a4", "tiny unique doc four " * 10)],
        "url string, text string",
    )
    B = spark.createDataFrame(
        [("b1", base),                                   # re-fetch of a1
         ("b2", other),                                  # re-fetch of a3
         ("b3", base.replace("patient", "curious")),     # near dup of a1
         ("b4", "brand new cluster of words " * 8),
         ("b5", "entirely novel singleton document " * 6)],
        "url string, text string",
    )
    return A, B


def _committed_base(spark, root):
    from acxspark.catalog import ParquetSnapshotCatalog
    from acxspark.config import DedupConfig
    from acxspark.plans.pipeline import run_pipeline

    A, _ = _incremental_fixture_frames(spark)
    cat = ParquetSnapshotCatalog(root)
    run_pipeline(A, cfg=DedupConfig(), catalog=cat).release()
    return cat


def _fold(cat, batch):
    from acxspark.config import DedupConfig
    from acxspark.plans.incremental import run_incremental

    inc = run_incremental(batch, cat, cfg=DedupConfig())
    got = {r["url"]: r["cluster_id"] for r in inc.assignments.collect()}
    inc.release()
    return got, inc.lineage


def test_incremental_refetches_skip_signing(spark, tmp_path):
    """Exact re-fetches of committed pages join their old cluster
    through the sha probe and skip the signature stage entirely; the
    snapshot stays reps-only across two increments."""
    _, B = _incremental_fixture_frames(spark)
    cat = _committed_base(spark, tmp_path / "cat")
    got, lin = _fold(cat, B)
    assert got["b1"] == "a1" and got["b2"] == "a3"
    # the two re-fetches were never signed; the other three were
    assert dict(lin.observations)["incr_signed"].get["rows"] == 3
    # and the snapshot stayed reps-only: no second row for a1/a3's shas
    sigs = cat.read(spark, "signatures")
    assert sigs.groupBy("text_sha").count().filter("count > 1").count() == 0

    # second increment: a re-fetch of FIRST-increment content keeps its
    # frozen label
    C = spark.createDataFrame(
        [("c1", "brand new cluster of words " * 8)],  # re-fetch of b4
        "url string, text string",
    )
    n_sigs_before = cat.read(spark, "signatures").count()
    got2, _ = _fold(cat, C)
    assert got2["c1"] == "b4"
    # the re-fetch was never signed: the snapshot gained no rows (the
    # incr_signed Observation can't be .get here — an all-empty
    # observed subtree may never fire metrics; Lineage.flush tolerates
    # that, so assert on the committed state instead)
    assert cat.read(spark, "signatures").count() == n_sigs_before


def test_incremental_ignores_stale_sha_bloom_table(spark, tmp_path):
    """A catalog committed by older code also holds a `sha_bloom`
    table. The fold neither reads nor rewrites it: assignments match a
    fold over the same catalog without it, and its manifest is left
    as it was."""
    import shutil

    from acxspark.catalog import ParquetSnapshotCatalog

    _, B = _incremental_fixture_frames(spark)
    plain = _committed_base(spark, tmp_path / "plain")
    assert not plain.has("sha_bloom")
    shutil.copytree(plain.root, tmp_path / "stale")
    stale = ParquetSnapshotCatalog(tmp_path / "stale")
    n_docs = plain.latest_meta("signatures")["n_docs"]
    stale.write(
        "sha_bloom",
        build_bloom(stale.read(spark, "signatures").select("text_sha"),
                    "text_sha", n_shards=1, expected_items=n_docs),
        meta={"n_shards": 1},
    )
    manifest = stale.latest_meta("sha_bloom")

    got_plain, _ = _fold(plain, B)
    got_stale, _ = _fold(stale, B)
    assert got_stale == got_plain
    assert stale.latest_meta("sha_bloom") == manifest
    assert stale.latest_meta("clusters")["version"] == 1
