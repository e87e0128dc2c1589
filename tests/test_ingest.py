"""Streaming crawl ingestion (streaming/ingest.py): cold start + two
increments through a real file-source stream must land the SAME
committed state as the equivalent sequential batch calls; replayed
micro-batches must be no-ops at every crash point."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from acxspark.catalog import ParquetSnapshotCatalog
from acxspark.config import DedupConfig
from acxspark.plans.incremental import run_incremental
from acxspark.plans.pipeline import run_pipeline
from acxspark.streaming.ingest import (fold_batch, ingest_crawl_stream,
                                       last_committed_batch)

BASE = ("the quick brown fox jumps over the lazy dog while seventeen "
        "ships sail quietly past the harbor wall under a pale winter "
        "sky full of patient birds and long slow clouds ")
OTHER = ("completely different content about distributed shuffle joins "
         "and columnar execution engines at petabyte scale with "
         "adaptive query planning and skew mitigation everywhere ")

INC0 = [
    ("a1", BASE),
    ("a2", BASE.replace("winter", "summer")),   # near dup of a1
    ("a3", OTHER),
    ("a4", OTHER),                              # exact dup of a3
    ("a5", "unique document five " * 12),
]
INC1 = [
    ("b1", OTHER),                              # exact re-fetch content
    ("b2", BASE.replace("patient", "curious")),  # near dup of a1
    ("b3", "fresh cluster of words " * 10),
    ("b4", "fresh cluster of words " * 10 + "tail"),  # near dup of b3
]
INC2 = [
    ("c1", BASE.replace("harbor", "harbour")),  # near dup of a1, 2 batches back
    ("c2", "entirely novel singleton " * 9),
]
SCHEMA = "url string, text string"


def _clusters(spark, cat):
    return {
        r["url"]: r["cluster_id"]
        for r in cat.read(spark, "clusters").collect()
    }


def test_stream_ingest_matches_sequential_batches(spark, tmp_path):
    # file source: one parquet file per increment, mtimes forced so the
    # source's modification-time ordering delivers them in crawl order
    feed = tmp_path / "feed"
    feed.mkdir()
    now = time.time()
    for i, rows in enumerate((INC0, INC1, INC2)):
        d = str(feed / f"inc{i}")
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(d)
        for f in os.listdir(d):
            os.utime(os.path.join(d, f), (now + i * 10, now + i * 10))

    cat = ParquetSnapshotCatalog(tmp_path / "cat")
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)   # one increment per micro-batch
        .parquet(str(feed / "*"))
    )
    q = ingest_crawl_stream(
        stream, cat, checkpoint_dir=str(tmp_path / "ckpt"),
        cfg=DedupConfig(), out_dir=str(tmp_path / "out"),
        lineage_dir=str(tmp_path / "lin"),
    )
    q.awaitTermination(300)

    # reference: the same three increments as explicit batch calls
    ref = ParquetSnapshotCatalog(tmp_path / "ref")
    r0 = run_pipeline(spark.createDataFrame(INC0, SCHEMA),
                      cfg=DedupConfig(), catalog=ref)
    r0.release()
    for rows in (INC1, INC2):
        run_incremental(spark.createDataFrame(rows, SCHEMA), ref,
                        cfg=DedupConfig()).release()

    got, want = _clusters(spark, cat), _clusters(spark, ref)
    assert got == want
    # sanity on the semantics themselves, not just parity
    assert got["a1"] == got["a2"] == "a1"
    assert got["b1"] == got["a3"] == "a3"        # re-fetch joined old cluster
    assert got["b2"] == "a1"
    assert got["b3"] == got["b4"] == "b3"
    assert got["c1"] == "a1"                     # frozen label, 2 batches back
    # batch ledger advanced to the last micro-batch; per-batch outputs
    assert cat.latest_meta("clusters")["ingest_batch_id"] == 2
    b2 = spark.read.parquet(str(tmp_path / "out" / "batch-2"))
    assert {r["url"] for r in b2.collect()} == {"c1", "c2"}
    # lineage recorded per batch
    assert (tmp_path / "lin" / "batch-1.jsonl").exists()


def test_fold_batch_skips_replayed_id(spark, tmp_path):
    cat = ParquetSnapshotCatalog(tmp_path / "cat")
    s0 = fold_batch(spark.createDataFrame(INC0, SCHEMA), 0, cat,
                    cfg=DedupConfig())
    assert s0["action"] == "cold_start"
    s1 = fold_batch(spark.createDataFrame(INC1, SCHEMA), 1, cat,
                    cfg=DedupConfig())
    assert s1["action"] == "increment" and s1["n_docs"] == len(INC1)

    before = _clusters(spark, cat)
    v = cat.latest_meta("clusters")["version"]
    # at-least-once delivery: same id comes back after a restart
    assert fold_batch(spark.createDataFrame(INC1, SCHEMA), 1, cat,
                      cfg=DedupConfig())["action"] == "skipped_replay"
    assert cat.latest_meta("clusters")["version"] == v
    assert _clusters(spark, cat) == before
    # an id from further back means catalog/checkpoint mismatch: loud
    with pytest.raises(ValueError, match="predates"):
        fold_batch(spark.createDataFrame(INC0, SCHEMA), 0, cat,
                   cfg=DedupConfig())


def test_replay_after_partial_commit_is_idempotent(spark, tmp_path):
    """Crash-point replay: the batch's signatures landed but clusters
    did not (no ingest stamp), so the guard can't help — re-running the
    increment itself must reproduce the first attempt bit-for-bit."""
    cat = ParquetSnapshotCatalog(tmp_path / "cat")
    r = run_pipeline(spark.createDataFrame(INC0, SCHEMA),
                     cfg=DedupConfig(), catalog=cat)
    r.release()

    B = spark.createDataFrame(INC1, SCHEMA)
    # first attempt: signatures/bloom commit, then "crash" — rewind the
    # clusters table to its pre-batch snapshot
    pre_clusters = cat.read(spark, "clusters").collect()
    i1 = run_incremental(B, cat, cfg=DedupConfig())
    want = {r["url"]: r["cluster_id"] for r in i1.assignments.collect()}
    sigs_after = {r["url"] for r in cat.read(spark, "signatures").collect()}
    i1.release()
    cat.write("clusters",
              spark.createDataFrame(pre_clusters), meta={"rewound": True})

    # replay against the half-committed state
    i2 = run_incremental(B, cat, cfg=DedupConfig())
    got = {r["url"]: r["cluster_id"] for r in i2.assignments.collect()}
    i2.release()
    assert got == want                       # same labels, incl. near dups
    assert {r["url"] for r in cat.read(spark, "signatures").collect()} \
        == sigs_after                        # no duplicate signature rows
    snap = _clusters(spark, cat)
    for u, c in want.items():
        assert snap[u] == c


def test_oversized_batch_splits_into_equivalent_subfolds(spark, tmp_path):
    """A micro-batch over cfg.incr_max_batch_rows must fold as k
    deterministic hash sub-batches (the incremental plan broadcasts
    delta-sized tables, so an unbounded batch OOMs the broadcast
    build at scale — measured at 1.28M docs / 8 cores). The committed
    state must equal delivering the same hash groups as separate
    batches, the ledger stamp must land only with the final sub-fold,
    and a mid-split crash replay must converge to the same state."""
    cfg = DedupConfig(incr_max_batch_rows=4)
    base = spark.createDataFrame(INC0, SCHEMA)
    delta_rows = INC1 + INC2                       # 6 docs > budget 4
    delta = spark.createDataFrame(delta_rows, SCHEMA)
    k = 2                                          # ceil(6 / 4)

    # --- catalog A: one oversized batch, split internally ----------
    cat_a = ParquetSnapshotCatalog(tmp_path / "a")
    fold_batch(base, 0, cat_a, cfg=cfg)
    s = fold_batch(delta, 1, cat_a, cfg=cfg)
    assert s["action"] == "increment_split"
    assert s["n_docs"] == len(delta_rows)
    assert s["n_subbatches"] == k
    # ledger stamp landed with the last sub-fold → replay skips
    assert fold_batch(delta, 1, cat_a, cfg=cfg)["action"] \
        == "skipped_replay"

    # --- catalog B: the same hash groups as explicit batches -------
    cat_b = ParquetSnapshotCatalog(tmp_path / "b")
    fold_batch(base, 0, cat_b, cfg=cfg)
    big = DedupConfig()                            # no split for subs
    seen = 0
    for bid, j in enumerate(range(k), start=1):
        sub = delta.filter(F.pmod(F.xxhash64("url"), F.lit(k)) == j)
        n_sub = sub.count()     # hash groups bound EXPECTED size, so a
        seen += n_sub           # tiny-n group may overshoot the budget
        if n_sub:
            fold_batch(sub, bid, cat_b, cfg=big)
    assert seen == len(delta_rows)
    assert _clusters(spark, cat_a) == _clusters(spark, cat_b)

    # --- catalog C: crash after sub-fold 0, replay the whole batch -
    cat_c = ParquetSnapshotCatalog(tmp_path / "c")
    fold_batch(base, 0, cat_c, cfg=cfg)
    sub0 = delta.filter(F.pmod(F.xxhash64("url"), F.lit(k)) == 0)
    run_incremental(sub0, cat_c, cfg=cfg,
                    snapshot_meta={"ingest_batch_part": "1/0"}).release()
    # no ingest_batch_id stamp → the replayed batch is NOT skipped
    s2 = fold_batch(delta, 1, cat_c, cfg=cfg)
    assert s2["action"] == "increment_split"
    assert _clusters(spark, cat_c) == _clusters(spark, cat_a)


def test_midsplit_crash_keeps_ledger_and_outdir_exactly_once(
        spark, tmp_path, monkeypatch):
    """A crash BETWEEN sub-folds of a split batch must leave the
    replay ledger intact (intermediate manifests carry the last
    COMPLETE batch id — erasing it would disarm the catalog/checkpoint
    mismatch guard), and the per-batch out_dir must hold each
    assignment exactly once after the replay (per-sub-fold overwritten
    partition dirs, not a shared append)."""
    import acxspark.plans.incremental as inc

    cfg = DedupConfig(incr_max_batch_rows=4)
    cat = ParquetSnapshotCatalog(tmp_path / "m")
    out_dir = str(tmp_path / "out")
    base = spark.createDataFrame(INC0, SCHEMA)
    delta_rows = INC1 + INC2
    delta = spark.createDataFrame(delta_rows, SCHEMA)
    fold_batch(base, 0, cat, cfg=cfg, out_dir=out_dir)
    assert last_committed_batch(cat) == 0

    real = inc.run_incremental
    calls = {"n": 0}

    def crash_before_second(*a, **kw):
        # crash at the START of sub-fold 1: sub-fold 0 has fully
        # committed AND written its out_dir partition by then, so the
        # replay must overwrite (not duplicate) that partition
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("simulated crash after sub-fold 0")
        return real(*a, **kw)

    monkeypatch.setattr(inc, "run_incremental", crash_before_second)
    with pytest.raises(RuntimeError, match="simulated crash"):
        fold_batch(delta, 1, cat, cfg=cfg, out_dir=out_dir)
    # sub-fold 0 committed, but the ledger still points at batch 0 —
    # the stale-id guard stays armed and the replay is NOT skipped
    assert last_committed_batch(cat) == 0

    monkeypatch.setattr(inc, "run_incremental", real)
    s = fold_batch(delta, 1, cat, cfg=cfg, out_dir=out_dir)
    assert s["action"] == "increment_split"
    assert last_committed_batch(cat) == 1

    # out_dir: every delta url exactly once, despite sub-fold 0
    # having written once before the crash and once in the replay
    got = spark.read.parquet(str(tmp_path / "out" / "batch-1"))
    urls = [r["url"] for r in got.select("url").collect()]
    assert sorted(urls) == sorted(u for u, _ in delta_rows)

    # end state equals the no-crash path
    cat_ref = ParquetSnapshotCatalog(tmp_path / "ref")
    fold_batch(base, 0, cat_ref, cfg=cfg)
    fold_batch(delta, 1, cat_ref, cfg=cfg)
    assert _clusters(spark, cat) == _clusters(spark, cat_ref)


def test_replay_recovers_missing_outdir(spark, tmp_path):
    """The ledger stamp lands BEFORE the per-batch out_dir write, so a
    crash between them replays into the skip path with the batch's
    parquet missing forever — the skip path must rebuild it from the
    committed clusters snapshot."""
    import shutil

    cfg = DedupConfig()
    cat = ParquetSnapshotCatalog(tmp_path / "cat")
    out_dir = str(tmp_path / "out")
    fold_batch(spark.createDataFrame(INC0, SCHEMA), 0, cat, cfg=cfg,
               out_dir=out_dir)
    delta = spark.createDataFrame(INC1, SCHEMA)
    fold_batch(delta, 1, cat, cfg=cfg, out_dir=out_dir)
    want = {
        r["url"]: r["cluster_id"]
        for r in spark.read.parquet(str(tmp_path / "out" / "batch-1"))
        .collect()
    }
    # simulate the crash window: commit landed, out_dir write did not
    shutil.rmtree(tmp_path / "out" / "batch-1")
    s = fold_batch(delta, 1, cat, cfg=cfg, out_dir=out_dir)
    assert s["action"] == "skipped_replay_outdir_recovered"
    got = {
        r["url"]: r["cluster_id"]
        for r in spark.read.parquet(str(tmp_path / "out" / "batch-1"))
        .collect()
    }
    assert got == want
    # intact dir → plain skip, contents untouched
    s2 = fold_batch(delta, 1, cat, cfg=cfg, out_dir=out_dir)
    assert s2["action"] == "skipped_replay"


def test_replay_with_unassignable_docs_and_complete_outdir_is_plain_skip(
        spark, tmp_path):
    """Regression: the replay completeness probe must expect only the
    urls a fold can assign. A batch holding an over-long or NULL text
    (dropped by the max_text_bytes guard) used to look incomplete on
    every replay, so its intact out_dir was re-read and rewritten."""
    cfg = DedupConfig()
    cat = ParquetSnapshotCatalog(tmp_path / "cat")
    out_dir = str(tmp_path / "out")
    fold_batch(spark.createDataFrame(INC0, SCHEMA), 0, cat, cfg=cfg,
               out_dir=out_dir)
    delta = spark.createDataFrame(
        INC1 + [("big", "x" * (cfg.max_text_bytes + 1)), ("none", None)],
        SCHEMA,
    )
    assert fold_batch(delta, 1, cat, cfg=cfg,
                      out_dir=out_dir)["action"] == "increment"
    written = spark.read.parquet(str(tmp_path / "out" / "batch-1"))
    assert {r["url"] for r in written.collect()} == {u for u, _ in INC1}
    assert fold_batch(delta, 1, cat, cfg=cfg,
                      out_dir=out_dir)["action"] == "skipped_replay"


#: Spark jobs one increment fold of INC1 may run (a job group around
#: fold_batch). The fold with nested persist() intermediates and
#: separate bookkeeping actions ran 151 here; the flattened one 74;
#: without the sha-bloom gate 61; with tagged-vertex labels (no
#: corpus-wide label lookup) 54; with the batch plan's exact star,
#: band cap and Jaccard verify over tagged rows 53; with one band
#: table and one capped bucket pass for delta×delta and old×delta
#: pairs 48 (the budget keeps ~25% headroom).
FOLD_JOB_BUDGET = 60


#: Spark jobs one base commit may run: run_pipeline(..., catalog=)
#: with url dedup, extraction and redaction, plus the survivor
#: checksum, on a 120-doc generated corpus (a job group around both).
#: With lazy persist() intermediates it ran 69 here; with an eager
#: cut (plans/blocks.materialise) at every multi-consumer intermediate
#: 53 (the budget keeps ~25% headroom).
PIPELINE_JOB_BUDGET = 66


def _persistent_rdd_ids(sc) -> set[int]:
    return set(sc._jsc.getPersistentRDDs().keySet().toArray())


def test_base_commit_stays_in_job_budget_and_releases_its_blocks(
        spark, tmp_path):
    from acxspark.corpus import generate, to_spark

    cat = ParquetSnapshotCatalog(tmp_path / "cat")
    web, _, _ = to_spark(spark, generate(n_docs=120, seed=5))
    sc = spark.sparkContext
    before = _persistent_rdd_ids(sc)
    sc.setJobGroup("base-budget", "base commit under a job budget")
    try:
        res = run_pipeline(web, catalog=cat, url_dedup=True,
                           use_extract=True, redact=True)
        surv = res.survivors
        surv.agg(F.bit_xor(F.xxhash64(*surv.columns))).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("base-budget"))
    assert 0 < n_jobs <= PIPELINE_JOB_BUDGET
    res.release()
    assert _persistent_rdd_ids(sc) <= before
    assert cat.read(spark, "clusters").count() == 120


def test_fold_stays_in_job_budget_and_releases_its_blocks(spark, tmp_path):
    cfg = DedupConfig()
    cat = ParquetSnapshotCatalog(tmp_path / "cat")
    fold_batch(spark.createDataFrame(INC0, SCHEMA), 0, cat, cfg=cfg)
    delta = spark.createDataFrame(INC1, SCHEMA)
    sc = spark.sparkContext
    before = _persistent_rdd_ids(sc)
    sc.setJobGroup("fold-budget", "fold under a job budget")
    try:
        s = fold_batch(delta, 1, cat, cfg=cfg)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert s["action"] == "increment" and s["n_docs"] == len(INC1)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("fold-budget"))
    assert 0 < n_jobs <= FOLD_JOB_BUDGET
    # every checkpoint and cache the fold made is released on return
    # (the context cleaner may drop older ids meanwhile, hence ⊆)
    assert _persistent_rdd_ids(sc) <= before
    got = _clusters(spark, cat)
    assert got["b1"] == "a3" and got["b2"] == "a1"
    assert got["b3"] == got["b4"] == "b3"


def test_pipeline_release_drops_its_edge_checkpoint(spark):
    """Without a catalog the batch plan checkpoints its edge set for
    CC; release() must drop those blocks with the caches, and the
    results must stay readable (only CC read the checkpoint)."""
    sc = spark.sparkContext
    web = spark.createDataFrame(INC0, SCHEMA)
    before = _persistent_rdd_ids(sc)
    res = run_pipeline(web, cfg=DedupConfig())
    clusters = sorted(tuple(r) for r in res.clusters.collect())
    n_survivors = res.survivors.count()
    res.release()
    assert _persistent_rdd_ids(sc) <= before
    assert sorted(tuple(r) for r in res.clusters.collect()) == clusters
    assert res.survivors.count() == n_survivors == 3


def test_fold_of_all_unique_delta_with_no_edges_completes(spark, tmp_path):
    """Zero edges anywhere: the edge-count Observation rides the
    checkpoint of an empty edge set and must still fire — a metric
    that never fires would block the fold forever."""
    import json
    import threading

    cfg = DedupConfig()
    cat = ParquetSnapshotCatalog(tmp_path / "cat")
    fold_batch(spark.createDataFrame(INC0, SCHEMA), 0, cat, cfg=cfg)
    rows = [(f"z{i}", " ".join(f"w{i}x{j}" for j in range(40)))
            for i in range(6)]
    box: dict = {}

    def fold():
        box["s"] = fold_batch(spark.createDataFrame(rows, SCHEMA), 1, cat,
                              cfg=cfg, lineage_dir=str(tmp_path / "lin"))

    t = threading.Thread(target=fold, daemon=True)
    t.start()
    t.join(300)
    assert "s" in box, "fold did not finish"
    assert box["s"] == {"batch_id": 1, "action": "increment",
                        "n_docs": len(rows)}
    got = _clusters(spark, cat)
    assert all(got[u] == u for u, _ in rows)
    with open(tmp_path / "lin" / "batch-1.jsonl") as f:
        recs = [json.loads(line) for line in f]
    assert [r["rows"] for r in recs if r["stage"] == "incr_edges"] == [0]
    assert [r["n"] for r in recs if r["stage"] == "clusters_bridged"] == [0]


def test_delta_doc_bridging_two_old_clusters_joins_smaller_label(
        spark, tmp_path):
    """Labels are frozen across folds: a delta doc that near-matches
    two old clusters cannot merge them. It joins the smaller old label
    and the fold records one bridge (``clusters_bridged`` n=1) for the
    next compaction to resolve."""
    import json

    # z is 114 distinct words; each old doc swaps 15 words at one end,
    # so each shares 97 of 127 3-shingles with z (Jaccard 0.76) but
    # only 82 of 142 with the other (0.58): both near z, not each other
    words = [f"w{i}" for i in range(114)]
    z = " ".join(words)
    head = " ".join([f"h{i}" for i in range(15)] + words[15:])
    tail = " ".join(words[:-15] + [f"t{i}" for i in range(15)])
    cfg = DedupConfig()
    cat = ParquetSnapshotCatalog(tmp_path / "cat")
    fold_batch(spark.createDataFrame([("p2", head), ("p1", tail)], SCHEMA),
               0, cat, cfg=cfg)
    assert _clusters(spark, cat) == {"p1": "p1", "p2": "p2"}
    s = fold_batch(spark.createDataFrame([("z1", z)], SCHEMA), 1, cat,
                   cfg=cfg, lineage_dir=str(tmp_path / "lin"))
    assert s["action"] == "increment"
    assert _clusters(spark, cat) == {"p1": "p1", "p2": "p2", "z1": "p1"}
    with open(tmp_path / "lin" / "batch-1.jsonl") as f:
        recs = [json.loads(line) for line in f]
    assert [r["n"] for r in recs if r["stage"] == "clusters_bridged"] == [1]
    # tag order, not url order: a0 sorts below the old label p1 it
    # near-matches (tail with its last word changed) and must still
    # join p1 — no delta url outranks an old label
    a0 = " ".join(words[:-15] + [f"t{i}" for i in range(14)] + ["u14"])
    fold_batch(spark.createDataFrame([("a0", a0)], SCHEMA), 2, cat, cfg=cfg)
    assert _clusters(spark, cat)["a0"] == "p1"


@pytest.mark.parametrize("cap, n1_label", [(1, "n1"), (None, "o1")])
def test_fold_band_cap_counts_delta_and_corpus_together(
        spark, tmp_path, cap, n1_label):
    """The new×old band cap is the full run's: a band's members are
    counted over the delta AND the corpus together. o1 (base) and its
    near dup n1 (delta) are each their band's only member on their own
    side, so a one-sided cap of 1 would pair them; the combined count
    is 2, so at ``max_band_size=1`` n1 gets its own label."""
    cfg = DedupConfig() if cap is None else DedupConfig(max_band_size=cap)
    cat = ParquetSnapshotCatalog(tmp_path / "cat")
    fold_batch(spark.createDataFrame([("o1", BASE)], SCHEMA), 0, cat, cfg=cfg)
    n1 = BASE.replace("winter", "summer")
    fold_batch(spark.createDataFrame([("n1", n1)], SCHEMA), 1, cat, cfg=cfg)
    assert _clusters(spark, cat) == {"o1": "o1", "n1": n1_label}


@pytest.mark.parametrize("cap, new_labels", [
    (3, {"n1": "n1", "n2": "n2"}),
    (None, {"n1": "o1", "n2": "o1"}),
])
def test_fold_band_cap_counts_delta_pairs_with_corpus(
        spark, tmp_path, cap, new_labels):
    """Delta×delta pairs get the same combined cap as new×old ones.
    Case and whitespace variants of BASE share every band key (tokens
    are lowercased and whitespace-collapsed) but no sha, so every band
    holds all four docs, two old and two new. A delta-only count of 2
    would pair n1 and n2 at ``max_band_size=3``; the combined count of
    4 pairs nothing, so each keeps its own label."""
    cfg = DedupConfig() if cap is None else DedupConfig(max_band_size=cap)
    cat = ParquetSnapshotCatalog(tmp_path / "cat")
    fold_batch(spark.createDataFrame([("o1", BASE), ("o2", BASE.upper())],
                                     SCHEMA), 0, cat, cfg=cfg)
    fold_batch(spark.createDataFrame(
        [("n1", BASE + " "), ("n2", " " + BASE.title())], SCHEMA
    ), 1, cat, cfg=cfg)
    assert _clusters(spark, cat) == {"o1": "o1", "o2": "o1", **new_labels}


def test_identical_delta_docs_are_signed_and_their_refetch_is_not(
        spark, tmp_path):
    """Two byte-identical new docs in one fold are both signed and form
    one cluster labelled with the smaller url, so the committed rows of
    one sha share one cluster. A later fold's re-fetch of that content
    joins that label, although its url sorts first, and skips signing:
    the signatures snapshot gains no row."""
    cfg = DedupConfig()
    cat = ParquetSnapshotCatalog(tmp_path / "cat")
    fold_batch(spark.createDataFrame(INC0, SCHEMA), 0, cat, cfg=cfg)
    n_base = cat.read(spark, "signatures").count()
    page = "two identical pages of brand new words " * 8
    fold_batch(spark.createDataFrame([("d2", page), ("d1", page)], SCHEMA),
               1, cat, cfg=cfg)
    got = _clusters(spark, cat)
    assert got["d1"] == got["d2"] == "d1"
    n_signed = cat.read(spark, "signatures").count()
    assert n_signed == n_base + 2
    fold_batch(spark.createDataFrame([("c0", page)], SCHEMA), 2, cat, cfg=cfg)
    assert _clusters(spark, cat)["c0"] == "d1"
    assert cat.read(spark, "signatures").count() == n_signed
