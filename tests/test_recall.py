"""The BASELINE.md recall gate: dup-pair recall >= 0.99 vs planted
ground truth at the frozen DedupConfig, plus idempotence and the
byte-identical-extraction determinism property
(reference src/selftest.cpp:50-69, DETERMINISM.md)."""

import pyspark.sql.functions as F
import pytest

import oracles
from acxspark.config import DEFAULT_CONFIG
from acxspark.corpus import generate, to_spark
from acxspark.plans.pipeline import extract_stage, run_pipeline

N_DOCS = 400


@pytest.fixture(scope="module")
def corpus():
    return generate(n_docs=N_DOCS, seed=42)


@pytest.fixture(scope="module")
def result(spark, corpus):
    web, tp, tc = to_spark(spark, corpus)
    res = run_pipeline(web.repartition(8), cfg=DEFAULT_CONFIG)
    clusters = {r["url"]: r["cluster_id"] for r in res.clusters.collect()}
    return res, clusters


def test_containment_matches_oracles(spark, corpus):
    """The codegen containment filter emits exactly the pairs both
    oracles — CPython's ``inner in outer`` and the suffix-array binary
    search — accept, on the planted containment fixtures
    (kind='contain'), negatives, an inner text one char under and one
    exactly at ``min_inner_chars`` (64), and an equal-length pair; and
    its physical plan contains NO Python stage."""
    from acxspark.operators.verify import containment_edges

    web, tp, _ = to_spark(spark, corpus)
    contain_truth = [
        (a, b) for a, b, k in tp.collect() if k == "contain"
    ]
    assert contain_truth, "corpus must plant containment pairs"
    # candidate pairs: the planted containment pairs + some non-pairs
    urls = [r["url"] for r in web.select("url").limit(20).collect()]
    negatives = list(zip(urls[:10], urls[10:20]))
    outer = "".join(f"w{i:03d} " for i in range(40))
    edge = [("x/outer", outer), ("x/in63", outer[5:68]),
            ("x/in64", outer[5:69]), ("x/same", outer)]
    edge_pairs = [("x/in63", "x/outer"), ("x/in64", "x/outer"),
                  ("x/outer", "x/same")]
    docs = web.select("url", "text").unionByName(
        spark.createDataFrame(edge, "url string, text string"))
    pairs = contain_truth + negatives + edge_pairs
    cand = spark.createDataFrame(pairs, "id_a string, id_b string")
    got_df = containment_edges(cand, docs, "url")
    got = {(r["id_a"], r["id_b"]) for r in got_df.collect()}

    text = {r["url"]: r["text"] for r in docs.collect()}
    scan = {(a, b) for a, b in pairs
            if oracles.contains_scan(text[a], text[b])}
    sa = {(a, b) for a, b in pairs
          if oracles.contains_suffix_array(text[a], text[b])}
    assert got == scan == sa
    assert set(contain_truth) <= got  # planted pairs all detected
    assert ("x/in63", "x/outer") not in got
    assert {("x/in64", "x/outer"), ("x/outer", "x/same")} <= got

    plan = got_df._jdf.queryExecution().executedPlan().toString()
    for marker in ("FlatMapGroupsInPandas", "MapInPandas", "ArrowEvalPython",
                   "BatchEvalPython"):
        assert marker not in plan, marker


def test_recall_gate(result, corpus):
    """>= 0.99 of planted truth pairs end up in the same cluster."""
    _, clusters = result
    tp = corpus.truth_pairs
    hit = sum(clusters[a] == clusters[b] for a, b in zip(tp.url_a, tp.url_b))
    recall = hit / len(tp)
    assert recall >= 0.99, f"recall={recall:.4f} over {len(tp)} truth pairs"


def test_precision_sane(result, corpus):
    """Docs from different planted clusters should rarely merge: the
    verification tier (exact Jaccard at τ) keeps precision high."""
    _, clusters = result
    truth = dict(zip(corpus.truth_clusters.url, corpus.truth_clusters.cluster_id))
    from collections import defaultdict

    by_cluster = defaultdict(set)
    for url, cid in clusters.items():
        by_cluster[cid].add(truth[url])
    merged_wrong = sum(1 for s in by_cluster.values() if len(s) > 1)
    assert merged_wrong / max(len(by_cluster), 1) < 0.02


def test_all_docs_labeled(result):
    res, clusters = result
    assert len(clusters) == N_DOCS


def test_idempotence(spark, result, corpus):
    """Re-running the pipeline on its own survivor set yields zero new
    merges (reference determinism-check parity, src/selftest.cpp:50-69)."""
    res, _ = result
    web, _, _ = to_spark(spark, corpus)
    survivors = web.join(res.survivors.select("url"), "url", "left_semi")
    res2 = run_pipeline(survivors, cfg=DEFAULT_CONFIG)
    n_in = res.survivors.count()
    n_out = res2.survivors.count()
    # near-dup edges across distinct planted clusters may survive one
    # round (borderline τ); idempotence demands a fixpoint, allow <=1% drift
    assert n_out >= n_in * 0.99


def test_extraction_byte_identical(spark, corpus):
    """extract(html) == text per url, across two parallelism layouts
    (input_hint invariant)."""
    web, _, _ = to_spark(spark, corpus)
    for parts in (2, 13):
        ext = extract_stage(web.repartition(parts))
        bad = ext.filter(F.col("extracted_text") != F.col("text")).count()
        assert bad == 0


def test_deterministic_clusters_across_runs(spark, corpus):
    web, _, _ = to_spark(spark, corpus)
    r1 = run_pipeline(web.repartition(4), cfg=DEFAULT_CONFIG)
    r2 = run_pipeline(web.repartition(11), cfg=DEFAULT_CONFIG)
    c1 = sorted(map(tuple, r1.clusters.collect()))
    c2 = sorted(map(tuple, r2.clusters.collect()))
    assert c1 == c2


def test_dfcut_noop_threshold_identical_signatures(spark, corpus):
    """shingle_max_doc_freq=1.0 (no gram exceeds 100% of docs) must
    reproduce the default path's signatures EXACTLY — proves the
    df-cut kernel branch and the shingle.py gram column agree with the
    fused kernel."""
    from acxspark.config import DedupConfig
    from acxspark.operators.signatures import with_signatures

    web, _, _ = to_spark(spark, corpus)
    docs = web.select("url", F.col("text")).limit(150)
    base = with_signatures(docs, text_col="text", cfg=DedupConfig(),
                           id_col="url").collect()
    cut = with_signatures(docs, text_col="text",
                          cfg=DedupConfig(shingle_max_doc_freq=1.0),
                          id_col="url").collect()
    b = {r["url"]: (r["shingles"], r["minhash"], r["simhash"]) for r in base}
    c = {r["url"]: (r["shingles"], r["minhash"], r["simhash"]) for r in cut}
    assert b == c


def test_dfcut_recall_gate_holds(spark, corpus):
    """With the doc-frequency cut ON (drop grams in >20% of docs —
    aggressive), planted dup-pair recall must still clear the 0.99
    gate: boilerplate grams carry no dup signal, informative grams do."""
    web, tp, _ = to_spark(spark, corpus)
    from acxspark.config import DedupConfig

    cfg = DedupConfig(shingle_max_doc_freq=0.2)
    res = run_pipeline(web.repartition(8), cfg=cfg)
    clusters = {r["url"]: r["cluster_id"] for r in res.clusters.collect()}
    pairs = list(zip(corpus.truth_pairs.url_a, corpus.truth_pairs.url_b))
    hit = sum(clusters[a] == clusters[b] for a, b in pairs)
    recall = hit / len(pairs)
    res.release()
    assert recall >= 0.99, f"df-cut recall {recall}"


def test_dfcut_drops_hot_grams_and_shrinks_candidates(spark):
    """Grams above the cut disappear from the shingle arrays, and the
    LSH candidate count on a boilerplate-heavy corpus drops."""
    from acxspark.config import DedupConfig
    from acxspark.operators.lsh import candidate_pairs
    from acxspark.operators.signatures import hot_shingle_hashes, with_signatures

    boiler = ("all rights reserved copyright terms of service privacy "
              "policy contact us about careers press blog help center ")
    rows = [(f"u{i}", boiler * 3 + f"unique content {i} alpha{i} beta{i} "
             f"gamma{i} delta{i} epsilon{i}") for i in range(40)]
    docs = spark.createDataFrame(rows, "url string, text string")
    cfg = DedupConfig(shingle_max_doc_freq=0.5)
    hot = hot_shingle_hashes(docs, "text", cfg)
    assert len(hot) > 0  # boilerplate grams are hot
    cut_sigs = with_signatures(docs, text_col="text", cfg=cfg, id_col="url")
    hot_set = set(int(h) for h in hot)
    for r in cut_sigs.collect():
        assert not (set(r["shingles"]) & hot_set)
    base_sigs = with_signatures(docs, text_col="text", cfg=DedupConfig(),
                                id_col="url")
    n_base = candidate_pairs(base_sigs, "url", "minhash", DedupConfig()).count()
    n_cut = candidate_pairs(cut_sigs, "url", "minhash", cfg).count()
    assert n_cut < n_base, (n_cut, n_base)


def test_dfcut_sampled_estimation_finds_hot_grams(spark):
    """df_sample_mod>1 estimates gram doc-frequency on a deterministic
    content-keyed sample: hot boilerplate grams are still found, and
    the sample is partition-independent (same hot set at 1 vs 8
    partitions)."""
    from acxspark.config import DedupConfig
    from acxspark.operators.signatures import hot_shingle_hashes

    boiler = ("all rights reserved copyright terms of service privacy "
              "policy contact us about careers press blog help center ")
    rows = [(f"u{i}", boiler * 2 + f"unique tail {i} alpha{i} beta{i}")
            for i in range(200)]
    docs = spark.createDataFrame(rows, "url string, text string")
    cfg = DedupConfig(shingle_max_doc_freq=0.5, df_sample_mod=3)
    hot_1p = hot_shingle_hashes(docs.coalesce(1), "text", cfg)
    hot_8p = hot_shingle_hashes(docs.repartition(8), "text", cfg)
    assert len(hot_1p) > 0
    assert list(hot_1p) == list(hot_8p)  # content-keyed ⇒ layout-proof
    exact = hot_shingle_hashes(docs, "text",
                               DedupConfig(shingle_max_doc_freq=0.5))
    # boilerplate grams sit at df=1.0 — any sane sample finds them all
    assert set(exact) <= set(hot_1p) | set(exact)
    assert set(hot_1p) == set(exact)


@pytest.mark.slow
def test_recall_gate_sf01_scale(spark):
    """The 0.99 recall gate at sf0.1-class corpus size (5000 docs —
    the scale bench.py runs at). Pins the frozen DedupConfig's LSH
    band/row budget AT SCALE: fixture-scale recall can pass while a
    too-small band count starts missing pairs as the corpus (and hash
    collision surface) grows 12×."""
    big = generate(n_docs=5000, seed=1234)
    web, tp, _ = to_spark(spark, big)
    res = run_pipeline(web.repartition(16), cfg=DEFAULT_CONFIG)
    clusters = {r["url"]: r["cluster_id"] for r in res.clusters.collect()}
    pairs = list(zip(big.truth_pairs.url_a, big.truth_pairs.url_b))
    hit = sum(clusters[a] == clusters[b] for a, b in pairs)
    recall = hit / len(pairs)
    res.release()
    assert recall >= 0.99, f"sf0.1-scale recall={recall:.4f} over {len(pairs)}"


@pytest.mark.slow
def test_embedding_lsh_complete_at_sf01(spark):
    """ann_lsh_near_dup's oracle promise, pinned by CI: 32 hyperplane
    tables × 4 planes emit EXACTLY the brute-force cosine>=0.5 pair
    set on the sf0.1 embeddings (2000 vecs). 8 tables measurably miss
    borderline pairs at this scale — this test is what keeps the
    table count from regressing to a fixture-tuned value."""
    import os

    from acxspark.operators import ann

    path = "/root/testdata/sf0.1/embeddings.parquet"
    if not os.path.exists(path):
        pytest.skip("sf0.1 testdata absent")
    e = spark.read.parquet(path)
    exact = {(r["id_a"], r["id_b"], r["sim"]) for r in ann.near_dup_pairs_blocked(
        e, "vec_id", "embedding", threshold=0.5).collect()}
    lsh = {(r["id_a"], r["id_b"], r["sim"]) for r in ann.lsh_near_dup_pairs(
        e, "vec_id", "embedding", threshold=0.5, n_planes=4,
        n_tables=32).collect()}
    assert lsh == exact, (len(lsh), len(exact))


_BOILER = ("all rights reserved copyright terms of service privacy "
           "policy contact us about careers press blog help center ")


def _dfcut_doc(i: int, w: str = "winter") -> str:
    # boilerplate + ~80 doc-unique tokens (so only the BOILERPLATE is
    # corpus-hot); a one-word edit stays well above the Jaccard
    # threshold
    words = " ".join(f"tok{i}x{j}" for j in range(75))
    return _BOILER * 3 + f"story {i} begins {words} under a pale {w} sky "


def _dfcut_base(spark, tmp_path):
    """A 30-doc base committed with shingle_max_doc_freq=0.5."""
    from acxspark.catalog import ParquetSnapshotCatalog
    from acxspark.config import DedupConfig

    cfg = DedupConfig(shingle_max_doc_freq=0.5)
    cat = ParquetSnapshotCatalog(tmp_path / "cat")
    web = spark.createDataFrame([(f"u{i}", _dfcut_doc(i)) for i in range(30)],
                                "url string, text string")
    run_pipeline(web, cfg=cfg, catalog=cat).release()
    assert cat.has("hot_shingles")  # the base committed its drop set
    return cfg, cat


def test_dfcut_incremental_uses_committed_hot_set(spark, tmp_path):
    """Increments must sign their delta with the BASE corpus's
    committed drop set: a boilerplate gram that is corpus-hot but
    absent from the delta would otherwise survive in the delta's
    signatures, breaking band collisions against the snapshot. The
    committed hot_shingles snapshot carries the set across runs; a
    delta near-dup of a committed doc must still join its cluster."""
    from acxspark.plans.incremental import run_incremental

    cfg, cat = _dfcut_base(spark, tmp_path)

    # delta: near-dup of u3 (one-word edit). In the 2-doc delta the
    # boilerplate sits at df=0.5 — NOT hot by delta-local counting —
    # so only the committed corpus set cuts it; signing the delta
    # with delta-local frequencies would keep the boilerplate grams
    # and dilute the Jaccard against u3's committed signature
    delta = spark.createDataFrame(
        [("d1", _dfcut_doc(3, "summer")),
         ("d2", "entirely new content " * 15)],
        "url string, text string",
    )
    inc = run_incremental(delta, cat, cfg=cfg)
    got = {r["url"]: r["cluster_id"] for r in inc.assignments.collect()}
    inc.release()
    assert got["d1"] == "u3"   # near-dup found against the snapshot
    assert got["d2"] == "d2"


def test_dfcut_second_fold_still_uses_committed_hot_set(spark, tmp_path,
                                                        capsys):
    """A fold recommits the signatures snapshot; the fold after it
    must still find the base's drop set coherent and sign its delta
    with it. The committed shingles of fold 2's delta doc equal a
    signing with the committed set, and no fallback is announced."""
    import numpy as np

    from acxspark.operators.signatures import with_signatures
    from acxspark.plans.incremental import run_incremental

    cfg, cat = _dfcut_base(spark, tmp_path)
    schema = "url string, text string"
    run_incremental(spark.createDataFrame(
        [("d1", _dfcut_doc(3, "summer")), ("d2", "entirely new content " * 15)],
        schema), cat, cfg=cfg).release()
    capsys.readouterr()
    # the base stamp rides nested: top-level stamp keys would let the
    # batch plan resume from this folded snapshot as a fresh base
    meta = cat.latest_meta("signatures")
    assert "config" not in meta and meta["base"]["config"] == cfg.fingerprint()

    # as in the single-fold test, the boilerplate is NOT hot by
    # delta-local counting: only the committed set cuts it
    delta2 = spark.createDataFrame(
        [("e1", _dfcut_doc(5, "autumn")), ("e2", "other fresh words " * 15)],
        schema)
    inc = run_incremental(delta2, cat, cfg=cfg)
    got = {r["url"]: r["cluster_id"] for r in inc.assignments.collect()}
    inc.release()
    assert "falling back" not in capsys.readouterr().err
    assert got["e1"] == "u5"

    hot = np.sort(np.array(
        [r["h"] for r in cat.read(spark, "hot_shingles").collect()],
        dtype=np.int64))
    want = with_signatures(delta2.filter(F.col("url") == "e1"), cfg=cfg,
                           hot_hashes=hot).collect()[0]["shingles"]
    committed = (cat.read(spark, "signatures").filter(F.col("url") == "e1")
                 .collect()[0]["shingles"])
    assert committed == want
