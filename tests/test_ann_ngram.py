"""Tests for similarity search (ANN) and exact n-gram Jaccard dedup."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from acxspark.operators import ann, ngram


@pytest.fixture(scope="module")
def vectors(spark):
    """64-dim corpus with planted near-dup pairs at cosine >= 0.95."""
    rng = np.random.default_rng(7)
    rows = []
    truth = []
    vid = 0
    for _ in range(40):  # 40 base vectors, each with one near-dup twin
        v = rng.standard_normal(64)
        v /= np.linalg.norm(v)
        w = v + 0.15 * rng.standard_normal(64) / np.sqrt(64)
        w /= np.linalg.norm(w)
        rows.append((vid, [float(x) for x in v]))
        rows.append((vid + 1, [float(x) for x in w]))
        truth.append((vid, vid + 1))
        vid += 2
    for _ in range(120):  # random background
        v = rng.standard_normal(64)
        v /= np.linalg.norm(v)
        rows.append((vid, [float(x) for x in v]))
        vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    return df.cache(), truth


def test_brute_force_topk_finds_twin(vectors):
    df, truth = vectors
    queries = df.filter(F.col("vec_id") < 10)
    top = ann.brute_force_topk(df, queries, k=1).collect()
    got = {r["query_id"]: r["neighbor_id"] for r in top}
    for a, b in truth[:5]:
        assert got[a] == b and got[b] == a


def test_near_dup_pairs_threshold(vectors):
    df, truth = vectors
    pairs = {(r["id_a"], r["id_b"]) for r in ann.near_dup_pairs(df, threshold=0.9).collect()}
    planted = set(truth)
    assert planted <= pairs, f"missing {planted - pairs}"
    # background pairs must not flood in at a 0.9 threshold
    assert len(pairs) <= len(planted) + 3


def test_lsh_near_dup_recall_vs_brute_force(vectors):
    """The LSH scale path must keep >=0.95 recall of the brute-force
    truth for high-cosine (>=0.9) near-dups."""
    df, _ = vectors
    exact = {(r["id_a"], r["id_b"]) for r in ann.near_dup_pairs(df, threshold=0.9).collect()}
    got = {
        (r["id_a"], r["id_b"])
        for r in ann.lsh_near_dup_pairs(
            df, threshold=0.9, n_planes=8, n_tables=8, dim=64, seed=1
        ).collect()
    }
    assert got <= exact  # exact re-check ⇒ no false positives
    recall = len(got & exact) / max(len(exact), 1)
    assert recall >= 0.95, f"LSH recall {recall}"


def test_blocked_path_guard_raises(vectors):
    """The blocked-matmul path collects the corpus to the driver to
    build its broadcast matrix, so its row guard must be ENFORCED:
    above max_broadcast_rows it raises."""
    df, _ = vectors
    with pytest.raises(ValueError, match="max_broadcast_rows"):
        ann.near_dup_pairs_blocked(df, threshold=0.9, max_broadcast_rows=10)


def test_blocked_path_matches_brute_force(vectors):
    """Under the guard, the blocked matmul is bit-equal to the
    zip_with/aggregate brute force (same rounding)."""
    df, _ = vectors
    exact = {(r["id_a"], r["id_b"], r["sim"])
             for r in ann.near_dup_pairs(df, threshold=0.9).collect()}
    blocked = {(r["id_a"], r["id_b"], r["sim"])
               for r in ann.near_dup_pairs_blocked(df, threshold=0.9).collect()}
    assert blocked == exact


def test_ngram_jaccard_pairs_and_survivors(spark):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "THE QUICK  brown fox jumps over the lazy dog tonight"),  # ws/case var
            (3, "a completely different document about spark shuffles"),
            (4, "the quick brown fox jumps over the lazy cat tonight"),  # 1 token edit
        ],
        "doc_id long, text string",
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram.ngram_jaccard_pairs(docs, "doc_id", threshold=0.5).collect()
    }
    assert pairs[(1, 2)] == 1.0
    assert (1, 4) in pairs and pairs[(1, 4)] < 1.0
    assert all(3 not in p for p in pairs)
    survivors = sorted(
        r["doc_id"]
        for r in ngram.ngram_dedup_survivors(docs, "doc_id", threshold=0.5).collect()
    )
    assert survivors == [1, 3]  # 2 and 4 fold into 1's cluster (first-wins min id)


def test_ngram_max_doc_freq_cap(spark):
    """Grams above the doc-frequency cap are excluded from pairing —
    the idf cut that kills boilerplate skew at scale."""
    boiler = "copyright two thousand twenty six example corp"
    docs = spark.createDataFrame(
        [(i, f"unique{i} token{i} stuff{i} " + boiler) for i in range(10)],
        "doc_id long, text string",
    )
    uncapped = ngram.ngram_jaccard_pairs(docs, "doc_id", threshold=0.3).count()
    capped = ngram.ngram_jaccard_pairs(
        docs, "doc_id", threshold=0.3, max_doc_freq=5
    ).count()
    assert uncapped > 0 and capped == 0


@pytest.fixture(scope="module")
def hot_vectors(spark):
    """Corpus with one HOT LSH bucket: 24 tight copies of a single
    vector (they land in the same bucket in EVERY table) plus planted
    background twins and noise."""
    rng = np.random.default_rng(11)
    rows = []
    base = rng.standard_normal(64)
    base /= np.linalg.norm(base)
    for i in range(24):  # the hot cluster
        v = base + 0.02 * rng.standard_normal(64) / np.sqrt(64)
        v /= np.linalg.norm(v)
        rows.append((i, [float(x) for x in v]))
    vid = 100
    bg_truth = []
    for _ in range(10):  # background twins, far from the hot cluster
        v = rng.standard_normal(64)
        v /= np.linalg.norm(v)
        w = v + 0.1 * rng.standard_normal(64) / np.sqrt(64)
        w /= np.linalg.norm(w)
        rows.append((vid, [float(x) for x in v]))
        rows.append((vid + 1, [float(x) for x in w]))
        bg_truth.append((vid, vid + 1))
        vid += 2
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    return df.cache(), bg_truth


def test_lsh_bucket_pairs_match_oracle(hot_vectors):
    """The hyperplane-LSH bucket path emits EXACTLY the brute-force
    pairs over its collected (table, bucket) keys — pairs sharing a
    key whose bucket has 2..max_bucket members — under a cap that
    keeps the 24-row hot bucket and one that drops it (same contract
    as its MinHash/SimHash siblings); the cosine re-check then keeps
    exactly the oracle pairs at or above the threshold."""
    import oracles
    import pyspark.sql.functions as F

    df, _ = hot_vectors
    kw = dict(n_planes=6, n_tables=4, dim=64, seed=3)
    members = []
    for t in range(kw["n_tables"]):
        planes = ann._hyperplanes(kw["dim"], kw["n_planes"], kw["seed"] + t)
        members += [
            (r["vec_id"], (t, r["b"]))
            for r in df.select(
                "vec_id",
                ann.hyperplane_bucket(F.col("embedding"), planes).alias("b"),
            ).collect()
        ]
    vecs = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
            for r in df.collect()}

    def cos(a, b):
        va, vb = vecs[a], vecs[b]
        return float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb)))

    for cap in (200, 20):
        want = oracles.bucket_pairs(members, cap)
        every = {(r["id_a"], r["id_b"]) for r in ann.lsh_near_dup_pairs(
            df, threshold=-1.0, max_bucket=cap, **kw).collect()}
        assert every == want and len(want) > 0
        close = {(r["id_a"], r["id_b"]) for r in ann.lsh_near_dup_pairs(
            df, threshold=0.9, max_bucket=cap, **kw).collect()}
        assert close == {p for p in want if round(cos(*p), 4) >= 0.9}
    # the hot cluster's 24·23/2 pairs ride the 200 cap, not the 20 one
    assert len(oracles.bucket_pairs(members, 200)) >= 24 * 23 // 2


def test_lsh_hot_bucket_cap_engages(hot_vectors):
    """Buckets above max_bucket are dropped from pair generation: the
    hot cluster's pairs disappear, background twins survive untouched
    (they sit in cold buckets)."""
    df, bg_truth = hot_vectors
    kw = dict(threshold=0.9, n_planes=6, n_tables=4, dim=64, seed=3)
    uncapped = {(r["id_a"], r["id_b"])
                for r in ann.lsh_near_dup_pairs(df, max_bucket=1000, **kw).collect()}
    capped = {(r["id_a"], r["id_b"])
              for r in ann.lsh_near_dup_pairs(df, max_bucket=10, **kw).collect()}
    hot_pairs = {(a, b) for a in range(24) for b in range(24) if a < b}
    assert capped <= uncapped
    # every lost pair is a hot-cluster pair; background recall intact
    assert (uncapped - capped) <= hot_pairs
    assert (uncapped & set(bg_truth)) == (capped & set(bg_truth))
    # the cap drops per-BUCKET, not per-cluster: members straddling a
    # hyperplane land in small side-buckets and may still pair there —
    # but the bulk of the hot cluster's O(n²) pairs must be gone
    assert len(uncapped & hot_pairs) == 276  # 24C2: all found uncapped
    assert len(capped & hot_pairs) < 30


def test_lsh_auto_n_planes_sizing():
    """n_planes scales with corpus so bucket population stays bounded:
    log2(n/target), clamped to [4, 32]."""
    assert ann.auto_n_planes(100) == 4
    assert ann.auto_n_planes(500_000, target_bucket_rows=500) == 10
    assert ann.auto_n_planes(10**9, target_bucket_rows=500) == 21
    assert ann.auto_n_planes(10**12, target_bucket_rows=500) == 31
    assert ann.auto_n_planes(10**14, target_bucket_rows=500) == 32  # clamped


def test_lsh_auto_planes_path_recall(vectors):
    """n_planes=None (auto-sized from a count job) keeps the
    subset-of-exact property and finds pairs on a small corpus."""
    df, _ = vectors
    exact = {(r["id_a"], r["id_b"])
             for r in ann.near_dup_pairs(df, threshold=0.9).collect()}
    got = {(r["id_a"], r["id_b"])
           for r in ann.lsh_near_dup_pairs(
               df, threshold=0.9, n_planes=None, n_tables=8, dim=64, seed=1
           ).collect()}
    assert got <= exact and len(got) > 0


def test_ivf_probe_all_equals_brute_force(vectors):
    """IVF with n_probe == n_centroids is EXACT: identical to the
    brute-force top-k (the oracle anchor for the approximate path)."""
    df, _ = vectors
    cents = ann.ivf_train_centroids(df, n_centroids=8, n_iter=3, seed=5)
    assert cents.shape == (8, 64)
    queries = df.filter(F.col("vec_id") < 10)
    exact = {(r["query_id"], r["rank"], r["neighbor_id"], r["sim"])
             for r in ann.brute_force_topk(df, queries, k=3).collect()}
    ivf_all = {(r["query_id"], r["rank"], r["neighbor_id"], r["sim"])
               for r in ann.ivf_topk(df, queries, cents, k=3,
                                     n_probe=8).collect()}
    assert ivf_all == exact


def test_ivf_partial_probe_recall_and_pruning(vectors):
    """n_probe < n_centroids prunes the scanned corpus but must keep
    high top-1 recall (twins are near-identical, so query and twin
    land in the same coarse cell virtually always)."""
    df, truth = vectors
    cents = ann.ivf_train_centroids(df, n_centroids=8, n_iter=3, seed=5)
    queries = df.filter(F.col("vec_id") < 20)
    got = {r["query_id"]: r["neighbor_id"]
           for r in ann.ivf_topk(df, queries, cents, k=1, n_probe=2).collect()}
    hits = sum(1 for a, b in truth[:10] if got.get(a) == b and got.get(b) == a)
    assert hits >= 9  # >= 0.9 pairwise top-1 recall at 2/8 probes


def test_ivf_centroids_deterministic_across_partitionings(vectors):
    df, _ = vectors
    a = ann.ivf_train_centroids(df.repartition(1), n_centroids=4, n_iter=2, seed=9)
    b = ann.ivf_train_centroids(df.repartition(7), n_centroids=4, n_iter=2, seed=9)
    import numpy as np
    assert np.array_equal(a, b)


def test_ivf_partitioned_layout_prunes_partitions(vectors, tmp_path):
    """write_ivf_partitioned + cluster_col: the probe's cell filter
    lands on the PARTITION column (PartitionFilters in the plan —
    unprobed cells cost zero IO) and results equal the compute-assign
    path."""
    df, _ = vectors
    spark = df.sparkSession
    cents = ann.ivf_train_centroids(df, n_centroids=8, n_iter=3, seed=5)
    path = str(tmp_path / "ivf_corpus")
    ann.write_ivf_partitioned(df, cents, path)
    part = spark.read.parquet(path)
    queries = df.filter(F.col("vec_id") < 6)
    a = {(r["query_id"], r["rank"], r["neighbor_id"], r["sim"])
         for r in ann.ivf_topk(part, queries, cents, k=3, n_probe=2,
                               cluster_col="ivf_cluster").collect()}
    b = {(r["query_id"], r["rank"], r["neighbor_id"], r["sim"])
         for r in ann.ivf_topk(df, queries, cents, k=3, n_probe=2).collect()}
    assert a == b and len(a) > 0
    plan = (
        ann.ivf_topk(part, queries, cents, k=3, n_probe=2,
                     cluster_col="ivf_cluster")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters" in plan and "ivf_cluster" in plan


def test_near_dup_pairs_guard_raises_above_cap(vectors):
    """The brute-force oracle baseline is hard-guarded (round-4): a
    corpus above max_rows raises instead of launching an O(n²) scan."""
    df, _ = vectors
    with pytest.raises(ValueError, match="brute-force"):
        ann.near_dup_pairs(df, threshold=0.9, max_rows=10).collect()


def test_ivf_topk_string_ids(vectors):
    """ivf_topk must honor a non-integral id column end-to-end (the
    int() probe-row cast used to break string vec_ids)."""
    df, _ = vectors
    sdf = df.select(
        F.concat(F.lit("doc-"), F.col("vec_id")).alias("vec_id"), "embedding"
    )
    cents = ann.ivf_train_centroids(sdf, n_centroids=4, n_iter=2, seed=5)
    queries = sdf.filter(F.col("vec_id").isin("doc-0", "doc-1"))
    got = {(r["query_id"], r["rank"], r["neighbor_id"], r["sim"])
           for r in ann.ivf_topk(sdf, queries, cents, k=1, n_probe=4).collect()}
    exact = {(r["query_id"], r["rank"], r["neighbor_id"], r["sim"])
             for r in ann.brute_force_topk(sdf, queries, "vec_id", k=1).collect()}
    assert got == exact and len(got) == 2
