"""MinHash/LSH/SimHash unit behavior: signature determinism, Jaccard
estimation accuracy, band-key candidate generation, Hamming probe —
and the fused kernel and bucket pair generators pinned bit-exact
against the pure-Python oracles in tests/oracles.py."""

import numpy as np
import pandas as pd
import pyspark.sql.functions as F

import oracles
from acxspark.config import DedupConfig
from acxspark.operators.lsh import band_keys, candidate_pairs
from acxspark.operators.signatures import (
    _flatten, _perms, _window_poly, compute_signatures, with_signatures,
)
from acxspark.operators.simhash import simhash_candidate_pairs

CFG = DedupConfig()


def _sign(rows, num_perm=128, seed=42):
    """Signatures of rows that are already shingle hashes: with k=1
    every token hash is its own shingle."""
    return compute_signatures(pd.Series(rows), 1, num_perm, seed)


def test_minhash_deterministic():
    sh = [[1, 2, 3, 4], [1, 2, 3, 4], [9, 10, 11]]
    a = _sign(sh)["minhash"]
    b = _sign(sh)["minhash"]
    assert list(a[0]) == list(b[0]) == list(a[1])
    assert list(a[0]) != list(a[2])


def test_minhash_estimates_jaccard():
    rng = np.random.default_rng(0)
    base = list(rng.integers(0, 1 << 60, size=200))
    # true Jaccard 0.8: |A∩B|=200 shared of 250 union
    extra = list(rng.integers(0, 1 << 60, size=50))
    a_set, b_set = base, base + extra
    sigs = _sign([a_set, b_set], num_perm=256)["minhash"]
    est = np.mean(np.array(sigs[0]) == np.array(sigs[1]))
    true_j = 200 / 250
    assert abs(est - true_j) < 0.1


def test_simhash_close_for_near_texts():
    rng = np.random.default_rng(1)
    base = list(rng.integers(0, 1 << 60, size=300))
    perturbed = base[:-5] + list(rng.integers(0, 1 << 60, size=5))
    fps = _sign([base, perturbed])["simhash"]
    ham = bin((int(fps[0]) ^ int(fps[1])) & ((1 << 64) - 1)).count("1")
    assert ham <= 10


def test_lsh_finds_identical_and_skips_disjoint(spark):
    rows = [
        ("a", "the quick brown fox jumps over the lazy dog again and again"),
        ("b", "the quick brown fox jumps over the lazy dog again and again"),
        ("c", "completely different words about mountains rivers and stars xyz"),
    ]
    df = with_signatures(spark.createDataFrame(rows, ["url", "text"]), cfg=CFG)
    pairs = {(r["id_a"], r["id_b"]) for r in candidate_pairs(df, "url", cfg=CFG).collect()}
    assert ("a", "b") in pairs
    assert ("a", "c") not in pairs and ("b", "c") not in pairs


def test_band_key_count(spark):
    df = with_signatures(spark.createDataFrame([("a", "x y z w v u t s")], ["url", "text"]), cfg=CFG)
    assert band_keys(df, "url", cfg=CFG).count() == CFG.lsh_bands


def test_hot_band_cap(spark):
    # 30 identical docs: every band bucket has 30 members; cap at 10 ⇒ 0 pairs
    cfg = DedupConfig(max_band_size=10)
    rows = [(f"u{i:02d}", "same words everywhere forever and ever amen") for i in range(30)]
    df = with_signatures(spark.createDataFrame(rows, ["url", "text"]), cfg=cfg)
    assert candidate_pairs(df, "url", cfg=cfg).count() == 0


def test_simhash_candidates(spark):
    words = [f"word{i}" for i in range(240)]
    near = words[:120] + ["CHANGED"] + words[121:]  # 1 token of 240 edited
    rows = [
        ("a", " ".join(words)),
        ("b", " ".join(near)),
        ("c", " ".join(f"other{i}" for i in range(240))),
    ]
    df = with_signatures(spark.createDataFrame(rows, ["url", "text"]))
    pairs = {(r["id_a"], r["id_b"]) for r in simhash_candidate_pairs(df, "url").collect()}
    assert ("a", "b") in pairs
    assert ("a", "c") not in pairs


def _hot_chunk_docs(spark):
    """30 identical docs (one fingerprint ⇒ every chunk bucket holds
    30 members) plus 10 unique ones."""
    base = " ".join(f"tok{i}" for i in range(100))
    rows = [(f"u{i:02d}", base if i < 30 else f"unique {i} " * 40)
            for i in range(40)]
    return with_signatures(spark.createDataFrame(rows, ["url", "text"]))


def _simhash_oracle(sims, cfg):
    """Brute force over the chunk keys: pairs sharing a chunk whose
    bucket has 2..cap members, kept when hamming <= max."""
    t = cfg.simhash_tables
    width = 64 // t
    mask = (1 << width) - 1
    members = [(i, (c, ((h & oracles.M64) >> (c * width)) & mask))
               for i, h in sims.items() for c in range(t)]
    out = set()
    for a, b in oracles.bucket_pairs(members, cfg.max_chunk_bucket):
        ham = bin((sims[a] ^ sims[b]) & oracles.M64).count("1")
        if ham <= cfg.simhash_max_hamming:
            out.add((a, b, ham))
    return out


def test_simhash_bucket_pairs_match_oracle_on_hot_bucket(spark):
    """The SimHash bucket path emits EXACTLY the brute-force pairs over
    its chunk keys, on a corpus with a hot chunk bucket, with string
    ids (hashed to longs for the shuffle) and long ids, under a cap
    that keeps the hot bucket and one that drops it — and the same
    pairs with and without the ``lineage`` counter."""
    from acxspark.metrics import Lineage

    docs = _hot_chunk_docs(spark)
    for id_type, cap in [(t, c) for t in ("string", "long") for c in (100, 20)]:
        df = docs.select(
            F.expr("substring(url, 2)").cast(id_type).alias("url"), "simhash")
        sims = {r["url"]: r["simhash"] for r in df.collect()}
        cfg = DedupConfig(max_chunk_bucket=cap)
        want = _simhash_oracle(sims, cfg)
        got = {(r["id_a"], r["id_b"], r["hamming"]) for r in
               simhash_candidate_pairs(df, "url", cfg=cfg).collect()}
        lin = Lineage()
        got_lin = {(r["id_a"], r["id_b"], r["hamming"]) for r in
                   simhash_candidate_pairs(df, "url", cfg=cfg,
                                           lineage=lin).collect()}
        assert got == want == got_lin
        # the 30 identical fingerprints: kept under cap 100, dropped at 20
        hot = sum(1 for a, b, _ in want if sims[a] == sims[b])
        assert hot == (30 * 29 // 2 if cap == 100 else 0)
        assert [r["stage"] for r in lin.flush()] == ["simhash_band_rows"]


def test_simhash_hot_bucket_cap(spark):
    """Buckets above max_chunk_bucket drop out of pair generation —
    the O(bucket²) self-join cannot detonate on a degenerate chunk.
    30 identical docs, cap 10 ⇒ every chunk bucket capped ⇒ 0 pairs."""
    rows = [(f"u{i:02d}", "same words everywhere forever and ever amen")
            for i in range(30)]
    df = with_signatures(spark.createDataFrame(rows, ["url", "text"]))
    cfg = DedupConfig(max_chunk_bucket=10)
    assert simhash_candidate_pairs(df, "url", cfg=cfg).count() == 0
    # and with the cap above the bucket size, all pairs come back
    cfg2 = DedupConfig(max_chunk_bucket=100)
    assert simhash_candidate_pairs(df, "url", cfg=cfg2).count() == 30 * 29 // 2


def test_lsh_bucket_pairs_match_oracle(spark):
    """candidate_pairs emits EXACTLY the brute-force pairs over the
    collected band keys (pairs sharing a band whose bucket has 2..cap
    members), with string ids (hashed to longs for the shuffle) and
    long ids, under a cap that keeps the 40-member hot bands and one
    that drops them."""
    rows = []
    base = "the quick brown fox jumps over the lazy dog again and again extra words here"
    for i in range(40):
        rows.append((f"{i:03d}", base if i % 4 == 0 else base + f" tail {i} {i*3}"))
    texts = spark.createDataFrame(rows, "url string, text string")
    for id_type in ("string", "long"):
        df = texts.select(F.col("url").cast(id_type).alias("url"), "text")
        sigs = with_signatures(df, "text", CFG)
        keys = [(r["url"], r["band_key"])
                for r in band_keys(sigs, "url", cfg=CFG).collect()]
        for cap in (40, 20):
            cfg = DedupConfig(max_band_size=cap)
            want = oracles.bucket_pairs(keys, cap)
            got = {(r["id_a"], r["id_b"]) for r in
                   candidate_pairs(sigs, "url", "minhash", cfg).collect()}
            assert got == want and len(want) > 0


def test_bucket_pairs_respect_cap(spark):
    """Pair generation drops over-cap bands around collect_list
    (the memory guard): 30 identical docs with cap 10 ⇒ every band
    capped ⇒ 0 pairs; cap 100 ⇒ the full 30·29/2."""
    rows = [(f"u{i:02d}", "same words everywhere forever and ever amen again")
            for i in range(30)]
    df = spark.createDataFrame(rows, "url string, text string")
    sigs = with_signatures(df, "text", DedupConfig())
    low = DedupConfig(max_band_size=10)
    assert candidate_pairs(sigs, "url", "minhash", low).count() == 0
    high = DedupConfig(max_band_size=100)
    assert (candidate_pairs(sigs, "url", "minhash", high).count()
            == 30 * 29 // 2)


def test_simhash_cap_drop_counter_observable(spark):
    """The hot-bucket cap's recall loss is a recorded lineage counter
    (ADVICE r2: make drops observable, not assumed)."""
    from acxspark.metrics import Lineage

    cfg = DedupConfig(max_chunk_bucket=3)
    docs = spark.createDataFrame(
        [(str(i), "the same boilerplate sentence repeated verbatim") for i in range(8)]
        + [(str(100 + i), f"unique document number {i} about topic {i}") for i in range(3)],
        "doc_id string, text string",
    )
    sigs = with_signatures(docs, text_col="text", cfg=cfg, id_col="doc_id")
    lin = Lineage()
    simhash_candidate_pairs(sigs, "doc_id", "simhash", cfg, lineage=lin).collect()
    recs = {r["stage"]: r for r in lin.flush()}
    r = recs["simhash_band_rows"]
    # 8 identical docs share all 4 chunk buckets; cap=3 drops them all
    assert r["dropped_by_cap"] >= 8 * 4
    assert r["total"] > r["dropped_by_cap"]


# ---- fused kernel vs the per-row oracles (tests/oracles.py) --------


def _token_rows():
    rng = np.random.default_rng(5)
    rows = [rng.integers(-(1 << 63), (1 << 63) - 1, size=n, dtype=np.int64)
            for n in (0, 1, 2, 3, 4, 9, 40, 300)]
    rows.insert(3, None)
    rows.append(np.array([7, 7, 7, 7, 7, 7], dtype=np.int64))  # repeated grams
    return rows


def test_window_poly_shingles_match_oracle():
    """Window-poly shingles, per row, in window order; a row shorter
    than k gives one shingle over all its tokens, an empty or NULL row
    none."""
    rows = _token_rows()
    for k in (1, 3, 5):
        shingles, n_sh = _window_poly(*_flatten(pd.Series(rows)), k)
        got = shingles.tolist()
        pos = 0
        for r, n in zip(rows, n_sh):
            want = oracles.window_poly_shingles(
                [] if r is None else [int(x) for x in r], k)
            assert got[pos:pos + n] == want
            pos += n
        assert pos == len(got)
        short = [i for i, r in enumerate(rows)
                 if r is not None and 0 < len(r) < k]
        assert all(n_sh[i] == 1 for i in short)


def test_kperm_minhash_and_simhash_match_oracle():
    """kperm MinHash = min over DISTINCT shingles of a·x+b mod 2^64
    with the seed-pinned ``_perms``; SimHash = the byte-MSB bit vote
    over the shingle MULTISET; an empty row is I64MAX / 0."""
    rows = _token_rows()
    k, p, seed = 3, 16, 9
    a, b = _perms(p, seed)
    out = compute_signatures(pd.Series(rows), k, p, seed)
    for r, mh, sh, shl in zip(rows, out["minhash"], out["simhash"],
                              out["shingles"]):
        grams = oracles.window_poly_shingles(
            [] if r is None else [int(x) for x in r], k)
        assert [oracles.to_i64(g) for g in grams] == list(shl)
        assert list(mh) == oracles.kperm_minhash(grams, a, b)
        assert int(sh) == oracles.simhash_bytewise(grams)
    empty = compute_signatures(pd.Series([[]]), k, p, seed)
    assert list(empty["minhash"][0]) == [oracles.I64MAX] * p
    assert int(empty["simhash"][0]) == 0


def test_doc_frequency_cut_removes_grams_before_signing():
    """``drop`` signs the row as if the dropped grams were never
    there."""
    rows = [r for r in _token_rows() if r is not None and len(r) > 5]
    k, p, seed = 3, 16, 9
    a, b = _perms(p, seed)
    grams = [oracles.window_poly_shingles([int(x) for x in r], k)
             for r in rows]
    drop = np.sort(np.array([oracles.to_i64(g[0]) for g in grams],
                            dtype=np.int64))
    out = compute_signatures(pd.Series(rows), k, p, seed, drop=drop)
    dropped = {int(x) & oracles.M64 for x in drop}
    for g, mh, sh in zip(grams, out["minhash"], out["simhash"]):
        kept = [x for x in g if x not in dropped]
        assert list(mh) == oracles.kperm_minhash(kept, a, b)
        assert int(sh) == oracles.simhash_bytewise(kept)
