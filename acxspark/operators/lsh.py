"""LSH banding → candidate pairs, with explicit hot-band skew control.

Stage 3: split each MinHash signature into ``bands`` bands of ``rows``
values; hash each band to a 64-bit band key; documents sharing any
band key become candidate pairs (reference README.md:119's
``--similarity`` surface, realized).

Skew (SURVEY.md §7.3 item 3): boilerplate web text concentrates a few
band keys into huge buckets; naive pair generation is O(n²) in the
hottest key. Defenses, in order:
1. cap: bands with > ``cfg.max_band_size`` members are dropped from
   pair generation (a doc in a capped band still meets its dups in the
   other bands — with 32 bands the recall loss is negligible and
   measured by the recall gate);
2. pairs are generated by grouping the capped band members and
   emitting the triangular pairs map-side — the cap bounds every task
   at cap²/2 emissions, so there is no reducer for a hot key to
   overwhelm (skew-free by construction). Only map-side pruned columns
   ride the shuffle (8-byte hashed doc id + band key — never text,
   urls, or signatures).

The SimHash and hyperplane-ANN tiers share this machinery
(:func:`huge_band_keys`, :func:`bucket_pairs`, :func:`slim_ids`,
:func:`join_back_ids`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from acxspark.config import DEFAULT_CONFIG, DedupConfig


def band_struct_col(sig_col, cfg: DedupConfig = DEFAULT_CONFIG):
    """array<struct<band_idx, band_key>> column expression over a
    MinHash signature — shared by the batch explode (band_keys) and
    the streaming near-dup flagger (streaming/stream_ops.py).

    band_key = xxhash64(band_idx, slice(sig)) — xxhash64 hashes the
    long-array slice directly; band_idx in the hash keeps keys from
    different bands out of each other's buckets. NO string building:
    an earlier concat_ws-of-casts variant allocated O(bands × rows)
    strings per doc and was GC-bound at local[32] (measured 4.5×
    anti-scaling on this exact stage)."""
    r = cfg.lsh_rows
    c = F.col(sig_col) if isinstance(sig_col, str) else sig_col
    return F.transform(
        F.sequence(F.lit(0), F.lit(cfg.lsh_bands - 1)),
        lambda bi: F.struct(
            bi.alias("band_idx"),
            F.xxhash64(bi, F.slice(c, bi * r + 1, r)).alias("band_key"),
        ),
    )


def band_keys(df: DataFrame, id_col: str, sig_col: str = "minhash",
              cfg: DedupConfig = DEFAULT_CONFIG) -> DataFrame:
    """Explode the signature into (id, band_idx, band_key) — JVM-side
    (see :func:`band_struct_col` for the key construction)."""
    return (
        df.select(F.col(id_col), F.explode(band_struct_col(sig_col, cfg)).alias("b"))
        .select(id_col, F.col("b.band_idx").alias("band_idx"), F.col("b.band_key").alias("band_key"))
    )


_BAND_CACHES: list[DataFrame] = []


def track_cache(df: DataFrame, caches: list[DataFrame] | None) -> DataFrame:
    """Register a persisted intermediate for later release: in the
    caller's ``caches`` list when given, else the module registry
    drained by :func:`release_band_caches`. Shared contract for every
    operator that persists band/bucket rows (LSH candidate_pairs,
    SimHash simhash_candidate_pairs)."""
    (caches if caches is not None else _BAND_CACHES).append(df)
    return df


def release_band_caches() -> None:
    """Unpersist every band/bucket-rows cache registered via
    :func:`track_cache` by calls that did not pass ``caches`` (LSH
    *and* SimHash tiers). Library sessions that generate candidate
    pairs repeatedly should release between runs — cached partitions
    otherwise accumulate until memory pressure evicts them."""
    while _BAND_CACHES:
        _BAND_CACHES.pop().unpersist()


def candidate_pairs(df: DataFrame, id_col: str, sig_col: str = "minhash",
                    cfg: DedupConfig = DEFAULT_CONFIG,
                    caches: list[DataFrame] | None = None) -> DataFrame:
    """Distinct candidate (id_a < id_b) pairs from shared band keys.

    Groups the capped band rows by band_key, collects the member ids
    (the over-cap pre-drop plus the post-aggregation cap bound every
    array by ``cfg.max_band_size`` — 200 ids ≈ 1.6 KB), and emits the
    triangular pairs map-side with a double explode. One shuffle of
    the band rows total; the worst task emits cap²/2 ≈ 20k pairs, so
    no salting is needed — the cap IS the skew bound."""
    src, key_col = slim_ids(df, id_col)
    # persisted: the exploded band rows feed BOTH the sampled hot-band
    # pre-drop and the pair generation — without the cache the explode
    # (bands × corpus rows) runs per consumer. The handle lands in
    # ``caches`` (caller releases) or the module registry
    # (release_band_caches()) so repeated calls don't leak cache.
    # band_idx is dropped before the persist (round 4): it exists only
    # inside the band-key hash — carrying it through the cache and
    # every shuffle paid 4-8 B × bands × corpus rows for nothing.
    # Re-deriving the explode per consumer instead of caching measured
    # slower at bench scale (BENCH/r5_lsh_ab.json, 160k/32c: 24.2 s vs
    # 18.7 s): it re-reads the WIDE signature cache (shingle arrays
    # ride it) once per consumer.
    bk = band_keys(src, key_col, sig_col, cfg).select("band_key", key_col)
    bk = track_cache(bk.persist(), caches)
    # ONE full-volume shuffle total. Measured at 1.28M docs / 41M band
    # rows: ~90% of band keys are singletons, so an exact pre-count (a
    # second full-volume shuffle — the partial agg barely combines when
    # nearly every key is distinct) costs as much as the collect itself
    # and found 0 over-cap bands; bucket_pairs' sampled pre-drop buys
    # the same buffer guard for 1% of the volume.
    pairs = bucket_pairs(bk, key_col, cap=cfg.max_band_size).distinct()
    if key_col != id_col:
        pairs = join_back_ids(pairs, df, id_col)
    return pairs


def slim_ids(df: DataFrame, id_col: str) -> tuple[DataFrame, str]:
    """``(df, key column)`` for the bucket shuffle: STRING ids (urls
    ~40-80 B) would ride every band row through the pair-generation
    shuffle ``bands``× per doc, so they get an 8-byte xxhash64 key
    column ``_acx_hid`` and the caller joins its distinct pairs back to
    the originals at the end (:func:`join_back_ids`): band-shuffle
    bytes drop ~4× (the dominant byte mover of the whole pipeline), for
    two id-join shuffles over the (small) pair set + the (id, hash)
    projection. Any other id type is its own key.

    A 64-bit collision can only LOSE a pair when the two colliding
    urls are themselves a true dup pair (their hids compare equal and
    the triangular filter drops them) — P ≈ dup_pairs × 2⁻⁶⁴, ~5e-8
    expected losses at 10^12 docs — and can only ADD candidates
    otherwise (the join-back fans out), which the downstream exact
    verify filters."""
    if isinstance(df.schema[id_col].dataType, StringType):
        return df.withColumn("_acx_hid", F.xxhash64(F.col(id_col))), "_acx_hid"
    return df, id_col


def join_back_ids(pairs: DataFrame, df: DataFrame, id_col: str,
                  extra_cols: tuple[str, ...] = ()) -> DataFrame:
    """Resolve (id_a, id_b) pairs of xxhash64(id) longs back to the
    original string ids via two equi-joins against the (hash, id)
    projection of ``df``, re-normalizing the pair orientation (hash
    order ≠ string order). ``extra_cols`` are carried through
    untouched (e.g. a precomputed hamming/sim column)."""
    d = df.select(F.xxhash64(F.col(id_col)).alias("_h"),
                  F.col(id_col).alias("_orig"))
    keep = [F.least("_oa", "_ob").alias("id_a"),
            F.greatest("_oa", "_ob").alias("id_b"),
            *[F.col(c) for c in extra_cols]]
    return (
        pairs
        .join(d.select(F.col("_h").alias("id_a"), F.col("_orig").alias("_oa")),
              "id_a")
        .join(d.select(F.col("_h").alias("id_b"), F.col("_orig").alias("_ob")),
              "id_b")
        .select(*keep)
    )


def huge_band_keys(bk: DataFrame, cap: int,
                   fraction: float = 0.01, seed: int = 7) -> DataFrame:
    """Band keys big enough to threaten an aggregation buffer, found
    from a Bernoulli row sample instead of an exact full-volume count.

    Detection threshold: ``max(50, 4 × cap × fraction)`` sampled rows.
    A sampled count of s implies ≥ s true members, and for any band
    with n ≳ 25 × cap the probability of slipping under the threshold
    is Chernoff-negligible (n = 10⁴ at the defaults: P < 10⁻⁶ — and a
    missed band that size buffers 80 KB, not a problem; a genuinely
    catastrophic 10⁸-member boilerplate band oversamples the threshold
    by 10⁴×). Conversely a band at exactly the cap (200 default) would
    need ≥ 50 successes from Binomial(200, 0.01) to be dropped here —
    P ≈ 10⁻⁸⁰ — so the pre-drop only ever removes bands the exact
    post-agg cap filter (:func:`bucket_pairs`) would drop anyway, and
    the output is identical to an exact pre-count at 1% of its cost."""
    smin = max(50, int(4 * cap * fraction))
    return (
        bk.sample(fraction=fraction, seed=seed)
        .groupBy("band_key").agg(F.count("*").alias("n_s"))
        .filter(F.col("n_s") >= smin)
        .select("band_key")
    )


def bucket_pairs(rows: DataFrame, id_col: str, cap: int) -> DataFrame:
    """All (id_a < id_b) pairs sharing a band_key whose bucket holds at
    most ``cap`` ids, via groupBy-collect + map-side double explode.
    The aggregation buffer is one array of ids per band key: the
    catastrophic bands are pre-dropped from a 1% sample
    (:func:`huge_band_keys`, a broadcast anti-join) — any band big
    enough to threaten a buffer (≫ cap) is detected with
    near-certainty, a missed marginal band buffers a few × cap × 8 B,
    and every pre-dropped band is (overwhelmingly) over cap — and the
    exact cap is enforced post-agg, so the output equals an exact
    pre-count's. ``rows`` is read twice (sample + aggregation), so
    callers pass it persisted. Pair emission (≤ cap²/2 rows from one
    task) happens after the shuffle, inside whole-stage codegen — no
    join.

    Within one band key each id appears at most once (a doc emits one
    row per band and band_idx is folded into the key hash), so the
    ``id_a < id_b`` filter yields each unordered pair exactly once per
    shared band; duplicates across bands are the caller's distinct."""
    kept = rows.join(F.broadcast(huge_band_keys(rows, cap)), "band_key",
                     "left_anti")
    n_ids = F.size(F.col("ids"))
    grouped = (
        kept.groupBy("band_key")
        .agg(F.collect_list(F.col(id_col)).alias("ids"))
        .filter((n_ids >= 2) & (n_ids <= cap))
    )
    return (
        grouped.select(F.col("ids"), F.explode("ids").alias("id_a"))
        .select(F.col("id_a"), F.explode("ids").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
    )
