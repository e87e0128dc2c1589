"""SimHash 64-bit fingerprints + Hamming-ball candidate lookup.

Stage 3b (complementary recall to MinHash/LSH): a document's SimHash
is the sign-vector of the sum of its shingle hashes' bit-vectors
(Charikar 2002, public). The fingerprints come from the fused
signature kernel (operators/signatures.py ``_simhash_flat``); this
module finds candidates by the pigeonhole chunk probe: split the 64
bits into ``cfg.simhash_tables`` chunks — any pair within Hamming
distance ``d < tables`` shares at least one exact chunk, so grouping
by chunk is exhaustive for the ball (no custom index needed).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from acxspark.config import DEFAULT_CONFIG, DedupConfig
from acxspark.operators.lsh import (bucket_pairs, join_back_ids, slim_ids,
                                    track_cache)


def hamming_distance(a, b) -> Column:
    """popcount(a XOR b) — JVM-side via bit_count."""
    return F.bit_count(a.bitwiseXOR(b))


def chunk_keys(sim_col, cfg: DedupConfig = DEFAULT_CONFIG) -> Column:
    """array<struct<chunk_idx:int, chunk_val:long>> of bit chunks."""
    t = cfg.simhash_tables
    width = 64 // t
    mask = (1 << width) - 1
    # t is a compile-time constant → unrolled python loop, still one
    # JVM expression tree (shift amounts must be int literals)
    return F.array(
        *[
            F.struct(
                F.lit(i).alias("chunk_idx"),
                F.shiftrightunsigned(sim_col, i * width)
                .bitwiseAND(F.lit(mask))
                .alias("chunk_val"),
            )
            for i in range(t)
        ]
    )


def simhash_candidate_pairs(df: DataFrame, id_col: str,
                            sim_col: str = "simhash",
                            cfg: DedupConfig = DEFAULT_CONFIG,
                            caches: list[DataFrame] | None = None,
                            lineage=None) -> DataFrame:
    """Pairs within Hamming distance <= cfg.simhash_max_hamming.

    Exhaustive by pigeonhole (d < tables) UP TO the hot-bucket cap.
    Skew defense mirrors the LSH tier (operators/lsh.py) exactly:

    1. chunk buckets are keyed by xxhash64(chunk_idx, chunk_val) — a
       collision across distinct chunks only ADDS candidates, which
       the exact popcount filter removes, so correctness is unaffected;
    2. buckets with > ``cfg.max_chunk_bucket`` members are dropped
       from pair generation — a recall/scale TRADEOFF: pigeonhole only
       guarantees ONE clean chunk at d < tables, so if that chunk is
       the capped one, the pair is lost from this tier and only the
       probabilistic MinHash/LSH tier can still catch it. Pass
       ``lineage`` (a :class:`acxspark.metrics.Lineage`) to record a
       ``simhash_band_rows`` counter (``total`` / ``dropped_by_cap``)
       so the drop volume is observable, not assumed (one eager count
       job at call time; the pairs are the same either way);
    3. the buckets go through the LSH tier's own kernel
       (:func:`acxspark.operators.lsh.bucket_pairs`) with the
       (id, fingerprint) struct as the member: ≤ cap × 16 B per
       buffer, one shuffle total, and the popcount filter runs on the
       emitted pairs before any pair row crosses another wire. A doc
       sits in a chunk bucket once, so the struct order IS the id
       order.
    """
    # string ids hash to 8-byte longs for the bucket shuffle and join
    # back at the end (lsh.slim_ids; the collision failure mode here
    # additionally requires the colliding pair to share a chunk bucket)
    src, key_col = slim_ids(df, id_col)
    # the fingerprint (8 bytes) rides the bucket rows, so the exact
    # Hamming check needs no rejoin against the signature frame
    keyed = (
        src.select(
            F.struct(F.col(key_col).alias("id"),
                     F.col(sim_col).alias("sim")).alias("m"),
            F.explode(chunk_keys(F.col(sim_col), cfg)).alias("c"))
        .select("m", F.xxhash64(F.col("c.chunk_idx"),
                                F.col("c.chunk_val")).alias("band_key"))
    ).persist()
    track_cache(keyed, caches)
    if lineage is not None:
        # eager scalar counter over the per-bucket sizes (keyed is
        # persisted; this also warms the cache the pair generation
        # reads): rows the hot-bucket cap silently drops — the
        # observable recall-loss signal the cap tradeoff demands. Not
        # an Observation: keyed feeds two plan branches (pre-drop
        # sample + aggregation), where a CollectMetrics node would
        # double-count or collide.
        row = (
            keyed.groupBy("band_key").agg(F.count("*").alias("band_n"))
            .agg(
                F.coalesce(F.sum("band_n"), F.lit(0)).alias("total"),
                F.coalesce(
                    F.sum(F.when(F.col("band_n") > cfg.max_chunk_bucket,
                                 F.col("band_n"))),
                    F.lit(0),
                ).alias("dropped"),
            )
            .collect()[0]
        )
        lineage.record(
            "simhash_band_rows",
            total=int(row["total"]),
            dropped_by_cap=int(row["dropped"]),
        )
    ham = hamming_distance(F.col("id_a.sim"), F.col("id_b.sim"))
    pairs = (
        bucket_pairs(keyed, "m", cap=cfg.max_chunk_bucket)
        .filter(ham <= cfg.simhash_max_hamming)
        .select(F.col("id_a.id").alias("id_a"), F.col("id_b.id").alias("id_b"),
                ham.alias("hamming"))
        .distinct()
    )
    if key_col != id_col:
        pairs = join_back_ids(pairs, df, id_col, extra_cols=("hamming",))
    return pairs
