"""Sharded Bloom-filter membership artifact for incremental dedup.

The incremental plan (plans/incremental.py) never shuffles the old
corpus, but its exact tier still SCANS the snapshot's (url, text_sha)
columns once per increment — O(|corpus|) I/O forever. This module
builds a once-per-corpus membership artifact that answers "was this
key ever committed?" in O(|delta|) with NO old-side access at all for
the (overwhelming) definitely-new majority, and a partition-prunable
confirm lookup for the fpp-sized maybe set (reference parity: the
uniqueness-at-write mutex probe, src/dedupe.cpp's seen-set, re-scaled
so the seen-set never has to fit one machine).

Design (all public building blocks):
- the key space is hash-SHARDED: shard = xxhash64(key, 2) mod
  n_shards. Each shard owns an independent Bloom bitmap sized for
  n/n_shards items, so no single bitmap ever has to fit in one task's
  memory at 10^12 keys — pick n_shards from
  :func:`shards_for` (default ~4M items/shard → ~5 MB bitmaps at 10
  bits/item; 10^12 keys = 250k shard rows, ~1.2 TB total, stored as
  an ordinary parquet table, never collected or broadcast).
- ONE 64-bit key hash rides the wire per row; the k probe positions
  derive from its two 32-bit halves by double hashing
  (Kirsch–Mitzenmacher 2006: h_i = lo + i·hi mod m preserves the
  asymptotic fpp of k independent hashes for m < 2^32).
- build: groupBy(shard).applyInPandas — each task ORs its shard's
  bits into one numpy bitmap (np.bitwise_or.at handles repeated
  positions); OR is commutative+associative and the group is the
  complete shard, so the bitmap bytes are DETERMINISTIC regardless of
  partitioning/parallelism (pytest-pinned).
- check: cogrouped applyInPandas on shard — the delta's rows and the
  one bloom row for their shard meet in a single task; membership is
  a vectorized numpy gather, never a per-row Python call, and the
  multi-MB bitmap is materialized once per task instead of being
  join-replicated onto every probe row.
- exactness: a Bloom filter has zero false negatives, so
  :func:`genuinely_new_rows` (definite-no rows pass with no old-side
  access; maybes are confirmed with an equi-join that a bucketed
  snapshot layout serves as pruned point lookups — io_paths.
  write_bucketed_by_key) returns EXACTLY the anti-join semantics.
  The driver oracle (`bloom_new_docs`) pins that equality.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_BLOOM_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.LongType()),
        T.StructField("bitmap", T.BinaryType()),
        T.StructField("n_items", T.LongType()),
        T.StructField("m_bits", T.LongType()),
        T.StructField("k", T.IntegerType()),
    ]
)

# Per-shard bitmaps must stay < 2^32 bits (512 MB) for the 32-bit
# double-hashing halves to cover every position — far above any sane
# shard sizing (shards_for targets ~5 MB).
_MAX_SHARD_BITS = 1 << 32


def shards_for(n_items: int, items_per_shard: int = 4_000_000) -> int:
    """Shard count that keeps each build group (16 B × items) and each
    bitmap (bits_per_item × items / 8) comfortably inside one task."""
    return max(1, -(-n_items // items_per_shard))


def _positions(h: np.ndarray, k: int, m: int) -> np.ndarray:
    """(len(h), k) probe positions from the two 32-bit halves of the
    64-bit key hash. hi is forced odd so the stride never degenerates
    to probing one position k times."""
    h = h.astype(np.uint64)
    lo = h & np.uint64(0xFFFFFFFF)
    hi = (h >> np.uint64(32)) | np.uint64(1)
    i = np.arange(k, dtype=np.uint64)
    return (lo[:, None] + i[None, :] * hi[:, None]) % np.uint64(m)


def _with_shard(df: DataFrame, key_col: str, n_shards: int) -> DataFrame:
    return df.select(
        F.xxhash64(F.col(key_col)).alias("_h"),
        F.pmod(F.xxhash64(F.col(key_col), F.lit(2)), F.lit(n_shards)).alias(
            "shard"
        ),
    )


def build_bloom(df: DataFrame, key_col: str, n_shards: int,
                expected_items: int | None = None,
                bits_per_item: int = 10, k: int = 7,
                m_bits: int | None = None) -> DataFrame:
    """(shard, bitmap, n_items, m_bits, k) — one row per non-empty
    shard. ``expected_items`` sizes the bitmaps (build-once artifact,
    so the default one ``count()`` action is fine); rows hash-balance
    across shards, so every shard gets m = bits_per_item × n/n_shards
    bits (rounded to whole words). Distinct keys within a shard are
    what matters for fpp; duplicate keys just re-set the same bits.
    Pass ``m_bits`` explicitly to match an EXISTING artifact's
    geometry (delta blooms must share m and k to be
    :func:`merge_blooms`-able)."""
    if m_bits is not None:
        m = m_bits
    else:
        if expected_items is None:
            expected_items = df.count()
        m = max(64, -(-bits_per_item * max(expected_items, 1) // n_shards
                      ) // 64 * 64 + 64)
    if m >= _MAX_SHARD_BITS:
        raise ValueError(
            f"shard bitmap {m} bits >= 2^32: raise n_shards "
            f"(shards_for({expected_items}))"
        )

    def fill(pdf: pd.DataFrame) -> pd.DataFrame:
        words = np.zeros(m // 64, dtype=np.uint64)
        pos = _positions(pdf["_h"].to_numpy(), k, m)
        np.bitwise_or.at(
            words,
            (pos >> np.uint64(6)).ravel().astype(np.int64),
            np.uint64(1) << (pos & np.uint64(63)).ravel(),
        )
        return pd.DataFrame(
            {
                "shard": [int(pdf["shard"].iloc[0])],
                "bitmap": [words.tobytes()],
                # distinct keys, not raw rows: fpp math reads this
                # column, and duplicate input keys don't add set bits.
                # (merge_blooms sums shard counts across deltas, so a
                # merged artifact's n_items is an UPPER bound on
                # distinct keys when deltas overlap.)
                "n_items": [int(pdf["_h"].nunique())],
                "m_bits": [m],
                "k": [k],
            }
        )

    return (
        _with_shard(df, key_col, n_shards)
        .groupBy("shard")
        .applyInPandas(fill, schema=_BLOOM_SCHEMA)
    )


def might_contain(new_df: DataFrame, key_col: str, bloom: DataFrame,
                  n_shards: int, observation=None) -> DataFrame:
    """(key_col, might_contain) for every DISTINCT key in ``new_df``.

    Cogrouped-map check: the delta shuffles by shard (the delta is the
    small side by contract); each task gets (delta rows of one shard,
    that shard's single bloom row). The artifact side is first
    semi-joined to the delta's distinct shard set, so the cogroup
    shuffles O(|delta shards|) bitmap rows, never the whole artifact.
    An absent bloom row means the shard held no committed keys —
    definite no. False negatives are impossible; ``might_contain``
    rows are wrong only at the fpp rate and only in the safe direction
    (extra confirm lookups).

    ``observation`` (optional ``pyspark.sql.Observation``) is attached
    to the pruned artifact side and reports ``bloom_shards_scanned`` —
    pytest pins that it equals the delta's touched-shard count, not
    n_shards."""
    out_schema = T.StructType(
        [
            new_df.schema[key_col],
            T.StructField("might_contain", T.BooleanType()),
        ]
    )

    def check(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty:
            return pd.DataFrame({key_col: [], "might_contain": []})
        if right.empty:
            flag = np.zeros(len(left), dtype=bool)
        else:
            words = np.frombuffer(right["bitmap"].iloc[0], dtype=np.uint64)
            m, k = int(right["m_bits"].iloc[0]), int(right["k"].iloc[0])
            pos = _positions(left["_h"].to_numpy(), k, m)
            bits = (
                words[(pos >> np.uint64(6)).astype(np.int64)]
                >> (pos & np.uint64(63))
            ) & np.uint64(1)
            flag = bits.all(axis=1)
        return pd.DataFrame({key_col: left[key_col], "might_contain": flag})

    probes = (
        new_df.select(key_col).distinct()
        .select(
            key_col,
            F.xxhash64(F.col(key_col)).alias("_h"),
            F.pmod(
                F.xxhash64(F.col(key_col), F.lit(2)), F.lit(n_shards)
            ).alias("shard"),
        )
    )
    # Prune the artifact to the delta's shards BEFORE the cogroup:
    # without this, every increment shuffles the FULL bitmap table
    # (~1.2 TB at the module's own 10^12-key sizing) even when the
    # delta touches 1% of shards. An absent bloom row already means
    # definite-no, so dropping untouched shards is semantics-free.
    # (No distinct: a semi-join build side ignores duplicate keys.)
    touched = bloom.join(
        F.broadcast(probes.select("shard")), "shard", "left_semi"
    )
    if observation is not None:
        touched = touched.observe(
            observation, F.count(F.lit(1)).alias("bloom_shards_scanned")
        )
    return (
        probes.groupBy("shard")
        .cogroup(touched.groupBy("shard"))
        .applyInPandas(check, schema=out_schema)
    )


def genuinely_new_rows(new_df: DataFrame, key_col: str, bloom: DataFrame,
                       old_keys: DataFrame, n_shards: int) -> DataFrame:
    """Rows of ``new_df`` whose key was never committed — EXACT
    anti-join semantics at O(|delta| + fpp·|delta|) old-side cost.

    Definite-no keys (the vast majority of a real crawl increment)
    never touch ``old_keys`` at all. Maybe keys — fpp·|delta| of them
    plus the true dups — are confirmed with a semi-join against
    ``old_keys``; at scale that side is the bucketed snapshot
    (io_paths.write_bucketed_by_key), so the confirm is a pruned
    point-lookup scan, not a corpus pass. The confirmed-present key
    set (≈ true-dup sized) then anti-joins the delta; AQE broadcasts
    it when small."""
    maybe = might_contain(new_df, key_col, bloom, n_shards).filter(
        F.col("might_contain")
    ).select(key_col)
    present = old_keys.select(key_col).join(maybe, key_col, "left_semi")
    return new_df.join(present, key_col, "left_anti")


def bloom_params(bloom: DataFrame,
                 allow_empty: bool = False) -> tuple[int, int] | None:
    """(m_bits, k) of an artifact, asserting it is geometry-uniform
    (every shard row must share them for probes/merges to be valid).
    One action over the slim (m_bits, k) projection of a ≤n_shards-row
    table. An artifact with zero shard rows (a delta built from an
    all-refetch increment) has no geometry of its own: None with
    ``allow_empty``, else an error."""
    rows = bloom.select("m_bits", "k").distinct().collect()
    if not rows:
        if allow_empty:
            return None
        raise ValueError("empty bloom artifact")
    if len(rows) != 1:
        raise ValueError(f"bloom artifact mixes geometries: {rows}")
    return int(rows[0]["m_bits"]), int(rows[0]["k"])


def merge_blooms(a: DataFrame, b: DataFrame,
                 geometry: tuple[int, int] | None = None) -> DataFrame:
    """Shard-wise OR of two same-geometry artifacts — how an
    incremental run folds its delta's keys into the committed
    membership state at O(|delta shards|) cost (never a corpus
    rebuild). Full-outer on shard so one-sided shards pass through;
    the OR is an Arrow-batched pandas_udf over the two bitmap columns
    (one row per shard, so the batch is a handful of MB-sized
    buffers, never per-key work). An EMPTY side (all-refetch delta)
    is geometry-compatible with anything and the merge degenerates to
    the other side's rows.

    ``geometry``: the (m_bits, k) both sides are known to share — a
    delta built by :func:`build_bloom` with the artifact's own
    :func:`bloom_params`. It skips the two verification actions (the
    second of which would evaluate the delta's build an extra time).
    Without it, both sides are checked."""
    if geometry is None:
        pa = bloom_params(a, allow_empty=True)
        pb = bloom_params(b, allow_empty=True)
        if pa is not None and pb is not None and pa != pb:
            raise ValueError("merge_blooms requires identical (m_bits, k)")

    @F.pandas_udf(T.BinaryType())
    def _or(x: pd.Series, y: pd.Series) -> pd.Series:
        def one(bx, by):
            if bx is None:
                return by
            if by is None:
                return bx
            return (
                np.frombuffer(bx, dtype=np.uint64)
                | np.frombuffer(by, dtype=np.uint64)
            ).tobytes()

        return pd.Series([one(bx, by) for bx, by in zip(x, y)])

    au = a.select(
        "shard", F.col("bitmap").alias("_ba"),
        F.col("n_items").alias("_na"), "m_bits", "k",
    )
    bu = b.select(
        "shard", F.col("bitmap").alias("_bb"),
        F.col("n_items").alias("_nb"),
        F.col("m_bits").alias("_mb"), F.col("k").alias("_kb"),
    )
    return (
        au.join(bu, "shard", "full_outer")
        .select(
            "shard",
            _or("_ba", "_bb").alias("bitmap"),
            (F.coalesce("_na", F.lit(0)) + F.coalesce("_nb", F.lit(0)))
            .alias("n_items"),
            F.coalesce("m_bits", "_mb").alias("m_bits"),
            F.coalesce("k", "_kb").alias("k"),
        )
    )
