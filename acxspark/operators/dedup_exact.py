"""Exact deduplication — order-stable first-wins, OR-key transitive.

Parity with the reference's three exact tiers:

1. ``first_wins``: reference ``acx dedupe`` (src/cli.cpp:289-308) —
   stream order, first occurrence of a key wins, rows with a NULL key
   always kept. Under distribution "stream order" needs an explicit
   ordinal column (SURVEY §7.3.1): winner = row_number() over
   (partition by key order by seq) == 1 — NOT bare dropDuplicates,
   whose winner is partition-placement-dependent.

2. ``exact_star_edges``: content identity via sha2(text, 256) — the
   exact tier of the web pipeline and of the crawl fold, as star edges
   from each hash group's min url. Only (url, hash) shuffles; the
   text column never does.

3. ``or_key_components``: reference import dedup treats email-dup OR
   phone-dup as the same identity (src/storage.cpp:562-570) — a
   transitive closure, routed through ``connected_components`` (the
   package's one union-find, which also owns the slim 8-byte vertex
   rule of its distributed rounds) over the bipartite record↔key
   graph (SURVEY §7.3.2); vertex tags make CC's min-id label the min
   record id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from acxspark.operators.cc import FIRST, SECOND, connected_components
from acxspark.operators.cc import has_tag, tag, untag

# id types where unary minus is a valid order-reversal (keep_best)
_NUMERIC_TYPES = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)


def first_wins(df: DataFrame, key_col: str, seq_col: str) -> DataFrame:
    """Keep the first-by-seq row per key; NULL keys always survive
    (reference src/cli.cpp:303-304: unparseable lines pass through).

    NULL-key rows are routed AROUND the window: partitionBy sends all
    NULL keys to one partition, so a corpus that is 10% unparseable
    would sort 10^11 rows in a single task just to filter them back
    in. The bypass union keeps the window's input null-free."""
    with_key = df.filter(F.col(key_col).isNotNull())
    null_key = df.filter(F.col(key_col).isNull())
    w = Window.partitionBy(key_col).orderBy(F.col(seq_col).asc())
    winners = (
        with_key.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    return winners.unionByName(null_key)


def sha_groups(hashed: DataFrame) -> DataFrame:
    """(text_sha, min_url, n): one row per content hash of ``hashed``
    (url, text_sha) — its first-wins representative and its size."""
    return hashed.groupBy("text_sha").agg(
        F.min("url").alias("min_url"), F.count("*").alias("n")
    )


def exact_star_edges(hashed: DataFrame,
                     groups: DataFrame | None = None) -> DataFrame:
    """Exact-content edges (id_a = min url of a content hash, id_b =
    every other url with it) over ``hashed`` (url, text_sha) — the
    exact tier of the batch plan and the crawl fold. ``groups``:
    ``sha_groups(hashed)`` when the caller reuses it.

    Stars by groupBy-min + join, not cliques: a 10^6-copy page costs
    10^6 edges, not 10^12, and no group is collected into one
    aggregation buffer. CC labels a star as it would the clique."""
    if groups is None:
        groups = sha_groups(hashed)
    return (
        hashed.join(groups.filter(F.col("n") > 1), "text_sha")
        .filter(F.col("url") != F.col("min_url"))
        .select(F.col("min_url").alias("id_a"), F.col("url").alias("id_b"))
    )


def or_key_components(df: DataFrame, id_col: str, key_cols: list[str],
                      small_graph_cap: int = 1_000_000) -> DataFrame:
    """Transitive OR-key identity → (id, cluster_id).

    Build bipartite edges record→key for each non-null key and run CC.
    Records carry CC's FIRST vertex tag and keys (``col:value``) its
    SECOND, so every record sorts before every key; since every
    component holds a record, CC's min-id label IS the min record id
    of the component. The record rows are kept, tags stripped.
    ``connected_components`` picks its own physical path: the driver
    union-find up to ``small_graph_cap`` edge rows, the distributed
    star-join beyond, where the string vertices ride the rounds as
    8-byte hashes and the labels still come from the original (tagged)
    strings.
    """
    rid = tag(FIRST, F.col(id_col).cast("string"))
    edges = None
    for kc in key_cols:
        key = F.concat(F.lit(f"{kc}:"), F.col(kc).cast("string"))
        e = df.select(rid.alias("u"), tag(SECOND, key).alias("v")).filter(
            F.col(kc).isNotNull() & (F.col(kc).cast("string") != "")
            # a NULL record id is no vertex on any CC path
            & F.col(id_col).isNotNull())
        edges = e if edges is None else edges.union(e)
    comp = connected_components(edges, small_graph_cap=small_graph_cap)
    return comp.filter(has_tag(FIRST, "u")).select(
        untag("u").alias(id_col), untag("component").alias("cluster_id"),
    )


def keep_best(
    df: DataFrame,
    key_col: str,
    score_col: str,
    id_col: str,
) -> DataFrame:
    """Best-scoring survivor per duplicate group — the
    quality-weighted alternative to first-wins (a crawl pipeline keeps
    the BEST capture of a page, not the first seen; reference
    semantics src/cli.cpp:289-308 keep-first, generalized).

    One row per ``key_col``: highest ``score_col``, ties to the LOWEST
    ``id_col`` (deterministic). Skew-safe argmax: map-side-combinable
    aggregations only — a 10^6-copy hot page forwards one candidate
    per partition, where the window formulation (`row_number over
    partitionBy(key)`) would move every copy to one reducer (same
    device as dedup_by_canonical_url, functions/url.py).

    Two physical shapes, same semantics:
      * numeric ``id_col`` → ONE ``max(struct(score, -id))`` agg
        (negation reverses the id order inside the struct compare);
      * any other id type (string urls, uuids) → unary minus on the id
        is NULL/ANSI-error, so: agg-1 finds max score per key, then a
        semi-filtering join + ``min(id)`` agg picks the lowest id among
        the max-score ties. Two shuffles, both partial-combined.
    """
    id_type = df.schema[id_col].dataType
    if isinstance(id_type, _NUMERIC_TYPES):
        pick = F.max(
            F.struct(
                F.col(score_col).alias("s"), (-F.col(id_col)).alias("neg_id")
            )
        ).alias("_pick")
        return (
            df.select(key_col, score_col, id_col)
            .groupBy(key_col)
            .agg(pick, F.count("*").alias("n_dups"))
            .select(
                key_col,
                (-F.col("_pick.neg_id")).alias(id_col),
                F.col("_pick.s").alias(score_col),
                "n_dups",
            )
        )
    slim = df.select(key_col, score_col, id_col)
    best = slim.groupBy(key_col).agg(
        F.max(score_col).alias(score_col), F.count("*").alias("n_dups")
    )
    return (
        slim.join(best, [key_col, score_col])
        .groupBy(key_col, score_col, "n_dups")
        .agg(F.min(id_col).alias(id_col))
        .select(key_col, id_col, score_col, "n_dups")
    )
