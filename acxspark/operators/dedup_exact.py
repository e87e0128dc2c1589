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
   package's one union-find) over the bipartite record↔key graph
   (SURVEY §7.3.2); vertex tags make CC's min-id label the min record
   id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from acxspark.operators.cc import connected_components

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
                      hash_nodes: bool = True,
                      small_graph_cap: int = 1_000_000) -> DataFrame:
    """Transitive OR-key identity → (id, cluster_id).

    Build bipartite edges record→key for each non-null key and run CC.
    Record vertices are tagged ``"\\x00" + id`` and key vertices
    ``"\\x01col:value"``, so every record sorts before every key; since
    every component holds a record, CC's min-id label IS the min record
    id of the component. The record rows are kept and the one-char tag
    is stripped from both columns. ``connected_components`` picks its
    own physical path: the driver union-find up to
    ``small_graph_cap`` edge rows, the distributed star-join beyond.

    With ``hash_nodes`` (default) a graph over the cap (one
    short-circuit ``limit(cap+1).count()`` probe) instead rides CC's
    O(log n) rounds of groupBy+join as 8-byte xxhash64 longs rather
    than full strings (emails/urls 30–80 B — ~5× the per-round
    shuffle), the same slim-id device as lsh.py's band shuffle. Hashing
    loses the order, so the label is re-derived as the min record id
    per component; the original record ids come back via one inner
    join on the hash, which also strips key nodes (their hashes match
    no record id). Unlike LSH — where a 64-bit collision only adds a
    candidate the exact verify filters — a node-hash collision here
    would silently MERGE two components, so the hashed node set is
    first screened with a second-seed hash (one map-side-combinable
    agg over 16 B rows, ~half a CC round's volume); a detected
    collision (P ≈ n²·2⁻⁶⁴ — ~0.4 expected at 4×10⁹ nodes) falls back
    to the exact string-node path.
    """
    rid = F.concat(F.lit("\x00"), F.col(id_col).cast("string"))
    edges = None
    for kc in key_cols:
        e = df.select(
            rid.alias("u"),
            F.concat(F.lit(f"\x01{kc}:"), F.col(kc).cast("string")).alias("v"),
        ).filter(F.col(kc).isNotNull() & (F.col(kc).cast("string") != "")
                 # a NULL record id is no vertex on any CC path
                 & F.col(id_col).isNotNull())
        edges = e if edges is None else edges.union(e)

    if hash_nodes and (
        edges.limit(small_graph_cap + 1).count() > small_graph_cap
    ):
        # screen EVERY hash that will meet the join below: edge nodes
        # AND all record ids — a keyless record never enters the edge
        # set, but its hashed id still probes comp, so a collision
        # with any graph node would spuriously attach (or even
        # relabel) a component; include those ids so that class of
        # collision also triggers the string-path fallback
        nodes = edges.select(F.col("u").alias("n")).union(
            edges.select(F.col("v").alias("n"))
        ).union(
            df.select(rid.alias("n"))
        ).select(
            F.xxhash64("n").alias("h1"),
            F.xxhash64("n", F.lit(7)).alias("h2"),
        )
        collided = (
            nodes.groupBy("h1")
            .agg(F.count_distinct("h2").alias("c"))
            .filter(F.col("c") > 1)
            .limit(1)
            .count()
        )
        if collided == 0:
            hedges = edges.select(
                F.xxhash64("u").alias("u"), F.xxhash64("v").alias("v")
            )
            comp = connected_components(hedges, small_graph_cap=0)
            records = df.select(
                F.col(id_col).cast("string").alias("_rid")
            ).distinct().select(
                F.xxhash64(F.concat(F.lit("\x00"), "_rid")).alias("u"),
                F.col("_rid"),
            ).join(comp, "u")
            canon = records.groupBy("component").agg(
                F.min("_rid").alias("cluster_id")
            )
            return (
                records.join(canon, "component")
                .select(F.col("_rid").alias(id_col), F.col("cluster_id"))
            )

    comp = connected_components(edges, small_graph_cap=small_graph_cap)
    return comp.filter(F.col("u").startswith("\x00")).select(
        F.substr("u", F.lit(2)).alias(id_col),
        F.substr("component", F.lit(2)).alias("cluster_id"),
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
