"""Exact deduplication — order-stable first-wins, OR-key transitive.

Parity with the reference's three exact tiers:

1. ``first_wins``: reference ``acx dedupe`` (src/cli.cpp:289-308) —
   stream order, first occurrence of a key wins, rows with a NULL key
   always kept. Under distribution "stream order" needs an explicit
   ordinal column (SURVEY §7.3.1): winner = row_number() over
   (partition by key order by seq) == 1 — NOT bare dropDuplicates,
   whose winner is partition-placement-dependent.

2. ``exact_text_dedup``: content identity via sha2(text, 256) — the
   hash-groupBy exact tier of the web pipeline. Group sizes are
   bounded (dup cluster sizes), so the window over the hash key is
   safe at scale; the heavy text column never shuffles (only hash +
   id + seq do, then a semi-join back).

3. ``or_key_components``: reference import dedup treats email-dup OR
   phone-dup as the same identity (src/storage.cpp:562-570) — a
   transitive closure, routed through connected components over the
   bipartite record↔key graph (SURVEY §7.3.2).
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


def exact_text_dedup(df: DataFrame, id_col: str, text_col: str = "text",
                     seq_col: str | None = None) -> DataFrame:
    """Survivors of content-hash dedup; winner = min seq (or min id).

    Shuffle carries only (hash, id, seq); survivors re-join the full
    rows by id (semi join) so 100 TB of text bytes move zero times.
    """
    order = seq_col or id_col
    slim = df.select(F.col(id_col), F.col(order).alias("_ord"),
                     F.sha2(F.col(text_col), 256).alias("_h"))
    w = Window.partitionBy("_h").orderBy(F.col("_ord").asc(), F.col(id_col).asc())
    winners = slim.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") == 1
    ).select(id_col)
    return df.join(winners, id_col, "left_semi")


def exact_dup_groups(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """(hash, n_docs, doc_ids) for groups with >1 member — the
    hash-groupBy exact-dup report."""
    return (
        df.select(F.sha2(F.col(text_col), 256).alias("text_sha"), F.col(id_col))
        .groupBy("text_sha")
        .agg(F.count("*").alias("n_docs"),
             F.sort_array(F.collect_list(id_col)).alias("doc_ids"))
        .filter(F.col("n_docs") > 1)
    )


def or_key_components(df: DataFrame, id_col: str, key_cols: list[str],
                      hash_nodes: bool = True,
                      small_graph_cap: int = 1_000_000) -> DataFrame:
    """Transitive OR-key identity → (id, cluster_id).

    Build bipartite edges record→("col:value") for each non-null key,
    run CC, then label every record with the MIN record id of its
    component (key nodes can't be guaranteed to sort after arbitrary
    record ids, so the label is re-derived, never taken from CC).

    Two physical shapes (identical output, both min-record-id):

    * ≤ ``small_graph_cap`` edge rows — ONE limit(cap+1) collect and a
      driver-side bipartite union-find that emits (record id, min
      record id of component) directly as a broadcastable DataFrame.
      Routing through connected_components here would probe+collect
      the same edges a second time and then pay a distributed
      groupBy+join just to turn component keys into min record ids —
      pure overhead when the edge list already fits the driver
      (measured: the r4 shape spent >0.5 s of or_key_clusters' 1.5 s
      on exactly that).
    * above the cap — the distributed star-join CC. With
      ``hash_nodes`` (default) node ids ride CC's O(log n) rounds of
      groupBy+join as 8-byte xxhash64 longs instead of full strings
      (emails/urls 30–80 B — ~5× the per-round shuffle), the same
      slim-id device as lsh.py's band shuffle; the original record
      ids come back via one inner join on the hash, which also strips
      key nodes (their hashes match no record id). Unlike LSH — where
      a 64-bit collision only adds a candidate the exact verify
      filters — a node-hash collision here would silently MERGE two
      components, so the hashed node set is first screened with a
      second-seed hash (one map-side-combinable agg over 16 B rows,
      ~half a CC round's volume); a detected collision (P ≈ n²·2⁻⁶⁴ —
      ~0.4 expected at 4×10⁹ nodes) falls back to the exact
      string-node path.
    """
    edges = None
    for kc in key_cols:
        e = df.select(
            F.col(id_col).cast("string").alias("u"),
            F.concat(F.lit(f"\x01{kc}:"), F.col(kc).cast("string")).alias("v"),
        ).filter(F.col(kc).isNotNull() & (F.col(kc).cast("string") != "")
                 # a NULL record id is no vertex: the distributed CC
                 # drops it, and the driver union-find must too
                 & F.col(id_col).isNotNull())
        edges = e if edges is None else edges.union(e)

    out_schema = T.StructType([
        T.StructField(id_col, T.StringType()),
        T.StructField("cluster_id", T.StringType()),
    ])

    if small_graph_cap > 0:
        # Arrow toPandas, not collect(): a cap's worth of Row objects
        # holding email/url strings costs several GB of driver heap;
        # columnar batches plus plain python lists do not (same device
        # as connected_components' probe)
        pdf = edges.limit(small_graph_cap + 1).toPandas()
        if len(pdf) <= small_graph_cap:
            return _bipartite_min_labels(
                list(zip(pdf["u"].tolist(), pdf["v"].tolist())),
                edges.sparkSession, out_schema,
            )
        del pdf

    if hash_nodes:
        # screen EVERY hash that will meet the join below: edge nodes
        # AND all record ids — a keyless record never enters the edge
        # set, but its hashed id still probes comp, so a collision
        # with any graph node would spuriously attach (or even
        # relabel) a component; include those ids so that class of
        # collision also triggers the string-path fallback
        nodes = edges.select(F.col("u").alias("n")).union(
            edges.select(F.col("v").alias("n"))
        ).union(
            df.select(F.col(id_col).cast("string").alias("n"))
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
                F.xxhash64("_rid").alias("u"), F.col("_rid")
            ).join(comp, "u")
            canon = records.groupBy("component").agg(
                F.min("_rid").alias("cluster_id")
            )
            return (
                records.join(canon, "component")
                .select(F.col("_rid").alias(id_col), F.col("cluster_id"))
            )

    comp = connected_components(edges, small_graph_cap=0)
    records = comp.filter(~F.col("u").startswith("\x01"))
    canon = records.groupBy("component").agg(F.min("u").alias("cluster_id"))
    return (
        records.join(canon, "component")
        .select(F.col("u").alias(id_col), F.col("cluster_id"))
    )


def _bipartite_min_labels(pairs: list[tuple], spark, schema) -> DataFrame:
    """Driver union-find over bipartite (record, \\x01-key) edges →
    (record id, min record id of component), broadcast-hinted. Same
    min-per-component function as the distributed star-join fixpoint +
    join-back — a well-defined function of the edge set, so the two
    paths are bit-identical (pytest-pinned)."""
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for u, v in pairs:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
    records = {u for u, _ in pairs}
    comp_min: dict = {}
    for u in records:
        r = find(u)
        if r not in comp_min or u < comp_min[r]:
            comp_min[r] = u
    rows = [(u, comp_min[find(u)]) for u in sorted(records)]
    return F.broadcast(spark.createDataFrame(rows, schema))


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
