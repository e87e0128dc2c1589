"""Connected components via alternating large-star / small-star joins.

Stage 5: candidate edges that survive verification are clustered so
every document gets a cluster id = the minimum doc id in its component
— which reproduces the reference's first-wins canonical-survivor
semantics (reference src/cli.cpp:303: first occurrence wins) and its
OR-key transitive identity (reference src/storage.cpp:562-570: dup by
email OR phone ⇒ same identity ⇒ transitive closure, SURVEY §7.3.2).

Algorithm: Kiveris et al., "Connected Components in MapReduce and
Beyond" (SOCC'14, public) — O(log n) rounds of two equi-join steps:

- large-star: attach every neighbor larger than u to the minimum of
  u's neighborhood (including u);
- small-star: orient edges toward the smaller endpoint and attach all
  smaller neighbors + u itself to the minimum.

Each round is groupBy(min) + join — partial aggregation map-side, no
windows. Lineage is truncated every round via localCheckpoint, and
optionally committed to a Catalog snapshot so a killed job resumes
from the last finished round (north_rule resumability).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _large_star(edges: DataFrame) -> DataFrame:
    e2 = edges.select(F.col("u"), F.col("v")).union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = e2.groupBy("u").agg(F.min("v").alias("mn"))
    mins = mins.withColumn("mn", F.least("mn", "u"))
    return (
        e2.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("mn").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    e = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).filter(F.col("u") != F.col("v"))
    mins = e.groupBy("u").agg(F.min("v").alias("mn"))
    nbrs = (
        e.join(mins, "u")
        .filter(F.col("v") != F.col("mn"))
        .select(F.col("v").alias("u"), F.col("mn").alias("v"))
    )
    self_edges = mins.select(F.col("u"), F.col("mn").alias("v"))
    return nbrs.union(self_edges).filter(F.col("u") != F.col("v")).distinct()


def _checksum(edges: DataFrame) -> tuple[int, int]:
    # bit_xor, not sum: overflow-free under ANSI mode and order-insensitive
    row = edges.select(F.xxhash64("u", "v").alias("x")).agg(
        F.count("*").alias("n"),
        F.coalesce(F.bit_xor("x"), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def _union_find_labels(pairs: list[tuple], spark, schema,
                       hint_broadcast: bool = True) -> DataFrame:
    """Driver-side union-find over a SMALL edge list → (u, component)
    with component = min id, bit-identical to the star-join fixpoint
    (both are 'min id per component', a well-defined function of the
    edge set — no order dependence)."""
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
    comp_min: dict = {}
    nodes = set()
    for u, v in pairs:
        nodes.add(u)
        nodes.add(v)
    for n in nodes:
        r = find(n)
        if r not in comp_min or n < comp_min[r]:
            comp_min[r] = n
    rows = [(n, comp_min[find(n)]) for n in sorted(nodes)]
    out = spark.createDataFrame(rows, schema)
    # Broadcast hint is caller-controlled: a createDataFrame result
    # has unknown stats, so without the hint the downstream label
    # join plans as a SortMergeJoin (two exchanges) until AQE repairs
    # it at runtime. The cap guarantees the table is broadcast-sized
    # by construction, so the hint is always SAFE — but it is only
    # VALID where the labels land on a build side (build side of an
    # inner join, right side of a left-outer assignment join). A
    # caller that puts the labels on a preserved outer side (e.g.
    # run_incremental's left-outer label-resolution join) must pass
    # hint_broadcast=False or Spark warns and drops the hint.
    return F.broadcast(out) if hint_broadcast else out


def connected_components(edges: DataFrame, max_iter: int = 50,
                         catalog=None, table: str = "cc_edges",
                         small_graph_cap: int = 1_000_000,
                         hint_broadcast_labels: bool = True) -> DataFrame:
    """edges(u, v) → labels(u, component) where component = min id.

    Ids may be any orderable type (string urls or long doc ids).
    Converges in O(log n) rounds; each round's output is checkpointed.
    With ``catalog`` set, every round commits a snapshot named
    ``{table}`` and resume starts from the last committed round.

    Small-graph fast path (round 4): the star-join loop costs
    O(log n) × 2 shuffles + one driver barrier per round — pure
    scheduling overhead when the edge set fits the driver. Below
    ``small_graph_cap`` RAW edge rows (pre-dedup, so the probe is one
    shuffle-free ``limit(cap+1)`` Arrow fetch — a graph whose raw rows
    overflow but whose distinct rows would not conservatively takes
    the distributed loop) and only when no catalog demands per-round
    resume snapshots, the labels come from a driver-side union-find:
    the SAME min-id-per-component function of the edge set, returned
    as a broadcastable DataFrame. At 10^11-edge web scale the cap
    routes straight to the distributed loop. Set ``small_graph_cap=0``
    to force the distributed path.

    Resume is input-guarded: every round's snapshot carries a
    fingerprint of the ORIGINAL edge set, and a resume whose current
    edges don't match it recomputes from scratch instead of silently
    returning another graph's components.
    """
    # backtick-quote, not selectExpr interpolation: column names with
    # dots/spaces must not be re-parsed as SQL expressions (df[name]
    # indexing ALSO parses dots as struct access)
    c0, c1 = (
        "`" + c.replace("`", "``") + "`" for c in edges.columns[:2]
    )
    # SQL !=, not a python one: it drops self-loops AND NULL
    # endpoints (NULL != x is NULL), on both paths below
    e_raw = edges.select(F.col(c0).alias("u"), F.col(c1).alias("v")).filter(
        F.col("u") != F.col("v")
    )
    e = e_raw.distinct()

    if catalog is None and small_graph_cap > 0:
        # probe the undeduplicated rows: CollectLimit short-circuits
        # the scan with no dedup shuffle (the old probe sat above the
        # distinct, which forced a full-volume shuffle that the
        # over-cap fall-through then threw away and recomputed). Arrow
        # toPandas, not collect(): 10^6 Row objects of string urls cost
        # several GB of driver heap; columnar batches plus plain python
        # lists do not. NULLs are filtered before the fetch, so a
        # nullable long column arrives as int64, never NaN-bearing
        # float.
        pdf = e_raw.limit(small_graph_cap + 1).toPandas()
        if len(pdf) <= small_graph_cap:
            schema = e.select(
                F.col("u"), F.col("v").alias("component")
            ).schema
            pairs = list(zip(pdf["u"].tolist(), pdf["v"].tolist()))
            return _union_find_labels(
                pairs, e.sparkSession, schema,
                hint_broadcast=hint_broadcast_labels,
            )
        del pdf  # over cap: fall through to the distributed loop

    start_iter = 0
    prev = None
    stamp = None
    if catalog is not None:
        # checkpoint before stamping: the fingerprint action then
        # materializes the deduped edges once, and round 0 reads the
        # checkpoint blocks instead of re-running the distinct shuffle
        e = e.localCheckpoint(eager=False)
        stamp = list(_checksum(e))  # fingerprint of the INPUT edges
        if catalog.has(table):
            m = catalog.latest_meta(table)
            if m.get("input") == stamp:
                e = catalog.read(e.sparkSession, table)
                # clamp so a resume always runs ≥1 round: with the
                # restored witness below, an already-converged snapshot
                # CONFIRMS its fixpoint in that one round and returns —
                # while a run that genuinely burned max_iter rounds
                # without converging still raises, never silently
                # passes
                start_iter = min(m.get("iteration", 0), max_iter - 1)
                if m.get("checksum") is not None:
                    prev = tuple(m["checksum"])
            # else: stale snapshot from a different edge set under the
            # same table name — ignore it and recompute from round 0

    converged = False
    for i in range(start_iter, max_iter):
        # lazy checkpoint + checksum = ONE driver-synchronized job per
        # round (the checksum action materializes the checkpoint):
        # halves the per-round scheduling barrier of the O(log n) loop
        e = _small_star(_large_star(e)).localCheckpoint(eager=False)
        cur = _checksum(e)
        if catalog is not None:
            catalog.write(table, e, meta={"iteration": i + 1,
                                          "checksum": list(cur),
                                          "input": stamp})
        if prev == cur:
            converged = True
            break
        prev = cur
    if not converged:
        # LOUD failure, never silent: max_iter rounds elapsed without a
        # checksum fixpoint — emitting the labels anyway would let
        # non-converged (possibly split) clusters flow downstream.
        # O(log n) convergence makes this theoretical at max_iter=50,
        # but a skew-pathological edge set deserves an error, not a
        # wrong answer.
        raise RuntimeError(
            f"connected_components: no fixpoint after {max_iter} "
            f"rounds (last checksum {prev}); raise max_iter or resume "
            "from the committed snapshot"
        )

    # converged star edges point node → root; roots label themselves
    labels = e.select(F.col("u"), F.col("v").alias("component"))
    roots = e.select(F.col("v").alias("u")).distinct().withColumn(
        "component", F.col("u")
    )
    return labels.union(roots).groupBy("u").agg(F.min("component").alias("component"))


def cluster_assignments(all_ids: DataFrame, id_col: str,
                        edges: DataFrame, **kw) -> DataFrame:
    """Every doc gets a cluster id; singletons are their own cluster
    (first-wins canonical = min id, reference src/cli.cpp:303 parity)."""
    comp = connected_components(edges, **kw)
    return (
        all_ids.select(F.col(id_col))
        .join(comp.withColumnRenamed("u", id_col), id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("component"), F.col(id_col)).alias("cluster_id"),
        )
    )
