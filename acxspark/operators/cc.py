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
windows. Lineage is truncated every round via localCheckpoint (the
round before is released once its successor is materialised), and
optionally committed to a Catalog snapshot so a killed job resumes
from the last finished round (north_rule resumability).

String ids (urls, tagged record/key vertices: 30-200 B) cross the
rounds as 8-byte xxhash64 longs, so every round shuffles 16 B per
edge. A (id, hash) node table maps the converged components back:
each label is the component's minimum ORIGINAL id, because hash order
is not string order. A hash collision between two distinct ids would
silently merge their components, so the node table is screened first;
on a collision the rounds run over the strings themselves.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from acxspark.plans.blocks import CheckpointBlocks

# the 8-byte key a string vertex rides the rounds as
_vertex_hash = F.xxhash64

# vertex tags: every FIRST-tagged id ("\x00" + id) sorts before every
# SECOND-tagged one ("\x01" + id), so a component's min-id label is its
# smallest FIRST vertex whenever it holds one (the crawl fold tags old
# ids FIRST, or_key_components its records). untag() strips the tag.
FIRST, SECOND = "\x00", "\x01"


def tag(t: str, c: str | Column) -> Column:
    """``t`` + the id column ``c``; a column given by name keeps it."""
    out = F.concat(F.lit(t), F.col(c) if isinstance(c, str) else c)
    return out.alias(c) if isinstance(c, str) else out


def untag(c: str) -> Column:
    return F.substr(c, F.lit(2))


def has_tag(t: str, c: str) -> Column:
    return F.col(c).startswith(t)


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


def _id_bytes(x) -> int:
    # characters of a string id (what F.length counts), 8 for a long
    return len(x) if isinstance(x, str) else 8


def _union_find_labels(pairs: list[tuple], spark, schema) -> DataFrame:
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
    edge_bytes = 0
    for u, v in pairs:
        nodes.add(u)
        nodes.add(v)
        edge_bytes += _id_bytes(u) + _id_bytes(v)
    for n in nodes:
        r = find(n)
        if r not in comp_min or n < comp_min[r]:
            comp_min[r] = n
    rows = [(n, comp_min[find(n)]) for n in sorted(nodes)]
    out = spark.createDataFrame(rows, schema)
    # The one hint rule: every caller puts the labels on a build side
    # (the right side of its assignment left join), and a
    # createDataFrame result has unknown stats, so without a hint that
    # join plans as a SortMergeJoin until AQE repairs it at runtime.
    # The hint is sized in BYTES, because F.broadcast bypasses AQE's
    # size check: the table holds ≲2 ids per distinct node, so twice
    # the edge byte volume bounds it. Past 64 MB (1M edges of 150-200 B
    # crawl urls come to several hundred MB) the join stays unhinted
    # and AQE converts iff runtime bytes allow.
    return F.broadcast(out) if 2 * edge_bytes <= (64 << 20) else out


def connected_components(edges: DataFrame, max_iter: int = 50,
                         catalog=None, table: str = "cc_edges",
                         small_graph_cap: int = 1_000_000) -> DataFrame:
    """edges(u, v) → labels(u, component) where component = min id.

    Ids may be any orderable type (string urls or long doc ids).
    Converges in O(log n) rounds; each round's output is checkpointed.
    With ``catalog`` set, every round commits a snapshot named
    ``{table}`` and resume starts from the last committed round.

    Small-graph fast path (round 4): the star-join loop costs
    O(log n) × 2 shuffles + one driver barrier per round — pure
    scheduling overhead when the edge set fits the driver. Size alone
    picks the path: below ``small_graph_cap`` RAW edge rows (pre-dedup,
    so the probe is one shuffle-free ``limit(cap+1)`` Arrow fetch — a
    graph whose raw rows overflow but whose distinct rows would not
    conservatively takes the distributed loop) the labels come from a
    driver-side union-find, with no rounds to snapshot or resume: the
    SAME min-id-per-component function of the edge set, returned
    broadcast-hinted while its bytes allow. At 10^11-edge web scale
    the cap routes straight to the distributed loop. Set
    ``small_graph_cap=0`` to force the distributed path.

    On the distributed path string ids ride the rounds as
    :func:`_vertex_hash` longs (module docstring): one job builds and
    screens the distinct ``(id, hash)`` node table, the labels map
    back through it, and a collision in it runs the rounds over the
    strings instead. Long ids are their own keys.

    Resume is input-guarded: every round's snapshot carries a
    fingerprint of the edge set the rounds start from (the hashed
    edges when the ids are hashed), and a resume whose current edges
    don't match it recomputes from scratch instead of silently
    returning another graph's components — so a snapshot of string
    rounds reads as stale to hashed rounds, and vice versa.
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

    if small_graph_cap > 0:
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
            return _union_find_labels(pairs, e.sparkSession, schema)
        del pdf  # over cap: fall through to the distributed loop

    nodes = None
    if isinstance(e.schema["u"].dataType, StringType):
        # built from the INPUT edges, before a resume swaps in a
        # snapshot; the ids are distinct, so two rows per hash IS a
        # collision. The screen job materialises the checkpoint that
        # the label map-back reads.
        nodes = (
            e_raw.select(F.col("u").alias("id"))
            .union(e_raw.select(F.col("v").alias("id"))).distinct()
            .select("id", _vertex_hash(F.col("id")).alias("h"))
            .localCheckpoint(eager=False)
        )
        if nodes.groupBy("h").count().filter(F.col("count") > 1).limit(1).count():
            CheckpointBlocks(nodes).unpersist()
            nodes = None
        else:
            e = e_raw.select(
                _vertex_hash(F.col("u")).alias("u"),
                _vertex_hash(F.col("v")).alias("v"),
            ).distinct()

    start_iter = 0
    prev = None
    stamp = None
    held = None  # blocks of the checkpoint the next round reads
    if catalog is not None:
        # checkpoint before stamping: the fingerprint action then
        # materializes the deduped edges once, and round 0 reads the
        # checkpoint blocks instead of re-running the distinct shuffle
        e = e.localCheckpoint(eager=False)
        held = CheckpointBlocks(e)
        stamp = list(_checksum(e))  # fingerprint of the round-0 edges
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
        # the checksum materialised this round: its predecessor's
        # blocks are read by nothing any more
        if held is not None:
            held.unpersist()
        held = CheckpointBlocks(e)
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
    labels = labels.union(roots).groupBy("u").agg(
        F.min("component").alias("component"))
    if nodes is None:
        return labels
    named = nodes.join(labels.withColumnRenamed("u", "h"), "h")
    canon = named.groupBy("component").agg(F.min("id").alias("label"))
    return named.join(canon, "component").select(
        F.col("id").alias("u"), F.col("label").alias("component"))


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
