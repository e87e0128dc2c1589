"""Incremental dedup: fold a NEW batch into a committed corpus state
without re-pairing the old corpus.

The production shape at 10^12 documents: the full pipeline runs once
(or rarely), committing `signatures` (exact-dup representatives +
text_sha) and `clusters` snapshots to the catalog
(plans/pipeline.py); every subsequent crawl increment runs THIS plan:

  new batch → signatures (new rows only)
    → exact tier   vs old:   sha equi-join against the snapshot
    → minhash tier vs old:   band-key equi-join new×old (never
                             old×old — the quadratic term the full
                             run already paid stays paid)
    → minhash tier within:   the normal capped/salted self-join on
                             the new rows only
    → exact-Jaccard verify at τ (same shingle arrays both sides)
    → clustering with a FROZEN base: old cluster labels never change
      (downstream consumers hold references to them); new docs join
      the matched old cluster, or form new clusters labeled first-wins
      among themselves
    → snapshots updated (signatures ∪ new, clusters ∪ new) so the
      NEXT increment sees this one.

Scale: the per-increment cost is O(|new| + matched-band rows of old),
never O(|corpus|²) — the old side is touched only through two
equi-joins (sha, band_key) that a real deployment serves from the
bucketed/partitioned snapshot tables.

Deliberate semantic deltas from a monolithic full run, documented:
- the containment tier (page-in-page) does not run across increments
  — schedule periodic full compactions for it;
- a new doc that NEAR-matches two different old clusters cannot merge
  them (labels are frozen): it joins the minimum old label and the
  bridge is counted in lineage (`clusters_bridged`) for the next
  compaction to resolve. Exact-dup bridges cannot happen (identical
  text ⇒ identical sha ⇒ one old cluster).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from acxspark.config import DEFAULT_CONFIG, DedupConfig
from acxspark.metrics import Lineage
from acxspark.operators.cc import connected_components
from acxspark.operators.lsh import band_keys, candidate_pairs
from acxspark.operators.signatures import with_signatures
from acxspark.operators.verify import exact_jaccard_edges


@dataclass
class IncrementalResult:
    assignments: DataFrame   # url, cluster_id — NEW docs only
    lineage: Lineage
    # release handles (``unpersist()``) for every persisted or
    # checkpointed intermediate. The assignments plan reads the
    # checkpoint blocks, so release only after consuming it: a
    # released block cannot be recomputed.
    caches: list


class _CheckpointBlocks:
    """``unpersist()`` handle for the blocks of an eager
    localCheckpoint, so the ``caches`` contract releases them too.
    ``DataFrame.unpersist`` does not reach them: the checkpointed RDD
    backs the frame's LogicalRDD leaf, not a cache-manager entry."""

    def __init__(self, df: DataFrame):
        self._sc = df.sparkSession.sparkContext._jsc.sc()
        self._rdd_id = df._jdf.queryExecution().logical().rdd().id()

    def unpersist(self, blocking: bool = False) -> None:
        # SparkContext.unpersistRDD, not RDD.unpersist: the same block
        # removal without a lineage-truncated warning per checkpoint
        self._sc.unpersistRDD(self._rdd_id, blocking)


def _materialise(df: DataFrame, caches: list) -> DataFrame:
    """Eager localCheckpoint: one job computes ``df`` into executor
    blocks and every later query plans against the LogicalRDD leaf
    instead of re-analysing (and, for broadcast subtrees, re-running)
    the nested tree beneath it. Observations attached below fire in
    that job."""
    cp = df.localCheckpoint(eager=True)
    caches.append(_CheckpointBlocks(cp))
    return cp


def _cross_jaccard_edges(pairs: DataFrame, new_sigs: DataFrame,
                         old_sigs: DataFrame, cfg: DedupConfig) -> DataFrame:
    """exact_jaccard_edges with the two sides drawn from different
    frames (new=id_a, old=id_b).

    The old side is pruned BEFORE its shingles move: a broadcast
    semi-join on the candidate ids cuts the (url, shingles) scan to
    the matched rows only — the corpus snapshot's array column never
    shuffles (measured: shuffling it was the incremental plan's
    original bottleneck)."""
    a = new_sigs.select(F.col("url").alias("id_a"),
                        F.col("shingles").alias("sh_a"))
    b = (
        old_sigs.select(F.col("url").alias("id_b"),
                        F.col("shingles").alias("sh_b"))
        .join(F.broadcast(pairs.select("id_b")), "id_b", "left_semi")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        pairs.join(a, "id_a").join(b, "id_b")
        .withColumn("jaccard", inter / F.greatest(union, F.lit(1)))
        .filter(F.col("jaccard") >= cfg.jaccard_threshold)
        .select("id_a", "id_b")
    )


def run_incremental(new_web: DataFrame, catalog,
                    cfg: DedupConfig = DEFAULT_CONFIG,
                    text_col: str = "text",
                    lineage_path: str | None = None,
                    update_snapshots: bool = True,
                    snapshot_meta: dict | None = None) -> IncrementalResult:
    """Assign every NEW doc a cluster id against the committed state.

    Requires `signatures` and `clusters` snapshots (a prior
    run_pipeline(catalog=...)). New urls must be distinct from old
    urls (crawl increments key by url+fetch partition upstream) —
    EXCEPT on a replay of an already-committed batch (a streaming
    restart re-delivering its last micro-batch), which is safe: every
    replayed doc exact-matches its own committed copy, gets back its
    committed label, and the snapshot unions (old side minus the
    batch's urls, plus the batch) leave the snapshots row-identical.
    ``snapshot_meta`` rides every snapshot manifest this run commits
    (streaming/ingest.py stamps the micro-batch id through it for the
    exactly-once guard).

    The delta-side intermediates are eager localCheckpoints
    (:func:`_materialise`), released through ``caches``. They live in
    executor blocks only: a lost block fails this run before the
    clusters commit stamps the batch, and the streaming ledger replays
    the whole batch (the idempotent slow path above).
    """
    spark = new_web.sparkSession
    lin = Lineage(lineage_path, cfg.fingerprint())
    caches: list = []

    # deliberately NOT materialised: the snapshot's heavy columns
    # (shingles ~2 KB/row) must stay column-PRUNED per consumer —
    # caching the full rows defeats pruning and made every old-side
    # pass pay the array column (measured 4.5× slower than a full
    # re-run before this + the broadcast-delta joins below)
    old_sigs = catalog.read(spark, "signatures")
    old_clusters = catalog.read(spark, "clusters")

    # the delta, hashed once: every tier below reads url/text/text_sha
    # from these blocks (text_sha matches the snapshot schema, so the
    # signatures union below stays aligned)
    new_docs = _materialise(lin.observe(
        new_web.filter(F.length(text_col) <= cfg.max_text_bytes).select(
            "url", text_col, F.sha2(F.col(text_col), 256).alias("text_sha")
        ),
        "incr_docs_scanned",
    ), caches)
    new_hashed = new_docs.select("url", "text_sha")

    # REPLAY SAFETY: view the committed state as it was BEFORE this
    # batch by excluding the batch's own urls from the old side. On
    # the normal path (disjoint urls) this broadcast anti-join removes
    # nothing and costs one map-side probe per old row. On a replayed
    # batch whose previous attempt crashed after the signatures commit
    # (streaming/ingest.py slow path), it is what keeps the re-run
    # byte-identical to the first attempt: without it every replayed
    # doc sha-matches its OWN committed signature, gets classified a
    # re-fetch, skips signing — and silently loses its near-dup edges.
    # (No distinct: a semi/anti-join build side ignores duplicates.)
    batch_urls = F.broadcast(new_docs.select("url"))
    old_sigs = old_sigs.join(batch_urls, "url", "left_anti")
    old_clusters = old_clusters.join(batch_urls, "url", "left_anti")

    # ---- exact tier vs old ------------------------------------------
    # With a committed `sha_bloom` artifact (operators/bloom.py,
    # written by run_pipeline alongside the signatures snapshot), the
    # delta's definitely-new shas — the crawl-increment majority —
    # are dropped from the probe BEFORE the old side is touched: only
    # the bloom-maybe set (true re-fetches + fpp) rides the broadcast
    # into the old scan, which a bucketed/partition-pruned snapshot
    # then serves as point lookups instead of a corpus pass. Zero
    # false negatives ⇒ exact_cross is IDENTICAL with or without the
    # gate (pytest-pinned). Catalogs predating the artifact skip it.
    exact_probe = new_hashed
    bloom = None
    if catalog.has("sha_bloom"):
        from acxspark.operators.bloom import might_contain

        bloom_ns = int(catalog.latest_meta("sha_bloom")["n_shards"])
        bloom = catalog.read(spark, "sha_bloom").persist()
        caches.append(bloom)
        maybe = lin.observe(
            might_contain(new_hashed, "text_sha", bloom, bloom_ns)
            .filter(F.col("might_contain"))
            .select("text_sha"),
            "incr_bloom_maybe",
        )
        exact_probe = new_hashed.join(F.broadcast(maybe), "text_sha")
    # BROADCAST the (gated) delta hash set into the old scan (sha
    # column only) — map-side, the old side never shuffles, the scan
    # reads two slim columns. Materialised: consumed by the
    # matched-edge union AND the re-fetch signature skip below.
    exact_cross = _materialise(
        old_sigs.select(F.col("url").alias("id_b"), "text_sha")
        .join(
            F.broadcast(
                exact_probe.select(F.col("url").alias("id_a"), "text_sha")
            ),
            "text_sha",
        )
        .select("id_a", "id_b"),
        caches,
    )

    # ---- signatures: EXACT RE-FETCHES SKIP THE SIGNATURE STAGE ------
    # A new doc byte-identical to a committed one (unchanged page,
    # re-crawled) needs no shingles/minhash: identical text ⇒
    # identical signature ⇒ identical band keys, so any near-dup
    # another doc would find through it, it finds through the OLD
    # copy via the cross tier, and the re-fetch itself joins the old
    # cluster through exact_cross. Real increments are dominated by
    # re-fetches, and the signature scan is the pipeline's most
    # expensive stage — this is the increment's biggest lever. The
    # skipped rows also stay OUT of the signatures snapshot union
    # below (their sha's representative is already committed), which
    # restores the full run's reps-only snapshot contract.
    refetch_urls = exact_cross.select(F.col("id_a").alias("url"))
    to_sign = lin.observe(
        new_docs.join(F.broadcast(refetch_urls), "url", "left_anti"),
        "incr_signed",
    )
    drop_set = None
    if getattr(cfg, "shingle_max_doc_freq", None) is not None:
        # the delta MUST be signed with the BASE corpus's committed
        # drop set: a delta-derived set cuts a different gram
        # population, and signatures over different gram sets neither
        # band-collide nor Jaccard-compare against the snapshot
        import sys

        import numpy as np

        # coherence gate: the drop set is only trustworthy when its
        # stamp matches the signatures snapshot it was derived with —
        # a set left behind by an older/aborted run would diverge from
        # the committed signatures, the exact drift this path prevents
        coherent = False
        if catalog.has("hot_shingles"):
            hm = catalog.latest_meta("hot_shingles")
            sm = catalog.latest_meta("signatures")
            coherent = all(
                hm.get(k) == sm.get(k)
                for k in ("config", "n_docs", "input_hash")
            )
        if coherent:
            drop_set = np.sort(np.array(
                [r["h"] for r in
                 catalog.read(spark, "hot_shingles").collect()],
                dtype=np.int64,
            ))
        else:
            print(
                "acxspark.incremental: shingle_max_doc_freq set but no "
                "committed hot_shingles snapshot matches the "
                "signatures stamp — falling back to a DELTA-derived "
                "drop set, which may diverge from the base signatures "
                "(re-run the full pipeline with a catalog to commit a "
                "coherent one)",
                file=sys.stderr,
            )
    new_sigs = _materialise(
        with_signatures(
            to_sign, text_col=text_col, cfg=cfg, id_col="url",
            hot_hashes=drop_set,
        ).join(new_hashed, "url"),
        caches,
    )

    # ---- minhash tier vs old ---------------------------------------
    # The incremental contract is delta ≪ corpus, so the delta's band
    # keys (|delta| × 32 longs) BROADCAST and the old band stream is a
    # map-side pruned scan (url + minhash columns) — the corpus is
    # never shuffled, mirroring the exact tier above. For a delta too
    # large to broadcast, run the full pipeline instead; the crossover
    # is roughly where |delta| stops fitting a broadcast anyway.
    nb = _materialise(
        band_keys(new_sigs, "url", "minhash", cfg).select(
            F.col("url").alias("id_a"), "band_key"
        ),
        caches,
    )
    ob_hit = _materialise(
        band_keys(old_sigs, "url", "minhash", cfg)
        .select(F.col("url").alias("id_b"), "band_key")
        .join(F.broadcast(nb.select("band_key")), "band_key", "left_semi"),
        caches,
    )
    # hot-band cap on the COMBINED matched-band population — the
    # mirror of the full run's cap (a band with > max_band_size
    # members total is dropped there too). Capping only one side is a
    # measured catastrophe: boilerplate bands shared by delta and
    # corpus produce |new_band| × cap cross pairs per band. Sizes are
    # computed on the matched subset only (ob_hit, whose keys are all
    # delta keys), never the full old band table: one aggregation over
    # both sides' rows.
    hot = (
        nb.select("band_key").unionByName(ob_hit.select("band_key"))
        .groupBy("band_key").count()
        .filter(F.col("count") > cfg.max_band_size)
        .select("band_key")
    )
    # materialised: consumed by the jaccard b-side semi-broadcast AND
    # the outer pair join — a broadcast subtree evaluates
    # independently, so without the cut the band-match chain runs twice
    cross_pairs = _materialise(
        ob_hit.join(F.broadcast(hot), "band_key", "left_anti")
        .join(
            F.broadcast(nb.join(F.broadcast(hot), "band_key", "left_anti")),
            "band_key",
        )
        .select("id_a", "id_b")
        .distinct(),
        caches,
    )
    near_cross = _cross_jaccard_edges(cross_pairs, new_sigs, old_sigs, cfg)

    # ---- minhash tier within the increment (normal self-join path) -
    # materialised: exact_jaccard_edges reads its pairs three times
    intra_cands = _materialise(
        candidate_pairs(new_sigs, "url", "minhash", cfg, caches=caches),
        caches,
    )
    near_intra = exact_jaccard_edges(intra_cands, new_sigs, "url", cfg).select(
        "id_a", "id_b"
    )
    # star edges (min-url ↔ member) via groupBy-min + join — the same
    # linear-memory shape as pipeline.py's exact tier. The former
    # collect_list/explode built the whole dup group as ONE array in a
    # single aggregation buffer: a pathological increment (10^6 copies
    # of one page in one batch) would materialize a 10^6-element array
    # on one reducer. The join shape streams instead.
    intra_min = new_hashed.groupBy("text_sha").agg(
        F.min("url").alias("id_a"), F.count("*").alias("_n")
    )
    intra_exact = (
        new_hashed.join(intra_min.filter(F.col("_n") > 1), "text_sha")
        .filter(F.col("url") != F.col("id_a"))
        .select("id_a", F.col("url").alias("id_b"))
    )

    # ---- frozen-base clustering ------------------------------------
    # old matches become edges to the OLD CLUSTER LABEL (not the old
    # doc), so one old cluster is one vertex and its label is frozen
    matched = lin.observe(
        old_clusters.withColumnRenamed("url", "id_b")
        .join(F.broadcast(exact_cross.unionByName(near_cross)), "id_b")
        .select("id_a", F.col("cluster_id").alias("id_b"))
        .distinct(),
        "incr_old_matches",
    )
    # ONE eager materialization of the full edge set before CC, so
    # CC's probe and the label/bridge aggregations below read blocks.
    # Its row count and byte volume ride the same job (Observation):
    # they feed the broadcast-hint gate below.
    edge_obs = Observation()
    all_edges = _materialise(
        matched.unionByName(near_intra).unionByName(intra_exact).observe(
            edge_obs,
            F.count(F.lit(1)).alias("rows"),
            F.coalesce(
                F.sum(F.length("id_a") + F.length("id_b")), F.lit(0)
            ).alias("bytes"),
        ),
        caches,
    )
    # bounded wait, never Observation.get: a metric that does not fire
    # must cost the broadcast hint below, not hang the fold
    edge_stats = Lineage.get_fired(edge_obs, timeout=10.0)
    if edge_stats is not None:
        lin.record("incr_edges", **edge_stats)
    # hint_broadcast_labels=False: comp lands on the PRESERVED left
    # side of the label-resolution left-outer join below, where an
    # embedded broadcast hint is invalid (Spark warns and drops it).
    # The hint is instead applied at the one VALID use site (the inner
    # label join below), and only when the edge count proves comp is
    # broadcast-sized.
    comp = connected_components(all_edges.select(
        F.col("id_a").alias("u"), F.col("id_b").alias("v")
    ), hint_broadcast_labels=False)

    # label resolution: any old label in the component wins (labels
    # are frozen — first occurrence wins across BATCHES, the
    # reference's first-wins order lifted to increments); ties across
    # two old labels take the min and count a bridge.
    # inner join, comp on the build side: the delta's component table
    # is bounded by the batch while old_label_set grows with the whole
    # corpus — at 10^12-doc scale the small side must be comp. A
    # normal increment (≤1M edges ⇒ comp ≤2M slim rows, the same
    # bound as CC's fast-path cap) gets an explicit broadcast hint so
    # the plan never starts as an SMJ; an arbitrarily large BACKFILL
    # increment stays unhinted (a forced broadcast could not be
    # sized), where AQE converts at runtime if comp turns out small.
    # Components with no old label simply have no row here; the
    # left join below restores them with old_min = NULL.
    old_label_set = old_clusters.select(
        F.col("cluster_id").alias("u")
    ).distinct()
    # the forced hint must be sized in BYTES, not rows: 1M edges of
    # 150-200 B crawl urls put comp at several hundred MB, and
    # F.broadcast bypasses AQE's size check entirely — the driver
    # would have to build it regardless. comp carries ≲2 url-sized
    # strings per distinct node, so twice the edge byte volume
    # upper-bounds the build; past the cap the join stays unhinted
    # and AQE converts iff runtime bytes allow.
    comp_build = comp
    if (edge_stats is not None and edge_stats["rows"] <= 1_000_000
            and 2 * edge_stats["bytes"] <= (64 << 20)):
        comp_build = F.broadcast(comp)
    comp_labels = (
        comp_build.join(old_label_set, "u")
        .groupBy("component")
        .agg(
            F.min("u").alias("old_min"),
            F.count(F.lit(1)).alias("n_old"),
        )
    )
    # the bridge count rides the assignments pass (Observation). The
    # optimizer drops the observed node when comp or comp_labels is
    # empty, so the record is absent exactly when no component holds
    # an old label (0 bridges); an edgeless fold records its 0 here
    if edge_stats is not None and edge_stats["rows"] == 0:
        lin.record("clusters_bridged", n=0)
    else:
        comp_labels = lin.observe(comp_labels, "clusters_bridged",
                                  n=F.count_if(F.col("n_old") > 1))
    # no forced broadcast: comp_labels is usually micro-batch-sized,
    # but a backfill increment can be arbitrarily large — AQE converts
    # to BHJ at runtime exactly when the exchanged bytes allow it
    resolved = (
        comp.join(comp_labels, "component", "left")
        .select(
            F.col("u").alias("url"),
            F.coalesce("old_min", "component").alias("cluster_id"),
        )
    )
    assignments = (
        new_docs.select("url")
        .join(resolved, "url", "left")
        .select(
            "url",
            F.coalesce(F.col("cluster_id"), F.col("url")).alias("cluster_id"),
        )
    )
    assignments = lin.observe(assignments, "incr_assigned").persist()
    caches.append(assignments)

    if update_snapshots:
        # next increment sees this one: union the snapshots. At real
        # scale these are Iceberg APPENDs, not rewrites. The commit is
        # IDEMPOTENT under batch replay (streaming restart, crash
        # between the two table writes): old_sigs/old_clusters already
        # exclude the batch's urls (the replay anti-join above), so a
        # re-applied batch's committed rows are replaced, and since its
        # assignments are deterministic (frozen base labels +
        # exact-match-to-self) the replacement is row-identical. The
        # bloom merge below is idempotent by algebra (OR-ing the same
        # delta twice is the same bits).
        meta = {"incremental": True, **(snapshot_meta or {})}
        catalog.write("signatures", old_sigs.unionByName(new_sigs),
                      meta=meta)
        catalog.write("clusters", old_clusters.unionByName(assignments),
                      meta=meta)
        if bloom is not None:
            # fold ONLY the delta's newly-signed shas into the
            # membership artifact: a same-geometry delta bloom OR-ed
            # shard-wise — O(|delta shards|), never a corpus rebuild.
            from acxspark.operators.bloom import (
                bloom_params,
                build_bloom,
                merge_blooms,
            )

            geometry = bloom_params(bloom)
            delta = build_bloom(
                new_sigs.select("text_sha"), "text_sha",
                n_shards=bloom_ns, m_bits=geometry[0], k=geometry[1],
            )
            catalog.write(
                "sha_bloom",
                merge_blooms(bloom, delta, geometry=geometry),
                meta={**meta, "n_shards": bloom_ns},
            )

    return IncrementalResult(assignments=assignments, lineage=lin,
                             caches=caches)
