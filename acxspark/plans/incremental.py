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
    → minhash tier within:   the normal capped band-bucket pairs on
                             the new rows only
    → exact-Jaccard verify at τ (same shingle arrays both sides)
    → clustering with a FROZEN base: old cluster labels never change
      (downstream consumers hold references to them); new docs join
      the matched old cluster, or form new clusters labeled first-wins
      among themselves
    → snapshots updated (signatures ∪ new, clusters ∪ new) so the
      NEXT increment sees this one.

Scale: no old×old pair is ever formed, so the quadratic term the full
run paid stays paid; every new×old join broadcasts the delta side;
and label resolution reads only the old labels the delta matched,
each a tagged CC vertex. The fold is still O(|corpus|) in three
places:
- the exact tier scans the whole old `text_sha` column (the
  broadcast probe prunes nothing on the old scan);
- the minhash tier recomputes 32 band keys from every old `minhash`;
- the commit rewrites the full `signatures` and `clusters` snapshots.
A fold therefore costs less than a full re-run by a constant factor,
not by |corpus|/|delta|; at sizes where that matters, run the full
pipeline as a compaction.

Deliberate semantic deltas from a monolithic full run, documented:
- the containment tier (page-in-page) does not run across increments
  — schedule periodic full compactions for it;
- a new doc that NEAR-matches two different old clusters cannot merge
  them (labels are frozen): it joins the minimum old label, and the
  other old labels of its component are counted in lineage
  (`clusters_bridged`: the old labels the next compaction retires).
  Exact-dup bridges cannot happen (identical text ⇒ identical sha ⇒
  one old cluster).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from acxspark.config import DEFAULT_CONFIG, DedupConfig
from acxspark.metrics import Lineage
from acxspark.operators.cc import connected_components
from acxspark.operators.dedup_exact import exact_star_edges
from acxspark.operators.lsh import band_keys, candidate_pairs
from acxspark.operators.signatures import (
    base_stamp, committed_drop_set, with_signatures,
)
from acxspark.operators.verify import exact_jaccard_edges, shingle_jaccard
from acxspark.plans.blocks import Releasable, materialise


@dataclass
class IncrementalResult(Releasable):
    assignments: DataFrame   # url, cluster_id — NEW docs only
    lineage: Lineage
    # release handles for every persisted or checkpointed
    # intermediate. The assignments plan reads the checkpoint blocks,
    # so release() only after consuming it: a released block cannot
    # be recomputed.
    caches: list


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
    return (
        pairs.join(a, "id_a").join(b, "id_b")
        .withColumn("jaccard", shingle_jaccard("sh_a", "sh_b"))
        .filter(F.col("jaccard") >= cfg.jaccard_threshold)
        .select("id_a", "id_b")
    )


def run_incremental(new_web: DataFrame, catalog,
                    cfg: DedupConfig = DEFAULT_CONFIG,
                    text_col: str = "text",
                    lineage_path: str | None = None,
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
    (:func:`~acxspark.plans.blocks.materialise`), dropped by
    ``release()``. They live in
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
    # read before this fold recommits the snapshots: gates the
    # committed drop set and rides this fold's commits forward
    base = base_stamp(catalog)

    # the delta, hashed once: every tier below reads url/text/text_sha
    # from these blocks (text_sha matches the snapshot schema, so the
    # signatures union below stays aligned)
    new_docs = materialise(lin.observe(
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
    # BROADCAST the delta's full hash set into the old scan (sha
    # column only) — map-side, the old side never shuffles, but the
    # scan still reads the WHOLE old (url, text_sha) projection: the
    # plain parquet snapshot has no layout the probe could prune by,
    # so this is one O(|corpus|) pass of two slim columns per fold. A
    # membership prefilter on the delta side (operators/bloom.py)
    # would only shrink the broadcast, not this scan, so none runs.
    # Materialised: consumed by the matched-edge union AND the
    # re-fetch signature skip below.
    exact_cross = materialise(
        old_sigs.select(F.col("url").alias("id_b"), "text_sha")
        .join(
            F.broadcast(
                new_hashed.select(F.col("url").alias("id_a"), "text_sha")
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
    # signed with the BASE corpus's drop set (signatures.py store)
    new_sigs = materialise(
        with_signatures(
            to_sign, text_col=text_col, cfg=cfg, id_col="url",
            hot_hashes=committed_drop_set(catalog, spark, cfg, base),
        ).join(new_hashed, "url"),
        caches,
    )

    # ---- minhash tier vs old ---------------------------------------
    # The incremental contract is delta ≪ corpus, so the delta's band
    # keys (|delta| × 32 longs) BROADCAST and the old band stream is a
    # map-side scan of the (url, minhash) columns of EVERY old row,
    # whose band keys are recomputed here — the corpus is never
    # shuffled, mirroring the exact tier above. For a delta too
    # large to broadcast, run the full pipeline instead; the crossover
    # is roughly where |delta| stops fitting a broadcast anyway.
    nb = materialise(
        band_keys(new_sigs, "url", "minhash", cfg).select(
            F.col("url").alias("id_a"), "band_key"
        ),
        caches,
    )
    ob_hit = materialise(
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
    cross_pairs = materialise(
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

    # ---- minhash tier within the increment (normal bucket path) ----
    # materialised: exact_jaccard_edges reads its pairs three times
    intra_cands = materialise(
        candidate_pairs(new_sigs, "url", "minhash", cfg, caches=caches),
        caches,
    )
    near_intra = exact_jaccard_edges(intra_cands, new_sigs, "url", cfg).select(
        "id_a", "id_b"
    )
    # exact tier within the increment: the batch plan's star edges
    intra_exact = exact_star_edges(new_hashed)

    # ---- frozen-base clustering ------------------------------------
    # old matches become edges to the OLD CLUSTER LABEL (not the old
    # doc), so one old cluster is one vertex and its label is frozen.
    # Vertex tags order the labeling: every old label ("\x00") sorts
    # before every delta url ("\x01"), so CC's min-id label is already
    # the frozen-base answer — the component's smallest old label if
    # it holds one (labels are frozen: first occurrence wins across
    # BATCHES, the reference's first-wins order lifted to increments),
    # else its smallest delta url. The same device as
    # dedup_exact.or_key_components; nothing reads the old labels
    # beyond the matched ones.
    def delta(c):
        return F.concat(F.lit("\x01"), F.col(c)).alias(c)

    matched = lin.observe(
        old_clusters.withColumnRenamed("url", "id_b")
        .join(F.broadcast(exact_cross.unionByName(near_cross)), "id_b")
        .select(delta("id_a"),
                F.concat(F.lit("\x00"), "cluster_id").alias("id_b"))
        .distinct(),
        "incr_old_matches",
    )
    # ONE eager materialization of the full edge set before CC, so
    # CC's probe reads blocks. Its row count rides the same job
    # (Observation).
    edge_obs = Observation()
    all_edges = materialise(
        matched.unionByName(
            near_intra.unionByName(intra_exact)
            .select(delta("id_a"), delta("id_b"))
        ).observe(edge_obs, F.count(F.lit(1)).alias("rows")),
        caches,
    )
    # bounded wait, never Observation.get: a metric that does not fire
    # must cost its record, not hang the fold
    edge_stats = Lineage.get_fired(edge_obs, timeout=10.0)
    if edge_stats is not None:
        lin.record("incr_edges", **edge_stats)
    comp = connected_components(all_edges.select(
        F.col("id_a").alias("u"), F.col("id_b").alias("v")
    ))

    # a new doc that bridges two old clusters joins the smaller label;
    # every other old label in its component is one a later compaction
    # retires. The count rides the assignments pass (Observation). The
    # optimizer drops the observed node when comp is empty, so an
    # edgeless fold records its 0 here
    if edge_stats is not None and edge_stats["rows"] == 0:
        lin.record("clusters_bridged", n=0)
    else:
        comp = lin.observe(
            comp, "clusters_bridged",
            n=F.count_if(F.col("u").startswith("\x00")
                         & (F.col("u") != F.col("component"))),
        )
    # delta rows only, both tags stripped; a doc with no edge is its
    # own cluster
    assignments = (
        new_docs.select("url")
        .join(
            comp.filter(F.col("u").startswith("\x01")).select(
                F.substr("u", F.lit(2)).alias("url"),
                F.substr("component", F.lit(2)).alias("cluster_id"),
            ),
            "url", "left",
        )
        .select(
            "url",
            F.coalesce(F.col("cluster_id"), F.col("url")).alias("cluster_id"),
        )
    )
    assignments = lin.observe(assignments, "incr_assigned").persist()
    caches.append(assignments)

    # next increment sees this one: union the snapshots. At real
    # scale these are Iceberg APPENDs, not rewrites. The commit is
    # IDEMPOTENT under batch replay (streaming restart, crash between
    # the two table writes): old_sigs/old_clusters already exclude the
    # batch's urls (the replay anti-join above), so a re-applied
    # batch's committed rows are replaced, and since its assignments
    # are deterministic (frozen base labels + exact-match-to-self) the
    # replacement is row-identical. ``base``: see signatures.base_stamp.
    meta = {"incremental": True, "base": base, **(snapshot_meta or {})}
    catalog.write("signatures", old_sigs.unionByName(new_sigs), meta=meta)
    catalog.write("clusters", old_clusters.unionByName(assignments),
                  meta=meta)

    return IncrementalResult(assignments=assignments, lineage=lin,
                             caches=caches)
