"""Incremental dedup: fold a NEW batch into a committed corpus state
without re-pairing the old corpus.

The production shape at 10^12 documents: the full pipeline runs once
(or rarely), committing `signatures` (exact-dup representatives +
text_sha) and `clusters` snapshots to the catalog
(plans/pipeline.py); every subsequent crawl increment runs THIS plan:

  new batch, ids tagged old "\x00" + url / delta "\x01" + url so every
  old id sorts first, through the batch plan's own operators:
    → exact tier:   sha star over the delta ∪ the old rows its sha
                    set probes (a delta doc sharing a probed sha is a
                    re-fetch)
    → signatures:   the delta rows that are not re-fetches
    → minhash tier: one capped bucket_pairs over the delta's band rows
                    ∪ the old rows of every band the delta holds (its
                    cap counts both sides, for delta×delta pairs too)
    → exact-Jaccard verify at τ over those pairs
    → clustering with a FROZEN base: old cluster labels never change
      (downstream consumers hold references to them); new docs join
      the matched old cluster, or form new clusters labeled first-wins
      among themselves
    → snapshots updated (signatures ∪ new, clusters ∪ new) so the
      NEXT increment sees this one.

Scale: old rows enter a tier (and are tagged) only once a broadcast
delta probe matched them, and one filter drops their old×old pairs,
so the quadratic term the full run paid stays paid; label resolution
reads only the old labels the delta matched, each a tagged CC vertex.
The fold is still O(|corpus|) in three places:
- the exact tier scans the whole old `text_sha` column (the
  broadcast probe prunes nothing on the old scan);
- the minhash tier recomputes 32 band keys from every old `minhash`;
- the commit rewrites the full `signatures` and `clusters` snapshots.
A fold therefore costs less than a full re-run by a constant factor,
not by |corpus|/|delta|; at sizes where that matters, run the full
pipeline as a compaction.

Deliberate semantic deltas from a monolithic full run, documented:
- the containment tier (page-in-page) and the SimHash tier do not run
  across increments — schedule periodic full compactions for them;
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
# CC's vertex tags: every old id sorts before every delta id. A tagged
# old id reaches a predicate only from behind a materialised cut:
# above one, the optimizer pushes the predicate (or its inferred IS
# NOT NULL) into the snapshot scan, tagging every corpus row.
from acxspark.operators.cc import FIRST as OLD, SECOND as NEW
from acxspark.operators.cc import connected_components, has_tag, tag, untag
from acxspark.operators.dedup_exact import exact_star_edges
from acxspark.operators.lsh import band_keys, bucket_pairs
# the fold makes no candidate_pairs call; the benchmark tracer wraps it here
from acxspark.operators.lsh import candidate_pairs  # noqa: F401
from acxspark.operators.signatures import (
    base_stamp, committed_drop_set, with_signatures,
)
from acxspark.operators.verify import exact_jaccard_edges
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
    sig_snap = catalog.read(spark, "signatures")
    cluster_snap = catalog.read(spark, "clusters")
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
    # A read keyed by old ids these probes returned (the paired
    # shingles, the matched labels) reads the snapshot itself: such an
    # id is never a batch url, so a second anti-join (one more
    # broadcast job) would remove nothing.
    batch_urls = F.broadcast(new_docs.select("url"))
    old_sigs = sig_snap.join(batch_urls, "url", "left_anti")
    old_clusters = cluster_snap.join(batch_urls, "url", "left_anti")

    # ---- exact tier vs old and within -------------------------------
    # BROADCAST the delta's full hash set into the old scan (sha
    # column only) — map-side, the old side never shuffles, but the
    # scan still reads the WHOLE old (url, text_sha) projection: the
    # plain parquet snapshot has no layout the probe could prune by,
    # so this is one O(|corpus|) pass of two slim columns per fold. A
    # membership prefilter on the delta side (operators/bloom.py)
    # would only shrink the broadcast, not this scan, so none runs.
    # The probe hits are materialised tagged (see OLD). Old rows of
    # one sha share one cluster, so the star's old center stands for
    # all of them.
    old_hits = materialise(
        old_sigs.select("url", "text_sha")
        .join(F.broadcast(new_hashed.select("text_sha")), "text_sha",
              "left_semi")
        .select(tag(OLD, "url"), "text_sha"),
        caches,
    )
    exact = exact_star_edges(old_hits.unionByName(
        new_hashed.select(tag(NEW, "url"), "text_sha")
    )).filter(has_tag(NEW, "id_b"))

    # ---- signatures: EXACT RE-FETCHES SKIP THE SIGNATURE STAGE ------
    # A new doc byte-identical to a committed one (unchanged page,
    # re-crawled) needs no shingles/minhash: identical text ⇒
    # identical signature ⇒ identical band keys, so any near-dup
    # another doc would find through it, it finds through the OLD
    # copy via the cross tier, and the re-fetch (a delta doc whose sha
    # a probe hit holds) joins the old cluster through its exact edge
    # from an old star center. Real increments are dominated by
    # re-fetches, and the signature scan is the pipeline's most
    # expensive stage — this is the increment's biggest lever. The
    # skipped rows also stay OUT of the signatures snapshot union
    # below (their sha's representative is already committed), which
    # restores the full run's reps-only snapshot contract.
    to_sign = lin.observe(
        new_docs.join(F.broadcast(old_hits.select("text_sha")), "text_sha",
                      "left_anti"),
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

    # ---- minhash tier, within and vs old ---------------------------
    # ONE band table: the delta's band rows ∪ the old rows of every
    # band the delta holds. The incremental contract is delta ≪ corpus
    # (fold_batch splits a batch over cfg.incr_max_batch_rows), so the
    # delta's band keys (|delta| × 32 longs) BROADCAST and the old band
    # stream is a map-side scan of the (url, minhash) columns of EVERY
    # old row, whose band keys are recomputed here — the corpus is
    # never shuffled, mirroring the exact tier above. Materialised
    # tagged (see OLD): bucket_pairs reads it twice.
    nb = band_keys(new_sigs, "url", "minhash", cfg).select(
        tag(NEW, "url"), "band_key"
    )
    bands = materialise(
        band_keys(old_sigs, "url", "minhash", cfg)
        .join(F.broadcast(nb.select("band_key")), "band_key", "left_semi")
        .select(tag(OLD, "url"), "band_key")
        .unionByName(nb),
        caches,
    )
    # ONE bucket pass, so the cap counts every member of a band, delta
    # and corpus together, as the full run's does — for delta×delta
    # pairs too. Capping one side only is a measured catastrophe:
    # boilerplate bands shared by delta and corpus emit |new_band| ×
    # cap cross pairs per band. Old ids sort first, so a delta id_b
    # keeps exactly the delta×delta and old×delta pairs. Materialised:
    # exact_jaccard_edges reads the pairs three times, and the
    # old-shingle prune below a fourth.
    pairs = materialise(
        bucket_pairs(bands, "url", cfg.max_band_size)
        .filter(has_tag(NEW, "id_b")).distinct(),
        caches,
    )

    # ---- exact-Jaccard verify, within and vs old -------------------
    # a broadcast semi-join prunes the old (url, shingles) scan to the
    # paired rows BEFORE the shingles move: the snapshot's array column
    # is read once and never shuffles (measured: shuffling it was this
    # plan's original bottleneck). Materialised tagged (see OLD).
    paired_old = pairs.filter(has_tag(OLD, "id_a")).select(
        untag("id_a").alias("url")
    )
    old_shingles = materialise(
        sig_snap.select("url", "shingles")
        .join(F.broadcast(paired_old), "url", "left_semi")
        .select(tag(OLD, "url"), "shingles"),
        caches,
    )
    new_shingles = new_sigs.select(tag(NEW, "url"), "shingles")
    near = exact_jaccard_edges(pairs, new_shingles.unionByName(old_shingles),
                               "url", cfg).drop("jaccard")
    # materialised: read by the old-label broadcast AND the delta-side
    # union below — a broadcast subtree evaluates independently, so
    # without the cut the verify runs twice
    edges = materialise(exact.unionByName(near), caches)

    # ---- frozen-base clustering ------------------------------------
    # old matches become edges to the OLD CLUSTER LABEL (not the old
    # doc), so one old cluster is one vertex and its label is frozen.
    # With old labels tagged OLD, CC's min-id label is already the
    # frozen-base answer — the component's smallest old label if it
    # holds one (first occurrence wins across BATCHES, the reference's
    # first-wins order lifted to increments), else its smallest delta
    # url. Nothing reads the old labels beyond the matched ones.
    matched = lin.observe(
        cluster_snap.join(
            F.broadcast(edges.filter(has_tag(OLD, "id_a")).select(
                untag("id_a").alias("url"), "id_b"
            )),
            "url",
        )
        .select(F.col("id_b").alias("id_a"),
                tag(OLD, "cluster_id").alias("id_b"))
        .distinct(),
        "incr_old_matches",
    )
    # ONE eager materialization of the CC input, so CC's probe reads
    # blocks. Its row count rides the same job (Observation).
    edge_obs = Observation()
    all_edges = materialise(
        matched.unionByName(edges.filter(has_tag(NEW, "id_a")))
        .observe(edge_obs, F.count(F.lit(1)).alias("rows")),
        caches,
    )
    # bounded wait, never Observation.get: a metric that does not fire
    # must cost its record, not hang the fold
    edge_stats = Lineage.get_fired(edge_obs, timeout=10.0)
    if edge_stats is not None:
        lin.record("incr_edges", **edge_stats)
    comp = connected_components(all_edges)

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
            n=F.count_if(has_tag(OLD, "u")
                         & (F.col("u") != F.col("component"))),
        )
    # delta rows only, both tags stripped; a doc with no edge is its
    # own cluster
    assignments = (
        new_docs.select("url")
        .join(
            comp.filter(has_tag(NEW, "u")).select(
                untag("u").alias("url"),
                untag("component").alias("cluster_id"),
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
