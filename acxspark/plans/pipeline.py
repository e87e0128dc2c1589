"""The flagship near-duplicate pipeline over the webpages table.

Replaces the reference's single-node validate → normalize → dedup →
redact loop (reference src/cli.cpp:289-308 dedupe; src/cli.cpp:253-275
validate; src/policy.cpp:22-59 redact) with DataFrame stages over
``webpages(url, warc_ts, html, text, lang)`` (BASELINE.json
input_hint):

  url dedup (opt-in stage 0: newest capture per canonical URL)
  → extract (Arrow UDF, byte-identical per url)
  → exact tier   (sha2 content hash, first-wins)
  → minhash tier (shingles → signatures → LSH bands → candidates)
  → simhash tier (fingerprint → Hamming-ball candidates)
  → verify       (exact Jaccard at τ + substring containment)
  → cluster      (large-star/small-star CC, checkpointed)
  → span dedup   (opt-in ExactSubstr pass on the survivors: shared
                  token spans >= k stripped from all but their first
                  occurrence — operators/spandedup.py)
  → redact       (vectorized PII mask post-clustering, always last:
                  masking rewrites tokens)

Each stage is a pure DataFrame → DataFrame function; `run_pipeline`
wires them with lineage counters (docs scanned, pairs emitted,
clusters merged).
"""

from __future__ import annotations

from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql import types as T

from acxspark.config import DEFAULT_CONFIG, DedupConfig
from acxspark.corpus import extract_text
from acxspark.metrics import Lineage
from acxspark.operators.cc import cluster_assignments
from acxspark.operators.dedup_exact import exact_star_edges, sha_groups
from acxspark.operators.lsh import candidate_pairs
from acxspark.operators.signatures import (
    commit_drop_set, hot_shingle_hashes, with_signatures,
)
from acxspark.operators.simhash import simhash_candidate_pairs
from acxspark.operators.verify import containment_edges, exact_jaccard_edges
from acxspark.plans.blocks import Releasable, materialise


@pandas_udf(T.StringType())
def _extract_udf(html: pd.Series) -> pd.Series:
    """Deterministic text extraction — pure function of html bytes
    (per-url byte-identity invariant; library-free, corpus.extract_text)."""
    return html.map(lambda b: extract_text(b) if b is not None else None)


def extract_stage(web: DataFrame) -> DataFrame:
    """html → extracted_text + the determinism invariant column.

    The invariant "byte-identical extracted text per url" (the
    reference's normalized-email uniqueness analog,
    src/storage.cpp:126-130) is checkable downstream via
    :func:`extraction_violations`.
    """
    return web.withColumn("extracted_text", _extract_udf(F.col("html")))


def extraction_violations(web: DataFrame, url_col: str = "url",
                          text_col: str = "extracted_text") -> DataFrame:
    """Rows violating the per-url byte-identity invariant (input_hint):
    urls whose extracted text is not single-valued. Empty ⇒ the
    invariant holds. The write-side uniqueness gate of the reference
    (src/storage.cpp:126-130), promoted to a distributed assertion."""
    return (
        web.groupBy(url_col)
        .agg(F.countDistinct(F.sha2(F.col(text_col), 256)).alias("n_variants"))
        .filter(F.col("n_variants") > 1)
    )


@dataclass
class PipelineResult(Releasable):
    clusters: DataFrame      # url, cluster_id
    edges: DataFrame         # id_a, id_b, tier
    survivors: DataFrame     # canonical (first-wins) docs, redacted
    lineage: Lineage
    # release handles: the docs cache, the cuts, the band caches and (no
    # catalog) the edge cut. Read ``edges`` before release(): a released
    # block cannot be recomputed. clusters and survivors stay valid.
    caches: list = None


def run_pipeline(web: DataFrame, cfg: DedupConfig = DEFAULT_CONFIG,
                 lineage_path: str | None = None,
                 catalog=None,
                 use_extract: bool = False,
                 redact: bool = False,
                 url_dedup: bool = False,
                 span_dedup_k: int | None = None,
                 text_col: str = "text",
                 snapshot_meta: dict | None = None) -> PipelineResult:
    """With ``catalog`` set, the two expensive stage boundaries —
    ``signatures`` (the fused Arrow scan) and ``edges`` (all four
    candidate tiers) — commit snapshots stamped with the config
    fingerprint + an input stamp (row count + order-free url
    checksum). A re-run against the same catalog resumes PAST any
    stage whose snapshot matches both stamps (north_rule: any stage
    resumes from the last committed snapshot); a changed input or
    config invalidates the snapshot and the stage recomputes. CC
    additionally snapshots per round (operators/cc.py).
    ``snapshot_meta`` rides every snapshot manifest (extra keys only —
    never part of the resume stamp comparison; streaming/ingest.py
    stamps the micro-batch id through it)."""
    lin = Lineage(lineage_path, cfg.fingerprint())
    caches: list = []

    if url_dedup:
        # stage 0 (crawl order of operations): a re-crawled page —
        # same page under N capture timestamps and/or messy URL
        # variants (tracking params, case, fragments) — must not enter
        # the content tiers N times. One argmax shuffle on the
        # canonical key keeps the newest capture per page BEFORE the
        # expensive extract/signature scans; everything downstream
        # keeps the surviving row's raw url as its identity, so the
        # rest of the pipeline is unchanged. Opt-in because a
        # pre-deduped corpus (the common test path) pays the shuffle
        # for nothing.
        from acxspark.functions.url import dedup_by_canonical_url

        order = "warc_ts" if "warc_ts" in web.columns else "url"
        web = lin.observe(
            dedup_by_canonical_url(web, url_col="url", order_col=order)
            .drop("canonical_url", "n_captures"),
            "urls_after_capture_dedup",
        )

    if use_extract:
        web = extract_stage(web).withColumn(text_col, F.col("extracted_text"))
    # the plan's input stays a lazy, recomputable cache, not a cut:
    # the returned clusters and survivors read it, and must stay
    # readable after release()
    docs = lin.observe(
        web.filter(F.length(text_col) <= cfg.max_text_bytes),
        "docs_scanned",
    ).persist()
    caches.append(docs)

    spark = web.sparkSession
    stamp: dict = {}
    if catalog is not None:
        row = docs.agg(
            F.count("*").alias("n"),
            F.coalesce(F.bit_xor(F.xxhash64("url")), F.lit(0)).alias("h"),
        ).collect()[0]
        stamp = {"config": cfg.fingerprint(), "n_docs": int(row["n"]),
                 "input_hash": int(row["h"])}
    # what actually rides the manifests: the resume stamp plus any
    # caller passthrough; _fresh compares the stamp's keys only
    wmeta = {**stamp, **(snapshot_meta or {})}

    def _fresh(table: str) -> bool:
        if catalog is None or not catalog.has(table):
            return False
        m = catalog.latest_meta(table)
        return all(m.get(k) == v for k, v in stamp.items())

    # CC's round snapshots carry the input stamp, which guards a resume
    # against another edge set; keying the table name by (input, config)
    # keeps corpora or configs that share a catalog from overwriting
    # each other's resume point
    cc_table = (
        f"cc_edges-{stamp['input_hash'] & 0xFFFFFFFF:08x}-{stamp['config'][:8]}"
        if stamp else "cc_edges"
    )

    if _fresh("edges"):
        # full candidate-tier resume: every tier's output is in the
        # committed edge snapshot — jump straight to clustering
        edges = catalog.read(spark, "edges")
    else:
        # ---- exact tier: content-hash star edges url ↔ first-url ------
        # each intermediate read by more than one consumer is an eager
        # cut (plans/blocks.py). hashed feeds the sha_min groupBy AND the
        # exact-edge join: one sha256 pass over the corpus text
        hashed = materialise(docs.select(
            "url", F.sha2(F.col(text_col), 256).alias("text_sha")
        ), caches)
        # read by the exact-edge join, the representatives semi-join,
        # and (catalog path) the signature-snapshot sha join
        sha_min = materialise(sha_groups(hashed), caches)
        exact_edges = exact_star_edges(hashed, sha_min).withColumn(
            "tier", F.lit("exact")
        )

        # ---- shared signature scan: ONE fused Arrow pass, cut as slim
        # sigs blocks (url, shingles, minhash, simhash) — the text column
        # never rides the cut, so at 100 TB its footprint is the hash
        # arrays, not the corpus. Every downstream tier (LSH explode,
        # both sides of the Jaccard join, SimHash probe) reads this one
        # cut; without it the self-joins re-run the signature UDF per side.
        #
        # Near-dup tiers run on EXACT-DUP REPRESENTATIVES only (min-url
        # per content hash): byte-identical copies collide in all 32
        # bands, so each exact cluster of size k would shuffle O(k²)
        # fully-duplicated candidate rows through LSH/Jaccard/SimHash —
        # work the exact tier's star edges already did. On real web
        # crawls exact-dup mass is 30-50%, so this cuts signature compute
        # AND candidate shuffle superlinearly. Recall is unaffected: if
        # dup(A)=RA near-dups dup(B)=RB, edges A–RA, B–RB (exact) and
        # RA–RB (near) put all four in one CC component.
        reps = sha_min.select(F.col("min_url").alias("url"))
        if _fresh("signatures"):
            sigs = catalog.read(spark, "signatures")
        else:
            sign_input = docs.join(reps, "url", "left_semi")
            hot = None
            if cfg.shingle_max_doc_freq is not None:
                # derived HERE, not inside with_signatures, so folds
                # can sign with it (commit_drop_set below)
                hot = hot_shingle_hashes(sign_input, text_col, cfg)
            sigs = with_signatures(
                sign_input, text_col=text_col, cfg=cfg, id_col="url",
                hot_hashes=hot,
            )
            if catalog is not None:
                # the checkpoint anchor (docs/SCALE.md): the signature
                # table is the resume point that makes a killed job skip
                # the most expensive scan; the cut below reads the
                # committed parquet back. text_sha rides along (32 B/row)
                # so INCREMENTAL runs (plans/incremental.py) can run the
                # exact tier against this snapshot without touching old
                # text. It comes from the cut sha_min (url → sha is
                # functional and every sig row IS a min_url), never from
                # a second corpus-wide hash projection.
                rep_sha = sha_min.select(
                    F.col("min_url").alias("url"), "text_sha"
                )
                catalog.write("signatures", sigs.join(rep_sha, "url"), meta=wmeta)
                sigs = catalog.read(spark, "signatures")
                if hot is not None:
                    commit_drop_set(catalog, spark, hot, wmeta)
        sigs = materialise(sigs, caches)

        # ---- minhash tier --------------------------------------------
        cands = materialise(lin.observe(
            candidate_pairs(sigs, "url", "minhash", cfg, caches=caches),
            "pairs_emitted",
        ), caches)
        # read by the containment anti-join AND the edge union, so the
        # two sig-joins run once
        near_edges = materialise(exact_jaccard_edges(
            cands, sigs, "url", cfg
        ).select("id_a", "id_b").withColumn("tier", F.lit("near")), caches)

        # ---- simhash tier (recall supplement for tiny-edit dups) -----
        sim_edges = simhash_candidate_pairs(
            sigs, "url", "simhash", cfg, caches=caches
        ).select(
            "id_a", "id_b"
        ).withColumn("tier", F.lit("simhash"))

        # ---- containment tier (page-in-page, Jaccard-blind) ----------
        # only pairs the Jaccard tier did NOT already verify need the
        # containment check — verified pairs are already edges, and CC is
        # insensitive to duplicate edges, so re-checking them buys nothing.
        unverified = cands.join(
            near_edges.select("id_a", "id_b"), ["id_a", "id_b"], "left_anti"
        )
        contain_edges = containment_edges(
            unverified,
            docs.select("url", text_col).withColumnRenamed(text_col, "text"),
            "url",
        ).withColumn("tier", F.lit("contain"))

        edges = (
            exact_edges.unionByName(near_edges).unionByName(sim_edges)
            .unionByName(contain_edges)
        )
        # the edge set is cut once: CC iterates joins over it, and
        # without the cut every CC round would re-run all four tiers
        # above. With a catalog the committed snapshot is the cut (and
        # the resume point for the whole candidate phase).
        if catalog is not None:
            catalog.write("edges", edges, meta=wmeta)
            edges = catalog.read(spark, "edges")
        else:
            edges = materialise(edges, caches)

    # ---- clustering ---------------------------------------------------
    clusters = cluster_assignments(
        docs.select("url"), "url", edges.select("id_a", "id_b"),
        catalog=catalog, table=cc_table,
    )
    if catalog is not None:
        # the cluster snapshot is what incremental runs
        # (plans/incremental.py) join new batches against
        catalog.write("clusters", clusters, meta=wmeta)
        clusters = catalog.read(spark, "clusters")
    clusters = lin.observe(clusters, "clusters_assigned")

    # ---- survivors → (opt-in) span dedup → (opt-in) redact ------------
    # first-wins canonical: cluster_id IS the minimum url (cc.py), so
    # the survivor set is simply url == cluster_id.
    survivors = docs.join(
        clusters.filter(F.col("url") == F.col("cluster_id")).select("url"),
        "url", "left_semi",
    )
    if span_dedup_k:
        # ExactSubstr pass (Lee et al. 2021) on the SURVIVORS only —
        # the doc-level tiers above drop whole near-dup documents;
        # this strips the residual shared spans (quoted boilerplate)
        # between documents different enough to both survive. Runs on
        # survivors (≤ half the corpus on real crawls, docs/SCALE.md)
        # and BEFORE redact: masking rewrites tokens and would split
        # genuinely shared spans.
        from acxspark.operators.spandedup import span_dedup

        cleaned = span_dedup(survivors, id_col="url",
                             text_col=text_col, k=span_dedup_k)
        survivors = lin.observe(
            survivors.drop(text_col).join(
                cleaned.select(
                    "url", F.col("clean_text").alias(text_col),
                    "n_removed",
                ),
                "url",
            ),
            "span_dedup",
            rows=F.count(F.lit(1)),
            tokens_removed=F.sum("n_removed"),
        ).drop("n_removed")
    if redact:
        # post-clustering, never before: masking changes content
        # hashes and would split exact clusters (north_rule order)
        from acxspark.plans.redact import scrub_text

        survivors = scrub_text(survivors, text_col)

    return PipelineResult(clusters=clusters, edges=edges,
                          survivors=survivors, lineage=lin, caches=caches)
