"""Candidate verification: exact Jaccard + substring containment,
both whole-stage codegen.

Stage 4 (north_rule: "per-partition suffix-array exact-substring
verification"). Candidate pairs from LSH/SimHash are re-checked:

- ``exact_jaccard_edges``: exact shingle-set Jaccard
  (``shingle_jaccard``: array_intersect/array_union sizes) —
  whole-stage codegen, no UDF; keeps pairs with
  J >= cfg.jaccard_threshold.
- ``containment_edges``: detects page-inside-page duplication that
  Jaccard misses when the outer page is much larger: a codegen
  ``contains(outer, inner)`` filter behind a 64-char prefix probe —
  zero Python, zero grouping shuffle.

Why ``contains`` and not the suffix array the north_rule names: a
suffix array pays off only when many probes share one haystack, and
here each outer text meets a handful of candidate inners. Building
the array costs more than scanning the text once per probe, and the
codegen scan needs no Python crossing and no grouping by document.
Both decide the same predicate; ``tests/oracles.py`` keeps the
suffix-array check as an oracle the codegen path is pinned against.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from acxspark.config import DEFAULT_CONFIG, DedupConfig


def _paired_rows(docs: DataFrame, pairs: DataFrame, id_col: str,
                 col: str) -> DataFrame:
    """(id, ``col``) of the ``docs`` whose id appears in any pair — both
    verifiers' participating-id prune."""
    pair_ids = (
        pairs.select(F.col("id_a").alias(id_col))
        .unionByName(pairs.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    return docs.select(id_col, col).join(pair_ids, id_col, "left_semi")


# ---------------------------------------------------------------- jaccard


def shingle_jaccard(sh_a: str, sh_b: str) -> Column:
    """Exact Jaccard of two shingle-array columns (distinct elements;
    an empty union reads 0) — the engine's one Jaccard expression:
    ``exact_jaccard_edges`` (the batch plan's and the crawl fold's
    verify) and the streaming flagger each filter ``>= τ`` on it."""
    inter = F.size(F.array_intersect(sh_a, sh_b))
    union = F.size(F.array_union(sh_a, sh_b))
    return inter / F.greatest(union, F.lit(1))


def exact_jaccard_edges(pairs: DataFrame, docs_with_shingles: DataFrame,
                        id_col: str,
                        cfg: DedupConfig = DEFAULT_CONFIG) -> DataFrame:
    """pairs(id_a,id_b) ⋈ shingles → (id_a, id_b, jaccard) filtered at τ.

    Two hash joins on the doc id (both sides pruned to id+shingles);
    the Jaccard itself is array_intersect/union sizes inside codegen.

    The shingle side is first semi-joined down to the ids that appear
    in any pair: shingle arrays are the widest rows in the pipeline
    (~kB/doc) and candidates usually touch a small fraction of the
    corpus, so pruning BEFORE the pair joins keeps the wide rows out
    of (most of) the join shuffles. AQE broadcasts the id list when
    it is small; when pairs are huge the semi-join degrades to one
    full shuffle of the shingle side — still no worse than the
    un-pruned second pair join it replaces. Callers that consume the
    pairs plan more than once (this joins ``pairs`` twice more)
    should pass a persisted ``pairs``, as plans/pipeline.py does.
    """
    sh = _paired_rows(docs_with_shingles, pairs, id_col, "shingles")
    a = sh.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b"))
    return (
        pairs.join(a, "id_a").join(b, "id_b")
        .withColumn("jaccard", shingle_jaccard("sh_a", "sh_b"))
        .filter(F.col("jaccard") >= cfg.jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ------------------------------------------------------------ containment


def containment_edges(pairs: DataFrame, docs: DataFrame, id_col: str,
                      text_col: str = "text",
                      min_inner_chars: int = 64) -> DataFrame:
    """Mark candidate pairs where one text contains the other.

    The substring decision runs entirely inside whole-stage codegen:
    ``contains(outer, inner)`` is exact substring over code points
    (surrogate pairs can't half-match because the needle is
    well-formed), the shorter text is the inner one (text_a on equal
    lengths), and an inner text under ``min_inner_chars`` or a NULL
    text is never a containment. A cheap probe (does inner's
    first-64-char prefix occur in outer?) gates the full scan so a
    non-matching pair costs one short ``locate``, and Java's naive
    indexOf can only degenerate on pairs that already share a 64-char
    block. There are no groups, so there is no group-size cap.
    """
    # texts are the heaviest column: pruned before the pair joins
    d = _paired_rows(docs, pairs, id_col, text_col)
    j = (
        pairs.join(d.select(F.col(id_col).alias("id_a"), F.col(text_col).alias("text_a")), "id_a")
        .join(d.select(F.col(id_col).alias("id_b"), F.col(text_col).alias("text_b")), "id_b")
    )
    inner = F.when(
        F.length("text_a") <= F.length("text_b"), F.col("text_a")
    ).otherwise(F.col("text_b"))
    outer = F.when(
        F.length("text_a") <= F.length("text_b"), F.col("text_b")
    ).otherwise(F.col("text_a"))
    return (
        j.select("id_a", "id_b", inner.alias("_in"), outer.alias("_out"))
        .filter(F.length("_in") >= min_inner_chars)
        # probe-then-scan: the 64-char prefix locate rejects the
        # overwhelming share of non-containments at bounded cost
        .filter(F.contains(F.col("_out"), F.substring(F.col("_in"), 1, 64)))
        .filter(F.contains(F.col("_out"), F.col("_in")))
        .select("id_a", "id_b")
    )
