"""Exact n-gram Jaccard near-dup pairs — fully relational, oracle-able.

Unlike the MinHash tier (probabilistic, operators/signatures.py), this
computes EXACT token-n-gram Jaccard via explode + self-join — the
deterministic ANSI-SQL-expressible near-dup operator the DuckDB oracle
can verify bit-for-bit. It doubles as the ground-truth generator the
recall tests compare the MinHash tier against on real tables.

Scale notes:
- the join key is the n-gram string; frequent boilerplate grams are
  the skew risk → ``max_doc_freq`` drops grams appearing in more than
  that many docs (an idf cut: a gram in 10^6 docs contributes 10^12
  candidate pairs and zero discrimination). Same defense as the LSH
  hot-band cap (operators/lsh.py).
- pair aggregation is a map-side-combinable count — no window.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from acxspark.functions.normalize import canonical_text, tokens


def ngrams(text_col, n: int = 3) -> Column:
    """array<string> of distinct word n-grams of canonical text; docs
    shorter than n tokens produce their full token string."""
    toks = tokens(text_col)
    cnt = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(cnt - (n - 1), F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    return F.array_distinct(grams)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.6,
    max_doc_freq: int | None = None,
    jaccard_decimals: int = 4,
) -> DataFrame:
    """(id_a < id_b, jaccard) for pairs with n-gram Jaccard >= threshold.

    |A∩B| via groupBy(pair).count over the gram-equi-join; |A∪B| =
    |A|+|B|-|A∩B| from per-doc distinct-gram counts (broadcast-sized
    per-doc stats at test scale; a plain shuffled join at corpus scale).
    NOTE: when ``max_doc_freq`` filters grams, Jaccard is computed over
    the SURVIVING gram space on both sides (intersection and sizes),
    so the estimate stays internally consistent.

    The join/groupBy key is xxhash64(gram), not the gram string: the
    n-gram text never leaves its originating row, so the shuffle moves
    8-byte longs instead of ~25-byte strings (64-bit collisions are
    ~1e-7 at 10^9 distinct grams — far below the jaccard rounding).
    """
    # persisted: the exploded gram rows feed the doc-freq cut, the
    # per-doc sizes, and both self-join sides — without the cache the
    # gram scan (the expensive text pass) runs up to four times
    from acxspark.operators.lsh import track_cache

    g = track_cache(df.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(
                F.transform(ngrams(F.col(text_col), n), lambda s: F.xxhash64(s))
            )
        ).alias("gram"),
    ).persist(), None)  # released via lsh.release_band_caches()
    if max_doc_freq is not None:
        hot = (
            g.groupBy("gram")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") > max_doc_freq)
            .select("gram")
        )
        g = g.join(F.broadcast(hot), "gram", "left_anti")
    sizes = g.groupBy(id_col).agg(F.count("*").alias("n_grams"))
    a = g.select(F.col("gram"), F.col(id_col).alias("id_a"))
    b = g.select(F.col("gram"), F.col(id_col).alias("id_b"))
    inter = (
        a.join(b, "gram")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_grams").alias("na"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_grams").alias("nb"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")),
                jaccard_decimals,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_dedup_survivors(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.6,
) -> DataFrame:
    """First-wins survivors under transitive n-gram-Jaccard identity.

    Pairs → connected components → keep the min-id doc per component
    (the reference's first-occurrence-wins semantics,
    reference src/cli.cpp:303, lifted to similarity identity).
    """
    from acxspark.operators.cc import cluster_assignments

    pairs = ngram_jaccard_pairs(df, id_col, text_col, n, threshold)
    clusters = cluster_assignments(
        df.select(id_col), id_col, pairs.select("id_a", "id_b")
    )
    return df.join(
        clusters.filter(F.col(id_col) == F.col("cluster_id")).select(id_col),
        id_col,
        "left_semi",
    )
