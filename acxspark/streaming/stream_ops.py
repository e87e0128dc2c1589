"""Structured Streaming operators — the incremental-ingest extension.

The reference is batch-only (SURVEY §2.10); its incremental property
(atomic tmp+rename save, resume from last good file) maps to Spark as
checkpointed streaming queries. These are the streaming twins of the
batch stages, for the ingest side of the 100 TB pipeline:

- ``hourly_rollup``: event-time tumbling window + watermark (late data
  bounded, state evicted) — the streaming form of
  queries.events_hourly.
- ``streaming_exact_dedup``: dropDuplicatesWithinWatermark on the
  content key — the streaming form of the first-wins exact tier
  (winner = first arrival, which IS the reference's stream-order
  semantics, src/cli.cpp:289-308, made physical).
- ``streaming_validate``: the validate predicate as a pass-through
  projection (stateless — runs at source rate).

All return UNSTARTED DataFrames; callers pick sink/trigger. Tests run
them with trigger(availableNow=True) + memory sink for determinism.

Scale notes: watermark delay bounds state size (state ~ distinct keys
within the lag window, not corpus); the shuffle key for dedup state is
the content hash → uniform; rollup state is (window × type) → tiny.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from acxspark.functions.validate import record_valid


def hourly_rollup(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Event-time hourly counts/sums per event_type with late-data
    tolerance = ``watermark``; emits once the window is closed."""
    # watermarks require TIMESTAMP (LTZ); parquet NTZ columns are cast
    # (session TZ is pinned UTC in session.py, so the cast is lossless)
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), F.col("event_type"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def streaming_exact_dedup(
    docs: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """First-arrival-wins content dedup within the watermark horizon.

    dropDuplicatesWithinWatermark keys state on the sha2 content hash;
    state for a key is dropped once the watermark passes it, so memory
    is bounded by the duplicate-arrival lag, not the corpus size.

    NULL-text rows (fetch failures carrying metadata only) bypass the
    dedup: sha2(NULL) is NULL for all of them, and the stateful dedup
    would collapse every such record within the horizon into one
    survivor — they are not duplicates of each other."""
    docs = docs.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    keyed = docs.withColumn("_content_key", F.sha2(F.col(text_col), 256))
    with_text = keyed.filter(F.col("_content_key").isNotNull())
    null_text = keyed.filter(F.col("_content_key").isNull()).drop("_content_key")
    deduped = (
        with_text.withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["_content_key"])
        .drop("_content_key")
    )
    return deduped.unionByName(null_text)


def streaming_validate(docs: DataFrame, name_col: str, email_col: str) -> DataFrame:
    """Stateless validate projection — per-record valid flag + reason
    (reference src/cli.cpp:943-949 policy-violation emission)."""
    ok = record_valid(F.col(name_col), F.col(email_col))
    return docs.withColumn("valid", ok).withColumn(
        "violation",
        F.when(ok, F.lit(None).cast("string"))
        .when(F.col(name_col).isNull() | (F.length(name_col) == 0), F.lit("empty_name"))
        .otherwise(F.lit("bad_email")),
    )


def streaming_near_dup_flags(
    stream_docs: DataFrame,
    corpus_sigs: DataFrame,
    cfg=None,
    text_col: str = "text",
    url_col: str = "url",
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Flag streaming docs that NEAR-duplicate a static corpus:
    (url, ts, dup_of, jaccard) — at most one flag per url within the
    watermark horizon.

    The streaming face of the incremental plan (plans/incremental.py):
    ``corpus_sigs`` is the committed signature snapshot (url, shingles,
    minhash, ...); the incoming stream computes its signatures in the
    same fused Arrow pass, explodes band keys, and matches via a
    STREAM-STATIC equi-join on band_key — fully supported by
    Structured Streaming with no stream-side state for the join; the
    only stateful operator is the final
    ``dropDuplicatesWithinWatermark`` that collapses a doc's multiple
    band hits to one flag, keyed on url (state bounded by the
    watermark lag, not the corpus).

    Scale: the static side is the corpus band table — at 10^12 docs
    that is served as a bucketed table the join co-locates against,
    and the exact-Jaccard re-check joins the slim (url, shingles)
    snapshot. Exactly the new×old half of the incremental plan, at
    source rate. Raises ``ValueError`` under ``shingle_max_doc_freq``:
    the stream has no corpus drop set to sign with.
    """
    from acxspark.config import DEFAULT_CONFIG
    from acxspark.operators.lsh import band_struct_col
    from acxspark.operators.signatures import signature_col
    from acxspark.operators.verify import shingle_jaccard

    cfg = cfg or DEFAULT_CONFIG
    if cfg.shingle_max_doc_freq is not None:
        raise ValueError("a stream cannot apply shingle_max_doc_freq")
    docs = stream_docs.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    sigs = docs.withColumn("_sig", signature_col(F.col(text_col), cfg)).select(
        F.col(url_col), F.col(ts_col),
        F.col("_sig.shingles").alias("_sh_a"),
        F.col("_sig.minhash").alias("_mh"),
    )
    stream_bands = sigs.select(
        url_col, ts_col, "_sh_a",
        F.explode(band_struct_col("_mh", cfg)).alias("_b"),
    ).select(url_col, ts_col, "_sh_a", F.col("_b.band_key").alias("band_key"))

    # SLIM band rows on the static side — (dup_of, band_key) longs
    # only. Carrying the corpus shingle arrays through the band
    # explode replicated every array lsh_bands× per micro-batch scan,
    # the byte volume the fold's new×old check (plans/incremental.py)
    # keeps off its old side; the arrays join in AFTER the band match,
    # once per matched candidate, from the unexploded snapshot.
    corpus_bands = (
        corpus_sigs.select(
            F.col(url_col).alias("dup_of"),
            F.explode(band_struct_col("minhash", cfg)).alias("_b"),
        )
        .select("dup_of", F.col("_b.band_key").alias("band_key"))
    )
    corpus_sh = corpus_sigs.select(
        F.col(url_col).alias("dup_of"), F.col("shingles").alias("_sh_b")
    )

    matches = (
        stream_bands.join(corpus_bands, "band_key")  # stream-static
        .select(url_col, ts_col, "_sh_a", "dup_of")
        .join(corpus_sh, "dup_of")  # slim shingle lookup, stream-static
        .withColumn("jaccard", shingle_jaccard("_sh_a", "_sh_b"))
        .filter(F.col("jaccard") >= cfg.jaccard_threshold)
        .select(url_col, ts_col, "dup_of", F.round("jaccard", 4).alias("jaccard"))
    )
    return matches.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        [url_col]
    )


def streaming_clean_gate(
    docs: DataFrame,
    id_col: str = "url",
    text_col: str = "text",
    quality_min: float = 0.3,
    tok_bounds: tuple[int, int] = (5, 50_000),
    gopher_structural: bool = True,
) -> DataFrame:
    """The curation clean gate (plans/curate.apply_clean_gate) on a
    stream: lang-id + quality + token bounds + repetition + Gopher
    structural rules. STATELESS pass-through projection — runs at
    source rate with zero state, so the ingest side of the 100 TB
    pipeline gates pages as they arrive and only survivors ever land
    in the corpus table (the batch tiers then dedup a pre-cleaned
    corpus). Exactly the batch expression — stream == batch is
    test-asserted (test_streaming)."""
    from acxspark.plans.curate import apply_clean_gate

    return apply_clean_gate(
        docs, id_col, text_col, quality_min, tok_bounds, gopher_structural
    )
