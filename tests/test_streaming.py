"""Structured Streaming tests: availableNow trigger + memory sink,
checked against the equivalent batch computation."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from acxspark.streaming import stream_ops as S


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("events_stream"))
    spark.read.parquet("/root/testdata/sf0.001/events.parquet").write.mode(
        "overwrite"
    ).parquet(path)
    return path


def _run_to_memory(sdf, name: str, ckpt: str):
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode("append" if not sdf.isStreaming or True else "append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_hourly_rollup_matches_batch(spark, events_dir, tmp_path):
    schema = spark.read.parquet(events_dir).schema
    stream = spark.readStream.schema(schema).parquet(events_dir)
    sdf = S.hourly_rollup(stream, watermark="0 seconds")
    q = (
        sdf.writeStream.format("memory")
        .queryName("rollup")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck1"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["hour"], r["event_type"]): (r["n"], r["sum_value"])
        for r in spark.sql("SELECT * FROM rollup").collect()
    }
    batch = (
        spark.read.parquet(events_dir)
        .groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
        )
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
    )
    want = {
        (r["hour"], r["event_type"]): (r["n"], r["sum_value"])
        for r in batch.collect()
    }
    # append mode emits only watermark-closed windows; with availableNow
    # + 0s watermark the final window may be withheld — everything
    # emitted must match batch, and coverage must be near-total.
    assert got and all(want[k] == v for k, v in got.items())
    assert len(got) >= len(want) - 5


def test_streaming_exact_dedup_first_arrival_wins(spark, tmp_path):
    src = str(tmp_path / "docs")
    spark.createDataFrame(
        [
            (1, "alpha beta", "2025-01-01 10:00:00"),
            (2, "alpha beta", "2025-01-01 10:30:00"),  # dup within horizon
            (3, "gamma delta", "2025-01-01 11:00:00"),
        ],
        "doc_id long, text string, ts_s string",
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s").coalesce(1).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    sdf = S.streaming_exact_dedup(stream, watermark="2 hours")
    q = (
        sdf.writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT doc_id FROM dedup_stream").collect()
    ids = sorted(r["doc_id"] for r in rows)
    assert len(ids) == 2 and 3 in ids and (1 in ids or 2 in ids)
    assert ids != [1, 2]  # exactly one of the dup pair survived


def test_streaming_validate_stateless(spark, tmp_path):
    src = str(tmp_path / "contacts")
    spark.createDataFrame(
        [("Ann", "ann@x.com"), ("", "b@x.com"), ("Cid", "not-an-email")],
        "name string, email string",
    ).coalesce(1).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        S.streaming_validate(stream, "name", "email")
        .writeStream.format("memory")
        .queryName("validate_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck3"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["name"]: (r["valid"], r["violation"])
        for r in spark.sql("SELECT * FROM validate_stream").collect()
    }
    assert got["Ann"] == (True, None)
    assert got[""] == (False, "empty_name")
    assert got["Cid"] == (False, "bad_email")


def test_streaming_near_dup_flags_vs_static_corpus(spark, tmp_path):
    """Stream-static near-dup flagging: a streamed doc that
    near-duplicates the committed corpus is flagged exactly once with
    its match; novel docs are not flagged."""
    import pyspark.sql.functions as F

    from acxspark.config import DedupConfig
    from acxspark.operators.signatures import with_signatures
    from acxspark.streaming.stream_ops import streaming_near_dup_flags

    base = ("the quick brown fox jumps over the lazy dog while "
            "seventeen ships sail quietly past the harbor wall "
            "under a pale winter sky full of patient birds ")
    corpus = spark.createDataFrame(
        [("a1", base), ("a2", "unrelated corpus text about engines " * 6)],
        "url string, text string",
    )
    corpus_sigs = with_signatures(corpus, text_col="text",
                                  cfg=DedupConfig(), id_col="url").cache()

    src = tmp_path / "stream_src"
    spark.createDataFrame(
        [("b1", "2024-01-01 00:00:01", base.replace("winter", "summer")),
         ("b2", "2024-01-01 00:00:02", "completely novel streamed text " * 8)],
        "url string, ts string, text string",
    ).write.parquet(str(src))

    stream = spark.readStream.schema(
        "url string, ts string, text string"
    ).parquet(str(src))
    flags = streaming_near_dup_flags(stream, corpus_sigs, cfg=DedupConfig())
    q = (
        flags.writeStream.format("memory").queryName("nd_flags")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM nd_flags").collect()
    got = {r["url"]: r["dup_of"] for r in rows}
    assert got == {"b1": "a1"}  # flagged once, right match, b2 absent
    assert all(r["jaccard"] >= 0.68 for r in rows)


def test_streaming_near_dup_flags_rejects_a_doc_frequency_cut(spark,
                                                              tmp_path):
    """The stream signs without the corpus's hot-shingle drop set, so
    under ``shingle_max_doc_freq`` its signatures differ from a cut
    corpus snapshot's and a byte-identical copy went unflagged. The
    flagger must refuse the config instead of missing silently."""
    from acxspark.config import DedupConfig
    from acxspark.operators.signatures import with_signatures
    from acxspark.streaming.stream_ops import streaming_near_dup_flags

    corpus = spark.createDataFrame(
        [("a0", "shared boilerplate words " * 10)], "url string, text string"
    )
    corpus_sigs = with_signatures(corpus, text_col="text",
                                  cfg=DedupConfig(), id_col="url")
    src = tmp_path / "stream_src"
    spark.createDataFrame(
        [("b0", "2024-01-01 00:00:01", "shared boilerplate words " * 10)],
        "url string, ts string, text string",
    ).write.parquet(str(src))
    stream = spark.readStream.schema(
        "url string, ts string, text string"
    ).parquet(str(src))
    with pytest.raises(ValueError, match="shingle_max_doc_freq"):
        streaming_near_dup_flags(stream, corpus_sigs,
                                 cfg=DedupConfig(shingle_max_doc_freq=0.5))


def test_streaming_clean_gate_matches_batch(spark, tmp_path):
    """The curation gate is stateless: the streaming pass over the
    same files yields exactly the batch survivor set + columns."""
    from acxspark.plans.curate import apply_clean_gate

    src = str(tmp_path / "pages")
    good = "the quick brown fox jumps over a lazy dog near the barn gate"
    rows = [(f"http://h{i}.ex/p{i}", f"{good} word{i} item{i}") for i in range(20)]
    rows.append(("http://bad.ex/short", "tiny"))           # token floor
    rows.append(("http://bad.ex/sym", "# # # # # # # #"))  # gopher r_hash/alpha
    spark.createDataFrame(rows, "url string, text string").coalesce(
        1
    ).write.parquet(src)

    batch = {
        tuple(r)
        for r in apply_clean_gate(spark.read.parquet(src)).collect()
    }
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        S.streaming_clean_gate(stream)
        .writeStream.format("memory")
        .queryName("gate_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_gate"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {tuple(r) for r in spark.sql("SELECT * FROM gate_stream").collect()}
    assert got == batch
    assert len(got) == 20  # both bad pages gated out
