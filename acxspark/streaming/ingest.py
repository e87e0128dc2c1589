"""Streaming crawl ingestion: fold micro-batches of new web pages into
the committed dedup state, exactly-once.

The batch plans already carry the heavy machinery — ``run_pipeline``
commits `signatures`/`edges`/`clusters` snapshots and
``run_incremental`` folds a delta against them without re-pairing the
old corpus, though it still scans and rewrites the old snapshots
(plans/incremental.py). This module is the Structured Streaming
wrapper that turns a continuous crawl feed into a sequence of those
increments (north_rule: resumable from checkpoint with per-partition
lineage + metrics; reference analog: the CLI's append-and-dedupe loop
`/root/reference/src/cli.cpp:289-308`, lifted from one process to a
micro-batched stream):

  readStream(new pages) → foreachBatch(fold_batch) where
    batch 0 against an empty catalog  → run_pipeline (cold start)
    every later batch                 → run_incremental

Exactly-once, concretely. Structured Streaming's foreachBatch is
at-least-once: after a crash the restarted query re-delivers the last
un-checkpointed micro-batch with the SAME batch_id. Two layers make
the re-delivery harmless:

1. fast path — the batch id is stamped into every snapshot manifest
   this fold commits (``snapshot_meta``); a replayed id ≤ the clusters
   manifest's ``ingest_batch_id`` is skipped without touching data.
2. slow path (crash BETWEEN the increment's two table commits, so the
   stamp never landed) — re-running the increment is idempotent by
   construction: every already-committed doc exact-matches its own
   committed copy and gets back its committed (frozen) label, and the
   snapshot unions are url-keyed anti-join unions, so the re-commit is
   row-identical (tested in tests/test_ingest.py).

The stream checkpoint (Spark's own) and the catalog snapshots are the
two durable states; batch ids are only meaningful per checkpoint dir,
so keep the pair (checkpoint_dir, catalog) together — pointing an old
catalog at a fresh checkpoint restarts ids at 0 and the fast-path
guard would skip real data (fold_batch raises loudly instead of
guessing: see the stale-id check).
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame

from acxspark.config import DEFAULT_CONFIG, DedupConfig


def last_committed_batch(catalog) -> int | None:
    """The newest micro-batch id stamped into the clusters manifest,
    or None (catalog empty, or seeded by a non-streaming run)."""
    if not catalog.has("clusters"):
        return None
    bid = catalog.latest_meta("clusters").get("ingest_batch_id")
    return int(bid) if bid is not None else None


def fold_batch(batch_df: DataFrame, batch_id: int, catalog,
               cfg: DedupConfig = DEFAULT_CONFIG,
               text_col: str = "text",
               lineage_dir: str | None = None,
               out_dir: str | None = None) -> dict:
    """Fold ONE micro-batch into the committed state; returns a summary
    dict (also usable directly for non-streaming batch drivers that
    want the same exactly-once ledger semantics).

    ``out_dir`` (optional): per-batch cluster assignments land under
    ``out_dir/batch-<id>`` for downstream consumers that key on the
    increment, in addition to the cumulative `clusters` snapshot.
    ``lineage_dir`` (optional): per-batch lineage counters append to
    ``lineage_dir/batch-<id>.jsonl``.
    """
    last = last_committed_batch(catalog)
    if last is not None and batch_id <= last:
        if batch_id < last:
            # a replay can only re-deliver the LAST batch; an id from
            # further back means this catalog is paired with a
            # different (newer) checkpoint dir — refusing beats
            # silently dropping a real increment
            raise ValueError(
                f"batch_id {batch_id} predates committed "
                f"ingest_batch_id {last}: catalog/checkpoint mismatch"
            )
        # side-output recovery: the catalog commit stamps the ledger
        # BEFORE the per-batch out_dir write, so a crash between them
        # replays into this skip path with the batch's parquet missing
        # forever. The assignments are recoverable — the committed
        # clusters snapshot holds every replayed url's label — so
        # rebuild the batch dir from it. (Per-batch LINEAGE counters
        # are observe()-time artifacts and are NOT recoverable here;
        # lineage is best-effort observability, the ledger + snapshots
        # are the durable state.)
        if out_dir is not None:
            from pyspark.sql import functions as F

            spark_ = batch_df.sparkSession
            bdir = Path(out_dir) / f"batch-{batch_id}"
            # only the urls the fold could assign: both folds
            # (run_pipeline, run_incremental) drop null and over-long
            # texts before clustering (the max_text_bytes guard), so
            # those urls never reach the out_dir and must not count as
            # missing
            want = (
                batch_df.filter(F.length(text_col) <= cfg.max_text_bytes)
                .select("url").distinct()
            )
            complete = False
            if bdir.exists():
                try:
                    have = spark_.read.parquet(str(bdir))
                    # a split-path crash can leave SOME sub=j dirs:
                    # completeness, not existence, is the test
                    complete = (
                        want.join(have.select("url"), "url", "left_anti")
                        .limit(1).count() == 0
                    )
                except Exception:  # unreadable partial dir
                    complete = False
            if not complete:
                (
                    catalog.read(spark_, "clusters")
                    .join(want, "url", "left_semi")
                    .write.mode("overwrite")
                    .parquet(str(bdir))
                )
                return {"batch_id": batch_id,
                        "action": "skipped_replay_outdir_recovered"}
        return {"batch_id": batch_id, "action": "skipped_replay"}

    lineage_path = (
        str(Path(lineage_dir) / f"batch-{batch_id}.jsonl")
        if lineage_dir else None
    )
    meta = {"ingest_batch_id": int(batch_id)}
    # A micro-batch typically arrives in very few partitions (one per
    # source file under maxFilesPerTrigger, or createDataFrame's
    # driver-local split), and every narrow stage downstream — the
    # Arrow signature scan above all — inherits that width and runs
    # serially on an otherwise idle cluster. Spread the batch to the
    # session's parallelism BEFORE the fold; safe because the whole
    # pipeline is partitioning-independent (checksums bit-identical
    # across 1..32 cores, BENCH/*.jsonl).
    # ...but only when the batch is wide enough to amortize the
    # shuffle: below ~4 rows/core the serial narrow scan beats moving
    # every text byte through an exchange (the probe is one
    # short-circuiting limit+count job, so it costs a few ms on
    # exactly the batches where the repartition would have been
    # waste).
    target = batch_df.sparkSession.sparkContext.defaultParallelism
    floor = 4 * target
    budget = cfg.incr_max_batch_rows
    # ONE bounded probe answers the emptiness check and both width
    # gates (repartition floor and the oversized-split budget below) —
    # budget ≥ floor in any realistic config, so probing to
    # max(floor, budget)+1 costs the same scan the budget probe alone
    # did
    probe_cap = max(floor, budget)
    n_probe = batch_df.limit(probe_cap + 1).count()
    if n_probe == 0:
        return {"batch_id": batch_id, "action": "empty"}
    if batch_df.rdd.getNumPartitions() < target and n_probe > floor:
        batch_df = batch_df.repartition(target)
    if not catalog.has("signatures"):
        # cold start: the first batch IS the corpus; run the full
        # pipeline so the catalog gains all four snapshots
        from acxspark.plans.pipeline import run_pipeline

        res = run_pipeline(batch_df, cfg=cfg, text_col=text_col,
                           catalog=catalog, lineage_path=lineage_path,
                           snapshot_meta=meta)
        assignments, action = res.clusters, "cold_start"
    else:
        from acxspark.plans.incremental import run_incremental

        # Enforce the incremental plan's delta ≪ corpus contract: it
        # force-broadcasts delta-sized tables (urls, ~32 band keys per
        # doc), so one oversized micro-batch — a backfill file, a
        # burst crawl — blows the driver's BroadcastExchange build
        # (measured: 1.28M docs OOM at 8 cores; 320k folds fine).
        # Batches over cfg.incr_max_batch_rows are split by
        # pmod(xxhash64(url), k) — deterministic in CONTENT, not
        # partitioning — and folded as k sequential sub-increments:
        # exactly what the committed state would look like had the
        # source delivered k files. Exactly-once is preserved by
        # stamping ingest_batch_id only on the LAST sub-fold's
        # commits: a crash mid-split replays the whole batch, and
        # re-folding the already-committed sub-batches is the layer-2
        # idempotent path (committed docs exact-match their own copy
        # and keep their frozen labels — row-identical re-commit).
        oversized = budget > 0 and n_probe > budget
        if not oversized:
            res = run_incremental(batch_df, catalog, cfg=cfg,
                                  text_col=text_col,
                                  lineage_path=lineage_path,
                                  snapshot_meta=meta)
            assignments, action = res.assignments, "increment"
        else:
            from pyspark.sql import functions as F

            n_rows = batch_df.count()
            k = -(-n_rows // budget)
            grp = F.pmod(F.xxhash64("url"), F.lit(k))
            # one cheap agg to find the non-empty groups, so the
            # ledger stamp lands on the last sub-fold that COMMITS
            sizes = {
                r["g"]: r["n"]
                for r in batch_df.groupBy(grp.alias("g")).count()
                .withColumnRenamed("count", "n").collect()
            }
            groups = sorted(sizes)
            total = 0
            for j in groups:
                sub = batch_df.filter(grp == j)
                if j == groups[-1]:
                    sub_meta = dict(meta)
                else:
                    # intermediate commits must NOT erase the replay
                    # ledger: keep the last COMPLETE batch id in the
                    # manifest so a crash mid-split still lets
                    # last_committed_batch() see it (the stale-id
                    # guard above stays armed); only the final
                    # sub-fold advances the id to this batch
                    sub_meta = {"ingest_batch_part": f"{batch_id}/{j}"}
                    if last is not None:
                        sub_meta["ingest_batch_id"] = int(last)
                sub_lineage = (
                    str(Path(lineage_dir) / f"batch-{batch_id}-sub{j}.jsonl")
                    if lineage_dir else None
                )
                res = run_incremental(sub, catalog, cfg=cfg,
                                      text_col=text_col,
                                      lineage_path=sub_lineage,
                                      snapshot_meta=sub_meta)
                if out_dir:
                    # one OVERWRITTEN directory per sub-fold (standard
                    # partition layout, so reading batch-<id> discovers
                    # every sub): an appended shared dir would
                    # duplicate sub-fold rows when a mid-split crash
                    # replays the whole batch
                    res.assignments.write.mode("overwrite").parquet(
                        str(Path(out_dir) / f"batch-{batch_id}" / f"sub={j}")
                    )
                total += _n_assigned(res)
                res.release()
            return {"batch_id": batch_id, "action": "increment_split",
                    "n_docs": total, "n_subbatches": len(groups)}

    # a cold start counts its clusters before the lineage flush (its
    # clusters_assigned metric fires on that action)
    n = None if action == "increment" else assignments.count()
    if out_dir:
        assignments.write.mode("overwrite").parquet(
            str(Path(out_dir) / f"batch-{batch_id}")
        )
    if n is None:
        n = _n_assigned(res)
    else:
        res.lineage.flush()
    res.release()
    return {"batch_id": batch_id, "action": action, "n_docs": n}


def _n_assigned(res) -> int:
    """Flush an increment's lineage; its doc count is the incr_assigned
    Observation (fired by the clusters commit), else a count."""
    recs = res.lineage.flush()
    n = next((r["rows"] for r in recs if r["stage"] == "incr_assigned"), None)
    return res.assignments.count() if n is None else n


def ingest_crawl_stream(stream_df: DataFrame, catalog, checkpoint_dir: str,
                        cfg: DedupConfig = DEFAULT_CONFIG,
                        text_col: str = "text",
                        lineage_dir: str | None = None,
                        out_dir: str | None = None,
                        trigger: dict | None = None):
    """Start the ingestion query over a streaming DataFrame of new
    pages (any Structured Streaming source; schema must carry ``url``
    and ``text_col``). Returns the StreamingQuery.

    ``trigger`` passes through to ``writeStream.trigger(**trigger)``:
    ``{"availableNow": True}`` drains what exists and stops (backfill /
    tests); ``{"processingTime": "10 minutes"}`` is the continuous-
    crawl shape. Default: availableNow.
    """
    def _fold(bdf: DataFrame, bid: int) -> None:
        fold_batch(bdf, bid, catalog, cfg=cfg, text_col=text_col,
                   lineage_dir=lineage_dir, out_dir=out_dir)

    return (
        stream_df.writeStream
        .foreachBatch(_fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )
