"""The benchmark workloads: set-up, one timed repetition, and the
correctness check of that repetition's outputs.

Every call into the program goes through the module attribute the
program's own callers use (``ingest.fold_batch``, ``cli.main``), so the
tracer's wrappers see it.
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import json
import re
import shutil
from collections import Counter
from dataclasses import dataclass
from pathlib import Path

import pandas as pd
from pyspark.sql import functions as F

from inputs import contact_book, crawl_inputs

#: false-merge pairs the seed code produces on these inputs (every seed
#: tried); a change that loosens verification moves it off this value
EXPECTED_FALSE_MERGES = 0
MIN_RECALL = 0.99


@dataclass
class Check:
    recall: float
    false_merges: int
    checksum: str
    problems: list[str]


def _pairs_in_groups(group_of: dict[str, object]) -> list[tuple[str, str]]:
    members: dict[object, list[str]] = {}
    for url, g in group_of.items():
        members.setdefault(g, []).append(url)
    return [(m[i], m[j]) for m in members.values()
            for i in range(len(m)) for j in range(i + 1, len(m))]


def cluster_quality(clusters: pd.DataFrame, group_of: dict[str, object]
                    ) -> tuple[float, int]:
    """(share of planted same-group pairs in one cluster, same-cluster
    pairs from different planted groups). Urls without a planted group
    are their own group."""
    cid = dict(zip(clusters["url"], clusters["cluster_id"]))
    pairs = _pairs_in_groups(group_of)
    hit = sum(1 for a, b in pairs if a in cid and cid[a] == cid.get(b))
    g = clusters["url"].map(lambda u: group_of.get(u, ("own", u)))
    both = pd.DataFrame({"c": clusters["cluster_id"], "g": g.map(repr)})
    k = both.groupby("c").size()
    kg = both.groupby(["c", "g"]).size()
    false = int((k * (k - 1) // 2).sum() - (kg * (kg - 1) // 2).sum())
    return hit / max(len(pairs), 1), false


class CrawlIncrement:
    """Commit a base crawl with the full pipeline (set-up), then fold one
    crawl delta into a fresh copy of the committed catalog per
    repetition through ``streaming.ingest.fold_batch``."""

    name = "crawl_increment"
    trace_setup = True  # the base commit is where the batch layers run
    warmup_reps = 0     # the base commit already warms the JVM
    base_docs, delta_docs = 4_000, 1_600

    def __init__(self, spark, work: Path, seed: int, scale: float, tracer):
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        self.n_base = max(200, int(self.base_docs * scale))
        self.n_input = max(80, int(self.delta_docs * scale))

    def setup(self) -> None:
        import acxspark.plans.pipeline as pipeline
        from acxspark.catalog import ParquetSnapshotCatalog

        self.truth = crawl_inputs(self.seed, self.n_base, self.n_input,
                                  self.work / "inputs")
        t = self.truth
        self.group_of = {t.survivor[u]: g for u, g in t.group.items()}
        for delta_url, partner, _ in t.delta_pairs:
            self.group_of[delta_url] = self.group_of[partner]
        self.base_cat = ParquetSnapshotCatalog(self.work / "catalog-base")
        web = self.spark.read.parquet(str(self.work / "inputs" / "base"))
        with self.tracer.phase("base_commit"):
            res = pipeline.run_pipeline(web, catalog=self.base_cat,
                                        url_dedup=True, use_extract=True,
                                        redact=True)
            surv = res.survivors
            surv.agg(F.bit_xor(F.xxhash64(*surv.columns))).collect()
        problems = []
        clusters = self.base_cat.read(self.spark, "clusters").toPandas()
        if len(clusters) != t.n_canonical:
            problems.append(f"base: {len(clusters)} pages after URL dedup, "
                            f"expected {t.n_canonical}")
        kept = set(t.survivor.values())
        base_groups = {u: g for u, g in self.group_of.items() if u in kept}
        recall, false = cluster_quality(clusters, base_groups)
        if recall < MIN_RECALL:
            problems.append(f"base: pair recall {recall:.4f} < {MIN_RECALL}")
        if false != EXPECTED_FALSE_MERGES:
            problems.append(f"base: {false} false-merge pairs")
        texts = (surv.filter(F.col("url").isin(list(t.pii)))
                 .select("url", "text").collect())
        leaked = [r["url"] for r in texts
                  if any(p in r["text"] for p in t.pii[r["url"]])]
        if leaked:
            problems.append(f"base: planted PII survived redaction in {len(leaked)} pages")
        res.release()
        if problems:
            raise RuntimeError("; ".join(problems))

    def prepare(self) -> None:
        from acxspark.catalog import ParquetSnapshotCatalog

        rep = self.work / "catalog-rep"
        shutil.rmtree(rep, ignore_errors=True)
        shutil.copytree(self.base_cat.root, rep)
        self.cat = ParquetSnapshotCatalog(rep)
        self.batch = self.spark.read.parquet(str(self.work / "inputs" / "delta"))

    def run(self) -> None:
        import acxspark.streaming.ingest as ingest

        out = ingest.fold_batch(self.batch, 0, self.cat)
        if out.get("action") != "increment":
            raise RuntimeError(f"fold_batch did not fold: {out}")

    def check(self) -> Check:
        snap = self.cat.read(self.spark, "clusters")
        checksum = snap.agg(F.bit_xor(F.xxhash64("url", "cluster_id"))).collect()[0][0]
        clusters = snap.toPandas()
        recall, false = cluster_quality(clusters, self.group_of)
        problems = []
        want = self.truth.n_canonical + self.n_input
        if len(clusters) != want:
            problems.append(f"{len(clusters)} clustered pages, expected {want}")
        return Check(recall, false, str(checksum), problems)


_EMAIL = re.compile(r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}")
_DIGITS = re.compile(r"\d{7,}")


class ContactLoop:
    """The reference's record loop: ``normalize`` -> ``dedupe --key
    email`` -> ``redact`` through the CLI entry point, file to file."""

    name = "contact_loop"
    trace_setup = False
    # the cold chain, then two warm ones: the first chains after the
    # cold one still run 10-30% slow, and for longer the busier the
    # host is
    warmup_reps = 3
    lines = 10_000

    def __init__(self, spark, work: Path, seed: int, scale: float, tracer):
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        self.n_input = max(200, int(self.lines * scale))
        self.book = work / "inputs" / "book.jsonl"
        self.out = work / "contacts-out"

    def setup(self) -> None:
        self.truth = contact_book(self.seed, self.n_input, self.book)
        with open(self.book, "rb") as f:
            self.n_input = sum(1 for _ in f)

    def prepare(self) -> None:
        pass

    def run(self) -> None:
        import acxspark.__main__ as cli

        src = str(self.book)
        with contextlib.redirect_stdout(io.StringIO()):
            for cmd, extra in (("normalize", []), ("dedupe", ["--key", "email"]),
                               ("redact", [])):
                dst = str(self.out / cmd)
                if cli.main([cmd, src, "--out", dst, *extra], spark=self.spark):
                    raise RuntimeError(f"acx {cmd} failed")
                src = dst

    def check(self) -> Check:
        t = self.truth
        digest = hashlib.sha256()
        seen: Counter = Counter()
        unparseable, leaks = 0, 0
        for part in sorted((self.out / "redact").glob("part-*")):
            data = part.read_bytes()
            digest.update(data)
            for line in data.decode("utf-8").splitlines():
                try:
                    seen[json.loads(line)["id"]] += 1
                except (ValueError, KeyError, TypeError):
                    unparseable += 1
                if (any(m.group(0).lower() in t.emails for m in _EMAIL.finditer(line))
                        or any(m.group(0) in t.phones for m in _DIGITS.finditer(line))):
                    leaks += 1
        dropped = sum(1 for i in t.dup_ids if i not in seen)
        dropped += sum(1 for i in t.repeat_ids if seen[i] == 1)
        false = sum(1 for i in t.keep_ids if seen[i] == 0)
        problems = []
        if unparseable != t.n_unparseable:
            problems.append(f"{unparseable} unparseable lines out, "
                            f"{t.n_unparseable} planted")
        extra = sum(n - 1 for n in seen.values() if n > 1)
        if extra:
            problems.append(f"{extra} duplicate records kept")
        if leaks:
            problems.append(f"planted PII survived redaction in {leaks} lines")
        return Check(dropped / max(t.n_planted, 1), false, digest.hexdigest(),
                     problems)


WORKLOADS = {w.name: w for w in (CrawlIncrement, ContactLoop)}
