"""Per-layer tracing from outside the program.

Each layer entry point is replaced, at the module attribute its caller
resolves (``acxspark.plans.pipeline.candidate_pairs``, not the defining
module), by a wrapper that

1. opens a span (name, start, end, parent id; spans of one phase share
   the phase id) and sets a Spark job group named after it;
2. calls the original, then persists its DataFrame result and
   materialises every column with a ``bit_xor(xxhash64(...))``
   aggregate (which also yields the row count), so the layer's own
   work runs inside its span;
3. records the layer's counts inside a child ``tracing`` span, which
   keeps count jobs out of the layer's self time.

Lazy work between two wrapped calls runs in the span of whichever
layer first forces it. The one exception made on purpose is
``with_signatures``: its input (the exact tier's representatives) is
materialised under the caller first, so the exact tier counts as
pipeline or incremental self time, not as signature time. Forcing
every input that way added ~20 s to a traced fold on a 4-core host,
most of it spent caching snapshot reads the program keeps
column-pruned.

Per-span Spark metrics (task CPU, shuffle write, failed tasks, jobs,
tasks) come from the status store, grouped by job group, after the
traced run. Task CPU is JVM executor CPU: time spent inside Python
UDF workers is not part of it, so ``idle_core_s`` of UDF-heavy layers
includes their Python time.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import time
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: layer -> the metrics it reports beyond the standard set
EXTRA_COUNTS = {
    "session": ["start_s"],
    "functions.url": ["rows_in", "rows_out"],
    "plans.pipeline": ["exact_edges"],
    "operators.signatures": ["rows_signed"],
    "operators.lsh": ["band_rows", "pairs_out"],
    "operators.simhash": ["pairs_out"],
    "operators.verify": ["pairs_in", "edges_out", "edge_yield"],
    "operators.cc": ["edges_in", "jobs", "components"],
    "plans.redact": ["rows"],
    "catalog": ["writes", "write_mb"],
    "operators.bloom": ["maybe_ratio"],
    "plans.incremental": ["signed_ratio"],
    "streaming.ingest": [],
    "cli.normalize": ["rows_in", "rows_out", "tasks"],
    "cli.dedupe": ["rows_in", "rows_out", "tasks"],
    "cli.redact": ["rows_in", "rows_out", "tasks"],
}
LAYERS = list(EXTRA_COUNTS)
STANDARD = ["busy_s", "task_cpu_s", "idle_core_s", "shuffle_write_mb",
            "failed_tasks"]


@dataclass
class Span:
    id: int
    parent: int | None
    phase: str
    layer: str
    name: str
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)
    spark: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"perfbench-{self.id}"


def _lines(path: str) -> int:
    p = Path(path)
    files = sorted(p.glob("part-*")) if p.is_dir() else [p]
    n = 0
    for f in files:
        with open(f, "rb") as fh:
            n += sum(1 for _ in fh)
    return n


class Tracer:
    def __init__(self, spark, cores: int):
        self.sc = spark.sparkContext
        self.cores = cores
        self.spans: list[Span] = []
        self.enabled = False
        self._ids = itertools.count(1)
        self._stack: list[Span] = []
        self._cached: list[DataFrame] = []
        self._rows: dict[int, int] = {}

    # ---- spans ------------------------------------------------------
    @contextlib.contextmanager
    def span(self, layer: str, name: str, phase: str | None = None):
        parent = self._stack[-1] if self._stack else None
        sp = Span(next(self._ids), parent.id if parent else None,
                  phase or parent.phase, layer, name, time.perf_counter())
        prev = (self.sc.getLocalProperty("spark.jobGroup.id"),
                self.sc.getLocalProperty("spark.job.description"))
        self.sc.setJobGroup(sp.group, f"{layer}:{name}")
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev[0])
            self.sc.setLocalProperty("spark.job.description", prev[1])
            self.spans.append(sp)

    def phase(self, name: str):
        """A root span; no-op context when tracing is off."""
        if not self.enabled:
            return contextlib.nullcontext()
        return self.span("workload", name, phase=name)

    def materialise(self, df: DataFrame) -> DataFrame:
        """Persist ``df`` and compute every column of it once, keeping
        its row count from the same checksum job."""
        if id(df) not in self._rows:
            self._cached.append(df.persist())
            row = df.agg(F.bit_xor(F.xxhash64(*df.columns)),
                         F.count(F.lit(1))).collect()[0]
            self._rows[id(df)] = row[1]
        return df

    def rows(self, df: DataFrame) -> int:
        n = self._rows.get(id(df))
        return df.count() if n is None else n

    def release(self) -> None:
        for df in self._cached:
            df.unpersist()
        self._cached, self._rows = [], {}

    # ---- wrapping ---------------------------------------------------
    def wrap(self, owner, attr: str, layer: str, counts=None,
             materialise: bool = True, inputs: bool = False) -> None:
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kw):
            if not tracer.enabled or not tracer._stack:
                return orig(*args, **kw)
            for x in (*args, *kw.values()) if inputs else ():
                if isinstance(x, DataFrame):
                    tracer.materialise(x)
            with tracer.span(layer, attr) as sp:
                pre = len(kw.get("caches") or [])
                out = orig(*args, **kw)
                if materialise and isinstance(out, DataFrame):
                    out = tracer.materialise(out)
                if counts is not None:
                    with tracer.span("tracing", f"counts:{attr}"):
                        counts(sp, args, kw, out, pre)
            return out

        setattr(owner, attr, traced)

    def install(self) -> None:
        import acxspark.__main__ as cli
        import acxspark.functions.url as url
        import acxspark.operators.bloom as bloom
        import acxspark.plans.incremental as incremental
        import acxspark.plans.pipeline as pipeline
        import acxspark.plans.redact as redact
        import acxspark.streaming.ingest as ingest
        from acxspark.catalog import ParquetSnapshotCatalog

        rows = self.rows

        def put(sp, **vals):
            for k, v in vals.items():
                sp.counts[k] = sp.counts.get(k, 0) + v

        def rows_io(sp, a, kw, out, pre):
            put(sp, rows_in=rows(a[0]), rows_out=rows(out))

        def exact_edges(sp, a, kw, out, pre):
            put(sp, exact_edges=out.edges.filter(F.col("tier") == "exact").count())

        def signed(sp, a, kw, out, pre):
            put(sp, rows_signed=rows(out))

        def lsh_pairs(sp, a, kw, out, pre):
            new = (kw.get("caches") or [])[pre:]
            # candidate_pairs persists its exploded band rows first
            put(sp, pairs_out=rows(out), band_rows=new[0].count() if new else 0)

        def band_rows(sp, a, kw, out, pre):
            put(sp, band_rows=rows(out))

        def pairs_out(sp, a, kw, out, pre):
            put(sp, pairs_out=rows(out))

        def verify(sp, a, kw, out, pre):
            put(sp, pairs_in=rows(a[0]), edges_out=rows(out))

        def cc_assign(sp, a, kw, out, pre):
            edges = a[2] if len(a) > 2 else kw["edges"]
            put(sp, edges_in=rows(edges),
                components=out.select("cluster_id").distinct().count())

        def cc_components(sp, a, kw, out, pre):
            put(sp, edges_in=rows(a[0]),
                components=out.select("component").distinct().count())

        def redact_rows(sp, a, kw, out, pre):
            put(sp, rows=rows(out))

        def catalog_write(sp, a, kw, out, pre):
            cat, table = a[0], a[1]
            snap = cat.root / table / cat.latest_meta(table)["path"]
            size = sum(f.stat().st_size for f in snap.rglob("*") if f.is_file())
            put(sp, writes=1, write_mb=size / 2**20)

        def bloom_maybe(sp, a, kw, out, pre):
            put(sp, delta_rows=rows(a[0]),
                maybe_rows=out.filter(F.col("might_contain")).count())

        def delta_docs(sp, a, kw, out, pre):
            put(sp, delta_docs=rows(a[0]))

        def cli_rows(sp, a, kw, out, pre):
            put(sp, rows_in=_lines(a[0].input), rows_out=_lines(a[0].out))

        w = self.wrap
        w(url, "dedup_by_canonical_url", "functions.url", rows_io)
        w(pipeline, "run_pipeline", "plans.pipeline", exact_edges)
        w(pipeline, "extract_stage", "plans.pipeline")
        for mod in (pipeline, incremental):
            # the rows to sign come out of the caller's exact tier:
            # compute them under the caller's span
            w(mod, "with_signatures", "operators.signatures", signed,
              inputs=True)
            w(mod, "candidate_pairs", "operators.lsh", lsh_pairs)
            w(mod, "exact_jaccard_edges", "operators.verify", verify)
        w(incremental, "band_keys", "operators.lsh", band_rows)
        w(pipeline, "simhash_candidate_pairs", "operators.simhash", pairs_out)
        w(pipeline, "containment_edges", "operators.verify", verify)
        w(pipeline, "cluster_assignments", "operators.cc", cc_assign)
        w(incremental, "connected_components", "operators.cc", cc_components)
        w(redact, "scrub_text", "plans.redact", redact_rows)
        w(ParquetSnapshotCatalog, "write", "catalog", catalog_write)
        # reads stay lazy: the program relies on column pruning of the
        # snapshots it reads, so their cost lands in the consumers
        w(ParquetSnapshotCatalog, "read", "catalog", materialise=False)
        w(bloom, "might_contain", "operators.bloom", bloom_maybe)
        w(bloom, "build_bloom", "operators.bloom")
        w(bloom, "merge_blooms", "operators.bloom")
        w(incremental, "run_incremental", "plans.incremental", delta_docs)
        w(ingest, "fold_batch", "streaming.ingest")
        for cmd in ("normalize", "dedupe", "redact"):
            w(cli, f"cmd_{cmd}", f"cli.{cmd}", cli_rows)

    # ---- Spark metrics per span --------------------------------------
    def collect_spark_metrics(self) -> None:
        """Attribute every finished job to its span through the job
        group; each stage counts once, in the first job that lists it."""
        store = self.sc._jsc.sc().statusStore()
        # py4j sees no Scala default arguments: pass the defaults' values
        stages = store.stageList(None, *(getattr(store, f"stageList$default${i}")()
                                         for i in (2, 3, 4, 5)))
        per_stage: dict[int, list] = {}
        for i in range(stages.length()):
            s = stages.apply(i)
            m = per_stage.setdefault(s.stageId(), [0, 0, 0, 0])
            m[0] += s.executorCpuTime()
            m[1] += s.shuffleWriteBytes()
            m[2] += s.numFailedTasks()
            m[3] += s.numTasks()
        jobs = store.jobsList(None)
        by_job = []
        for i in range(jobs.length()):
            j = jobs.apply(i)
            g = j.jobGroup()
            sids = j.stageIds()
            by_job.append((j.jobId(), g.get() if g.isDefined() else None,
                           [sids.apply(k) for k in range(sids.length())]))
        by_group: dict[str, dict] = {}
        owned: set[int] = set()
        for _, group, sids in sorted(by_job):
            agg = by_group.setdefault(group, {"jobs": 0, "cpu_s": 0.0,
                                              "shuffle_write_mb": 0.0,
                                              "failed_tasks": 0, "tasks": 0})
            agg["jobs"] += 1
            for sid in sids:
                if sid in owned or sid not in per_stage:
                    continue
                owned.add(sid)
                cpu, shw, failed, tasks = per_stage[sid]
                agg["cpu_s"] += cpu / 1e9
                agg["shuffle_write_mb"] += shw / 2**20
                agg["failed_tasks"] += failed
                agg["tasks"] += tasks
        for sp in self.spans:
            sp.spark = by_group.get(sp.group, {})

    # ---- derived views ------------------------------------------------
    def self_times(self) -> dict[int, float]:
        kids: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                kids.setdefault(sp.parent, []).append(sp)
        out = {}
        for sp in self.spans:
            covered, edge = 0.0, sp.start
            for c in sorted(kids.get(sp.id, []), key=lambda c: c.start):
                lo, hi = max(c.start, edge), min(c.end, sp.end)
                if hi > lo:
                    covered += hi - lo
                    edge = hi
            out[sp.id] = sp.end - sp.start - covered
        return out

    def roots(self) -> list[Span]:
        return [sp for sp in self.spans if sp.parent is None]

    def self_time_sum_ok(self) -> bool:
        """Within each phase, span self times sum to at most its wall."""
        st = self.self_times()
        for root in self.roots():
            total = sum(st[sp.id] for sp in self.spans if sp.phase == root.phase)
            if total > (root.end - root.start) + 1e-6:
                return False
        return True

    def layer_metrics(self, phases: set[str]) -> dict[str, float]:
        st = self.self_times()
        by_id = {sp.id: sp for sp in self.spans}
        acc = {layer: {"busy_s": 0.0, "task_cpu_s": 0.0,
                       "shuffle_write_mb": 0.0, "failed_tasks": 0,
                       "jobs": 0, "tasks": 0} for layer in LAYERS}
        counts = {layer: {} for layer in LAYERS}
        signed_in_incr = 0
        for sp in self.spans:
            if sp.phase not in phases or sp.layer not in acc:
                continue
            a = acc[sp.layer]
            a["busy_s"] += st[sp.id]
            a["task_cpu_s"] += sp.spark.get("cpu_s", 0.0)
            a["shuffle_write_mb"] += sp.spark.get("shuffle_write_mb", 0.0)
            a["failed_tasks"] += sp.spark.get("failed_tasks", 0)
            a["jobs"] += sp.spark.get("jobs", 0)
            a["tasks"] += sp.spark.get("tasks", 0)
            for k, v in sp.counts.items():
                counts[sp.layer][k] = counts[sp.layer].get(k, 0) + v
            parent = by_id.get(sp.parent)
            if (sp.layer == "operators.signatures" and parent is not None
                    and parent.layer == "plans.incremental"):
                signed_in_incr += sp.counts.get("rows_signed", 0)
        out: dict[str, float] = {}
        for layer in LAYERS:
            a, c = acc[layer], counts[layer]
            out[f"{layer}.busy_s"] = a["busy_s"]
            out[f"{layer}.task_cpu_s"] = a["task_cpu_s"]
            out[f"{layer}.idle_core_s"] = a["busy_s"] * self.cores - a["task_cpu_s"]
            out[f"{layer}.shuffle_write_mb"] = a["shuffle_write_mb"]
            out[f"{layer}.failed_tasks"] = a["failed_tasks"]
            derived = {
                "jobs": a["jobs"], "tasks": a["tasks"],
                "edge_yield": c.get("edges_out", 0) / max(c.get("pairs_in", 0), 1),
                "maybe_ratio": c.get("maybe_rows", 0) / max(c.get("delta_rows", 0), 1),
                "signed_ratio": signed_in_incr / max(c.get("delta_docs", 0), 1),
            }
            for k in EXTRA_COUNTS[layer]:
                out[f"{layer}.{k}"] = derived[k] if k in derived else c.get(k, 0)
        return {k: round(float(v), 6) for k, v in out.items()}

    def dump(self, path: Path) -> None:
        import json

        st = self.self_times()
        with open(path, "w") as f:
            for sp in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps({
                    "id": sp.id, "parent": sp.parent, "phase": sp.phase,
                    "layer": sp.layer, "name": sp.name,
                    "start": round(sp.start, 6), "end": round(sp.end, 6),
                    "self_s": round(st[sp.id], 6), "counts": sp.counts,
                    "spark": sp.spark,
                }) + "\n")
