"""Pipeline metrics & lineage — the audit-log analog.

The reference appends an audit CSV line per mutating command
(reference src/storage.cpp:150-154) and a JSONL audit event log
(reference src/audit.cpp:21-36). Distributed equivalent: per-stage
``DataFrame.observe`` metrics (docs scanned, pairs emitted, clusters
merged — the north_rule counter set) collected on action completion
and appended, with the frozen DedupConfig fingerprint, to a JSONL
lineage log. observe() rides the existing job — zero extra passes.
"""

from __future__ import annotations

import json
import time
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


class Lineage:
    def __init__(self, path: str | Path | None = None, config_fingerprint: str = ""):
        self.path = Path(path) if path else None
        self.fp = config_fingerprint
        # a LIST, not a dict keyed by stage: the same stage name may be
        # observed twice (two pipeline runs sharing one Lineage — the
        # idempotence check), and a dict silently dropped the first
        # run's metrics at flush
        self.observations: list[tuple[str, Observation]] = []
        self.records: list[dict] = []

    def record(self, stage: str, **vals) -> None:
        """Append an eagerly-computed scalar counter (for metrics that
        can't ride an Observation — e.g. drop counts on a frame that
        feeds multiple plan branches, where a CollectMetrics node would
        double-count). Flushed alongside observations."""
        self.records.append({"stage": stage, **vals})

    def observe(self, df: DataFrame, stage: str, **aggs) -> DataFrame:
        """Attach named metrics to a stage. Default: row count."""
        if not aggs:
            aggs = {"rows": F.count(F.lit(1))}
        # Observation names must be unique within a query plan; two
        # pipeline runs composed into one plan (e.g. idempotence check)
        # would otherwise collide.
        obs = Observation(f"{stage}-{uuid.uuid4().hex[:8]}")
        self.observations.append((stage, obs))
        return df.observe(obs, *[v.alias(k) for k, v in aggs.items()])

    @staticmethod
    def get_fired(obs: Observation, timeout: float):
        """``obs.get`` bounded by ``timeout`` — PySpark's Observation.get
        BLOCKS FOREVER when the observed stage never executed (the JVM
        side waits Duration.Inf), so a plan branch that was skipped by
        config or an early return would hang flush() indefinitely. The
        probe runs in a daemon thread; on timeout the metric is
        reported absent (the thread parks harmlessly until exit)."""
        import threading

        box: dict = {}

        def _probe():
            try:
                box["v"] = obs.get
            except Exception:  # noqa: BLE001 — absent either way
                pass

        t = threading.Thread(target=_probe, daemon=True)
        t.start()
        t.join(timeout)
        return box.get("v")

    def flush(self, timeout: float = 10.0) -> list[dict]:
        """Collect all fired observations + eager records, append to the log."""
        out = []
        for rec in self.records:
            out.append({**rec, "config": self.fp, "ts": time.time()})
        self.records = []
        for stage, obs in self.observations:
            vals = self.get_fired(obs, timeout)
            if vals is None:
                continue  # stage never executed (or probe timed out)
            rec = {"stage": stage, "config": self.fp, "ts": time.time(), **vals}
            out.append(rec)
        if self.path and out:
            self.path.parent.mkdir(parents=True, exist_ok=True)
            with open(self.path, "a") as f:
                for rec in out:
                    f.write(json.dumps(rec) + "\n")
        self.observations.clear()
        return out
