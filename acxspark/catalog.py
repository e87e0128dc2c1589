"""Snapshot catalog — Iceberg-like commit/resume semantics on plain parquet.

The north_rule asks for Iceberg tables with atomic snapshot commits so
any stage resumes from the last committed snapshot. No Iceberg runtime
jar exists in this sandbox (offline), so the catalog is an abstraction
(SURVEY §7.3.6):

- ``ParquetSnapshotCatalog`` (default): each write lands in
  ``root/<table>/snap-<n>-<token>/`` and is committed by atomically
  renaming a fsync'd manifest json into place — the same tmp+rename
  crash-safety the reference uses for its data file (reference
  src/utils.cpp:21-38, src/cli.cpp:357-368), promoted from file to
  table granularity. Readers resolve the manifest first, so a killed
  writer is invisible; a TORN manifest (crash before the rename's
  data hit disk) reads as "nothing committed", never as an error —
  the manifest IS the commit point, so a torn one means the commit
  didn't land.
- Writers: one writer per TABLE at a time is the intended contract
  (the pipeline/streaming drivers serialize naturally). Overlapping
  writers are still SAFE — snapshot dirs are token-unique so data
  never interleaves, and the loser of the manifest race aborts with
  ``RuntimeError`` at its commit point instead of silently clobbering
  (Iceberg's optimistic-concurrency behavior, minus retries).
- On a real cluster, swap in Iceberg via session conf
  (``spark.sql.catalog.*``) and ``df.writeTo(tbl)``; the
  pipeline/incremental/CC call sites only use
  write/read/has/latest_meta, which map 1:1. (The backup verb
  — functions/backup.py — additionally walks the parquet catalog's
  filesystem layout and so requires this class, not the Iceberg one.)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

#: manifest keys owned by the catalog — caller meta may not shadow them
_RESERVED_META = {"version", "path", "prior"}


class ParquetSnapshotCatalog:
    def __init__(self, root: str | Path):
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)

    def _tdir(self, table: str) -> Path:
        return self.root / table

    def _manifest_path(self, table: str) -> Path:
        return self._tdir(table) / "MANIFEST.json"

    def _load_manifest(self, table: str) -> dict | None:
        """The committed manifest, or None when absent OR torn.
        Torn = undecodable after a crash mid-commit ⇒ by the
        commit-point rule nothing was committed; warn (data dirs may
        linger) and let the table start over rather than brick every
        consumer. Any other read error (EIO, EACCES, a transient NFS
        fault) propagates: treating it as "uncommitted" would let the
        next write restart the table at v0 and orphan its history."""
        try:
            with open(self._manifest_path(table)) as f:
                return json.load(f)
        except FileNotFoundError:
            return None
        except (json.JSONDecodeError, UnicodeDecodeError) as e:
            print(
                f"acxspark.catalog: ignoring unreadable manifest for "
                f"table {table!r} ({e}) — treating as uncommitted",
                file=sys.stderr,
            )
            return None

    def has(self, table: str) -> bool:
        return self._load_manifest(table) is not None

    def latest_meta(self, table: str) -> dict:
        m = self._load_manifest(table)
        if m is None:
            raise FileNotFoundError(
                f"no committed manifest for table {table!r}"
            )
        return m

    def write(self, table: str, df: DataFrame, meta: dict | None = None) -> int:
        """Write a new snapshot and atomically commit the manifest."""
        bad = _RESERVED_META & set(meta or ())
        if bad:
            raise ValueError(
                f"meta keys {sorted(bad)} are reserved catalog fields"
            )
        tdir = self._tdir(table)
        tdir.mkdir(parents=True, exist_ok=True)
        base = self._load_manifest(table)
        version = (base["version"] + 1) if base else 0
        # token-unique dir: two racing writers can never interleave
        # part-files inside one snapshot directory
        snap = tdir / f"snap-{version:06d}-{uuid.uuid4().hex[:8]}"
        df.write.mode("overwrite").parquet(str(snap))
        # retention bookkeeping rides the manifest (commit ORDER, not
        # directory names — a recreated manifest or stray dir must
        # never push a live snapshot out of the retention window)
        prior = (list(base.get("prior", [])) + [base["path"]]) if base else []
        keep_n = 1  # current + 1 prior ⇒ 2 retained snapshots
        evict, prior = prior[:-keep_n] or [], prior[-keep_n:]
        manifest = {"version": version, "path": snap.name, "prior": prior,
                    **(meta or {})}
        fd, tmp = tempfile.mkstemp(dir=tdir, suffix=".tmp")
        try:
            with os.fdopen(fd, "w") as f:
                json.dump(manifest, f)
                f.flush()
                os.fsync(f.fileno())  # manifest BYTES durable pre-rename
        except BaseException:
            os.unlink(tmp)
            raise
        # optimistic commit check: abort (and clean up) if another
        # writer committed since we read `base` — last narrow race
        # aside, the loser raises instead of silently winning
        now = self._load_manifest(table)
        if (now["version"] if now else -1) != (base["version"] if base else -1):
            os.unlink(tmp)
            shutil.rmtree(snap, ignore_errors=True)
            raise RuntimeError(
                f"concurrent write detected on table {table!r}: "
                f"manifest advanced during this write"
            )
        os.replace(tmp, self._manifest_path(table))  # atomic commit point
        self._fsync_dir(tdir)  # rename durable
        for name in evict:  # post-commit: no reader can resolve these
            shutil.rmtree(tdir / name, ignore_errors=True)
        return version

    @staticmethod
    def _fsync_dir(d: Path) -> None:
        try:
            fd = os.open(d, os.O_RDONLY)
        except OSError:
            return
        try:
            os.fsync(fd)
        except OSError:
            pass
        finally:
            os.close(fd)

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        m = self.latest_meta(table)
        return spark.read.parquet(str(self._tdir(table) / m["path"]))


# ---- Iceberg path (cluster deployments; jar-gated in this sandbox) ----


def iceberg_session_conf(
    warehouse: str, catalog_name: str = "acx"
) -> dict[str, str]:
    """The session confs that switch the snapshot catalog to real
    Iceberg (SURVEY §1.6/§7.0). Pass to ``get_spark(extra_conf=...)``
    (or ``--conf`` on spark-submit) on a cluster with
    ``iceberg-spark-runtime`` on the classpath:

        spark = get_spark(extra_conf=iceberg_session_conf("s3://wh"))
        cat = IcebergSnapshotCatalog(spark, "acx", "dedup")

    Hadoop-catalog flavor (pure warehouse-path, no metastore) — the
    minimal deployment; swap ``type`` for hive/rest/glue as the
    environment provides.
    """
    return {
        "spark.sql.extensions": (
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions"
        ),
        f"spark.sql.catalog.{catalog_name}": "org.apache.iceberg.spark.SparkCatalog",
        f"spark.sql.catalog.{catalog_name}.type": "hadoop",
        f"spark.sql.catalog.{catalog_name}.warehouse": warehouse,
    }


class IcebergSnapshotCatalog:
    """Same 4-method surface as :class:`ParquetSnapshotCatalog`, backed
    by a real Iceberg catalog — the call sites (pipeline/incremental/CC
    round snapshots) only use write/read/has/latest_meta, so the switch
    is this class plus :func:`iceberg_session_conf`.

    meta round-trip: stamps ride the Iceberg SNAPSHOT SUMMARY
    (``snapshot-property.*`` write options), so `latest_meta` reads
    them back from the committed snapshot — resume staleness checks
    (pipeline.py `_fresh`) work identically; `version` maps to
    Iceberg's snapshot_id. Untestable without the runtime jar
    (tests/test_catalog.py skips when absent), but exercised by the
    same contract as the parquet fallback when one is present.
    """

    def __init__(self, spark: SparkSession, catalog: str = "acx",
                 namespace: str = "acxspark"):
        self.spark = spark
        self.prefix = f"{catalog}.{namespace}"
        spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {self.prefix}")

    def _fq(self, table: str) -> str:
        safe = table.replace("-", "_")
        return f"{self.prefix}.{safe}"

    def has(self, table: str) -> bool:
        return self.spark.catalog.tableExists(self._fq(table))

    def latest_meta(self, table: str) -> dict:
        # snapshot_id as tiebreaker: committed_at has millisecond
        # resolution and fast sequential commits (CC's per-round
        # snapshots) can tie — without a deterministic second key the
        # "latest" row could flap between the two
        row = (
            self.spark.sql(
                f"SELECT snapshot_id, summary FROM {self._fq(table)}.snapshots "
                f"ORDER BY committed_at DESC, snapshot_id DESC LIMIT 1"
            ).collect()[0]
        )
        meta = {"version": int(row["snapshot_id"]), "path": self._fq(table)}
        for k, v in dict(row["summary"]).items():
            if k.startswith("acx."):
                try:
                    meta[k[4:]] = json.loads(v)
                except (TypeError, ValueError):
                    meta[k[4:]] = v
        return meta

    def write(self, table: str, df: DataFrame, meta: dict | None = None) -> int:
        bad = _RESERVED_META & set(meta or ())
        if bad:
            raise ValueError(
                f"meta keys {sorted(bad)} are reserved catalog fields"
            )
        w = df.writeTo(self._fq(table)).using("iceberg")
        for k, v in (meta or {}).items():
            # snapshot summary properties — committed atomically WITH
            # the data, so a killed writer can't leave a stamped but
            # dataless snapshot (same commit-point contract as the
            # manifest rename in the parquet fallback)
            w = w.option(f"snapshot-property.acx.{k}", json.dumps(v))
        w.createOrReplace()
        return self.latest_meta(table)["version"]

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        return spark.read.table(self._fq(table))
