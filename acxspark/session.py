"""SparkSession factory tuned for the dedup workload.

Every knob here exists for the 100 TB case and is documented with the
scale rationale; the local[N] values are the sandbox stand-ins.
"""

from __future__ import annotations

import json
import os
import tempfile
import zipfile
from pathlib import Path

from pyspark.sql import SparkSession


def package_zip() -> str:
    """Zip the acxspark package for shipment to executors.

    This is the programmatic twin of ``spark-submit --py-files
    acxspark.zip`` (north_rule ship path): executor Python workers are
    separate processes and do NOT inherit the driver's sys.path, so
    any pandas UDF that closes over acxspark code needs the package on
    the executors' search path.
    """
    import os
    import uuid

    pkg_dir = Path(__file__).resolve().parent
    # unique per call: a fixed shared path raced between concurrent
    # drivers on one host (one truncates while the other's executors
    # fetch → corrupt zip), hit EACCES across users, and re-adding the
    # same filename with changed contents trips addPyFile's
    # contents-mismatch check
    out = Path(tempfile.gettempdir()) / (
        f"acxspark_pkg_{os.getpid()}_{uuid.uuid4().hex[:8]}.zip"
    )
    with zipfile.ZipFile(out, "w") as zf:
        for py in sorted(pkg_dir.rglob("*.py")):
            zf.write(py, Path("acxspark") / py.relative_to(pkg_dir))
    return str(out)


def _default_driver_mem() -> str:
    """Half of host RAM, clamped to 2g–8g. A long-lived JVM grows
    toward its heap cap; a cap near all of RAM gets it OOM-killed by
    the kernel, and the other half is left to the Python workers."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(2, min(8, ram // (2 << 30)))}g"


def get_spark(
    app_name: str = "acxspark",
    parallelism: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    cluster: bool = False,
) -> SparkSession:
    """Build (or reuse) a session with Arrow + AQE + skew handling on.

    parallelism: local core count (``local[N]``); defaults to
    ``$SPARK_GRAFT_CPUS`` or ``*``.

    ``cluster=True`` (the spark-submit ship path, tools/submit_dedup.py):
    do NOT set master / driver memory / GC flags — those
    belong to spark-submit and the cluster manager. Only the
    engine-semantic confs (AQE, Arrow, shuffle sizing, zstd, UTC) are
    applied, and the package zip is still shipped to executors.
    """
    # glibc tuning for every forked Python worker (they inherit this
    # env): by default each large numpy temp is a fresh mmap — on this
    # sandboxed kernel a page-fault storm measured 33x slower than
    # arena reuse (134ms vs 4ms per 35MB vector op). Keeping big
    # buffers in the arena makes allocation-heavy UDF batches run at
    # memory bandwidth after first touch.
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "1073741824")
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "1073741824")

    cpus = parallelism or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    master = f"local[{cpus}]"
    # benchmarking hook: JSON dict of extra spark confs set in the
    # environment (tools/scaling_job.py subprocesses inherit it for
    # per-level tuning passes). Env wins over caller-passed conf —
    # an external override hook that loses to defaults is useless.
    env_conf = os.environ.get("SPARK_GRAFT_EXTRA_CONF")
    if env_conf:
        extra_conf = {**(extra_conf or {}), **json.loads(env_conf)}
    # shuffle partitions: ~2-3x total cores locally. On a 1000-executor
    # cluster reading 100 TB this is instead sized so post-shuffle
    # partitions land near 128-256 MB; AQE coalescing makes the static
    # number a ceiling, not a target.
    n_shuffle = shuffle_partitions or (
        int(cpus) * 2 if str(cpus).isdigit() else 64
    )
    b = SparkSession.builder.appName(app_name)
    if not cluster:
        b = b.master(master)
    if not cluster or shuffle_partitions:
        # cluster mode defers shuffle sizing to spark-submit conf /
        # AQE unless the caller pins it explicitly
        b = b.config("spark.sql.shuffle.partitions", str(n_shuffle))
    b = (
        b
        # AQE: runtime partition coalescing, skew-join splitting and
        # dynamic join strategy — the second line of defense behind our
        # explicit hot-band capping (operators/lsh.py).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow: every pandas UDF (MinHash, SimHash, verification)
        # rides columnar batches, never per-row pickling.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.sql.session.timeZone", "UTC")
        # parquet writes: zstd ≈ the reference's zstd backups
        # (reference src/zstd_wrap.cpp:16-41) but codec-level.
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.ui.enabled", "false")
    )
    if not cluster:
        # LOCAL-ONLY host tuning — a cluster manager owns all of these.
        b = (
            b
            # executor threads share this one heap in local mode;
            # $ACX_DRIVER_MEM overrides the host-derived default. GC
            # choice is ParallelGC — see the extraJavaOptions note
            # below. No spark.local.dir: shuffle/spill goes to Spark's
            # default (the JVM temp dir, or $SPARK_LOCAL_DIRS), not to
            # a tmpfs dir where it would compete with the heap for RAM.
            .config("spark.driver.memory",
                    os.environ.get("ACX_DRIVER_MEM") or _default_driver_mem())
            # AlwaysPreTouch: this host (microVM) serializes first-touch
            # page faults globally — a 32-thread JVM allocating across a
            # lazily-faulted heap measured 20x slower than 8 threads on
            # the SAME work. Pre-faulting the heap once at startup moves
            # that cost out of the allocation path. ParallelGC, not G1:
            # G1's region management re-touches memory continuously and
            # measured 10-40x slower on allocation-heavy stages here
            # (0.9s vs 37s on the identical token-hash scan).
            .config(
                "spark.driver.extraJavaOptions",
                "-XX:+UseParallelGC -XX:+AlwaysPreTouch",
            )
        )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.addPyFile(package_zip())
    return spark
