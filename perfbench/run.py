"""acxspark benchmark: one closed-loop workload per invocation.

    python3 perfbench/run.py --workload crawl_increment --seed 1 \
        --seconds 10 --trace 0

Run from the repository root. One driver process runs the workload on
``local[nproc]``, one job at a time, with no concurrent submitters:

1. set-up (timed as ``setup_s``): JVM and session start, seeded input
   generation into files, the workload's cold work (the base catalog
   commit, or a cold and a warm-up repetition);
2. repetitions for ``--seconds`` (at least one), each timed until its
   outputs are fully materialised and then checked against the planted
   truth (recall, false merges, redaction, checksums identical across
   repetitions);
3. with ``--trace 1``: one more repetition with every layer entry point
   wrapped (perfbench/tracing.py); spans go to
   ``.perfbench_work/results/`` and a per-layer table is printed.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics untraced, per-layer
metrics traced). The exit code is 1 when any check failed, 2 when the
program under test cannot be imported. ``--scale`` shrinks the inputs
(perfbench/smoke.py runs every workload at a tiny scale).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
#: one repetition that runs longer than this is cancelled and failed
REP_TIMEOUT_S = 120

E2E_UNITS = {"docs_per_s": "1/s", "wall_s": "s", "cpu_s": "s",
             "pair_recall": "ratio", "setup_s": "s", "peak_rss_mb": "MB"}
#: the end-to-end metrics BENCHMARK.json bounds, the only ones in the
#: result line; the wall-clock ones move with the CPU time the
#: hypervisor steals from a shared host (README.md)
BOUNDED = ("cpu_s", "pair_recall", "setup_s")


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0)
    return p.parse_args(argv)


def fit_host(work: Path) -> dict:
    """Pin cores and driver memory, keep every scratch file in ``work``
    (a regular filesystem inside the checkout, not tmpfs)."""
    import host

    for d in ("tmp", "jtmp", "spark-local"):
        (work / d).mkdir(parents=True, exist_ok=True)
    cores, mem = host.nproc(), host.driver_mem()
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores), "ACX_DRIVER_MEM": mem,
        "TMPDIR": str(work / "tmp"), "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "PYSPARK_PYTHON": sys.executable, "PYSPARK_DRIVER_PYTHON": sys.executable,
        # the short-lived launcher JVM spark-submit starts first
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'jtmp'}",
    })
    os.environ.pop("SPARK_GRAFT_EXTRA_CONF", None)
    return {"nproc": cores, "driver_mem": mem}


def session_conf(work: Path) -> dict:
    return {
        "spark.local.dir": str(work / "spark-local"),
        "spark.driver.defaultJavaOptions":
            f"-Djava.io.tmpdir={work / 'jtmp'} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
        # keep every job of a run in the status store for the tracer
        "spark.ui.retainedJobs": "50000",
        "spark.ui.retainedStages": "50000",
    }


def timed_rep(wl, spark, checks: list, tracer=None) -> tuple[float, float]:
    """prepare (untimed) -> run (timed) -> check (untimed); returns the
    run's (wall s, process-tree CPU s) and raises on any failure,
    including a timeout or a failed check. With a tracer, run() is the
    traced phase ``traced_rep``."""
    import host
    from workloads import EXPECTED_FALSE_MERGES, MIN_RECALL

    wl.prepare()
    timer = threading.Timer(REP_TIMEOUT_S, spark.sparkContext.cancelAllJobs)
    timer.start()
    try:
        if tracer is not None:
            tracer.enabled = True
        with tracer.phase("traced_rep") if tracer else contextlib.nullcontext():
            cpu, t = host.tree_cpu_s(), time.perf_counter()
            wl.run()
            wall = time.perf_counter() - t
            cpu = host.tree_cpu_s() - cpu
    finally:
        timer.cancel()
        if tracer is not None:
            tracer.enabled = False
    if wall > REP_TIMEOUT_S:
        raise TimeoutError(f"repetition took {wall:.1f}s")
    chk = wl.check()
    problems = list(chk.problems)
    if chk.recall < MIN_RECALL:
        problems.append(f"pair recall {chk.recall:.4f} < {MIN_RECALL}")
    if chk.false_merges != EXPECTED_FALSE_MERGES:
        problems.append(f"{chk.false_merges} false-merge pairs, expected "
                        f"{EXPECTED_FALSE_MERGES}")
    if checks and chk.checksum != checks[0].checksum:
        problems.append("output checksum differs from the first repetition")
    checks.append(chk)
    if problems:
        raise RuntimeError("; ".join(problems))
    return wall, cpu


def pct_beyond(samples: list[float], beyond: int = 10):
    """The highest percentile with at least ``beyond`` samples above it."""
    n = len(samples)
    if n <= beyond:
        return None
    k = n - beyond  # samples at or below
    return round(100 * k / n, 1), sorted(samples)[k - 1]


def main(argv=None) -> int:
    args = parse(argv)
    sys.path.insert(0, str(ROOT))
    try:
        import acxspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program under test from "
              f"{ROOT}: {e}", file=sys.stderr)
        return 2
    import host
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    base = ROOT / ".perfbench_work"
    work = base / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    results = base / "results"
    results.mkdir(parents=True, exist_ok=True)
    info = {"workload": args.workload, "seed": args.seed, **fit_host(work),
            **host.versions(), "git_commit": host.git_commit(ROOT),
            "dram_gbps_before": host.dram_gbps(),
            "foreign_spark_jvms": host.foreign_spark_jvms()}

    from acxspark.session import get_spark
    from tracing import Span, Tracer

    t = t_start = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}", parallelism=info["nproc"],
                      extra_conf=session_conf(work))
    session_s = time.perf_counter() - t
    try:
        tracer = Tracer(spark, info["nproc"])
        if args.trace:
            tracer.install()
            tracer.spans.append(Span(0, None, "session", "session", "get_spark",
                                     t, t + session_s,
                                     counts={"start_s": session_s}))
        wl = WORKLOADS[args.workload](spark, work, args.seed, args.scale, tracer)
        checks: list = []
        attempted = failed = 0
        tracer.enabled = bool(args.trace and wl.trace_setup)
        wl.setup()
        tracer.enabled = False
        tracer.release()
        for _ in range(wl.warmup_reps):
            attempted += 1
            timed_rep(wl, spark, checks)
        setup_s = time.perf_counter() - t_start

        walls: list[float] = []
        cpus: list[float] = []
        steal0 = host.cpu_ticks()
        with host.RssSampler() as rss:
            # measure whole repetitions until their timed walls add up
            # to --seconds (untimed preparation and checks not counted)
            while sum(walls) < args.seconds:
                attempted += 1
                try:
                    wall, cpu = timed_rep(wl, spark, checks)
                    walls.append(wall)
                    cpus.append(cpu)
                except Exception:
                    failed += 1
                    traceback.print_exc()
                    break
        steal1 = host.cpu_ticks()
        # CPU time the hypervisor gave to other guests while we measured
        info["cpu_steal_pct"] = round(100 * (steal1[0] - steal0[0])
                                      / max(steal1[1] - steal0[1], 1), 2)
        metrics: dict[str, float] = {}
        if args.trace and not failed:
            attempted += 1
            traced_wall = None
            try:
                traced_wall = timed_rep(wl, spark, checks, tracer)[0]
            except Exception:
                failed += 1
                traceback.print_exc()
            finally:
                tracer.release()
            tracer.collect_spark_metrics()
            tracer.dump(results / f"spans-{work.name}.jsonl")
            phases = {"traced_rep"} | ({"session", "base_commit"}
                                       if wl.trace_setup else {"session"})
            metrics = tracer.layer_metrics(phases)
            tr_self = tracer.self_times()
            metrics["tracing.counts_s"] = round(sum(
                tr_self[sp.id] for sp in tracer.spans if sp.layer == "tracing"), 6)
            if traced_wall is not None and walls:
                metrics["tracing.overhead_s"] = round(
                    traced_wall - statistics.median(walls), 6)
            if not tracer.self_time_sum_ok():
                failed += 1
                print("perfbench: span self times exceed the traced wall",
                      file=sys.stderr)
            print_layer_table(metrics)
        info["dram_gbps_after"] = host.dram_gbps()
    finally:
        host.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    summary = {
        "docs_per_s": statistics.median(wl.n_input / w for w in walls) if walls else 0.0,
        "wall_s": statistics.median(walls) if walls else 0.0,
        "cpu_s": statistics.median(cpus) if cpus else 0.0,
        "pair_recall": statistics.median(c.recall for c in checks) if checks else 0.0,
        "setup_s": setup_s,
        "peak_rss_mb": rss.peak_mb,
    }
    correct = failed == 0 and bool(walls)
    print(f"workload {args.workload} seed {args.seed}: {len(walls)} timed "
          f"repetitions of {wl.n_input} input records, closed loop, 1 client")
    for k, v in summary.items():
        print(f"  {k:18s} {v:14.4f} {E2E_UNITS[k]}")
    tail = pct_beyond(walls)
    print(f"  {'wall_s tail':18s} " + (f"p{tail[0]} = {tail[1]:.4f} s" if tail
          else "n/a") + f" (n={len(walls)})")
    print(f"  {'false_merge_pairs':18s} "
          f"{max((c.false_merges for c in checks), default=0):14d} count")
    print(f"  {'error_rate':18s} {failed / max(attempted, 1):14.4f} ratio")
    print(json.dumps({"host": info}))
    with open(results / f"result-{work.name}.json", "w") as f:
        json.dump({"host": info, "summary": summary, "walls": walls,
                   "cpus": cpus, "attempted": attempted, "failed": failed}, f)
    if args.trace:
        out = {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()}
    else:
        out = {k: {"value": summary[k], "unit": E2E_UNITS[k]} for k in BOUNDED}
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": out}))
    return 0 if correct else 1


def unit_of(metric: str) -> str:
    leaf = metric.rsplit(".", 1)[1]
    if leaf.endswith("_s"):
        return "s"
    if leaf.endswith("_mb"):
        return "MB"
    if leaf.endswith(("_ratio", "_yield")):
        return "ratio"
    return "count"


def print_layer_table(metrics: dict) -> None:
    from tracing import EXTRA_COUNTS, STANDARD

    print(f"{'layer':22s} " + " ".join(f"{s:>16s}" for s in STANDARD) + "  extra")
    for layer, extra in EXTRA_COUNTS.items():
        std = " ".join(f"{metrics[f'{layer}.{s}']:16.3f}" for s in STANDARD)
        ext = ", ".join(f"{k}={metrics[f'{layer}.{k}']:g}" for k in extra)
        print(f"{layer:22s} {std}  {ext}")
    for k in ("tracing.counts_s", "tracing.overhead_s"):
        if k in metrics:
            print(f"{k:22s} {metrics[k]:16.3f} s")


if __name__ == "__main__":
    sys.exit(main())
