"""Host DRAM-streaming concurrency witness (reproducible form of the
BENCH/r5_dram_4c.json inline harness).

Measures how a PURE 35 MB int64 memory-streaming op (reused output
buffer, so steady-state allocation is zero) scales from 1 to K
concurrent processes on this host. This is the hardware ceiling for
any ~1 op/byte stage (LSH band shuffle); compute-dense stages (kperm
signatures, ~P ops/byte) can scale past it. Run it in the SAME window
as a benchmark capture (perfbench/run.py) to decompose a
pipeline-efficiency reading into code structure vs shared-bus steal:
on this shared microVM, external steal consumes DRAM bandwidth and so
depresses the K-proc aggregate far more than the 1-proc wall —
BASELINE.md §32 correlates the two across windows.

Usage: python tools/dram_witness.py [K ...]   (default levels: 1 4)
Prints one JSON line: per-level iteration counts over a fixed 6 s
window (1-proc level = median of 3 bracketing samples) plus the
aggregate scaling ratio vs the 1-proc median.
"""

from __future__ import annotations

import json
import multiprocessing as mp
import statistics
import sys
import time

N = 35 * 1024 * 1024 // 8  # 35 MB of int64
WINDOW_S = 6.0


def _stream(q) -> None:
    import numpy as np

    a = np.arange(N, dtype=np.int64)
    out = np.empty_like(a)  # reused: no steady-state allocation
    # warm both buffers (page-fault cost out of the timed window)
    np.add(a, 1, out=out)
    t0 = time.time()
    iters = 0
    while time.time() - t0 < WINDOW_S:
        np.add(a, iters, out=out)
        np.multiply(out, 3, out=out)
        iters += 1
    q.put(iters)


def run_level(k: int) -> int:
    import queue as _queue

    q: mp.Queue = mp.Queue()
    procs = [mp.Process(target=_stream, args=(q,)) for _ in range(k)]
    for p in procs:
        p.start()
    # bounded get: a worker OOM-killed under the very memory pressure
    # this witness measures would otherwise hang the whole bracket
    total = 0
    dead = 0
    for _ in procs:
        try:
            total += q.get(timeout=WINDOW_S * 10)
        except _queue.Empty:
            dead += 1
    for p in procs:
        p.join(timeout=10)
    if dead:
        raise RuntimeError(f"{dead}/{k} witness workers died before reporting")
    return total


def main() -> None:
    levels = [int(a) for a in sys.argv[1:]] or [1, 4]
    # bracket: 1-proc sample, each requested level, 1-proc again, to
    # catch window drift inside the witness itself
    one = [run_level(1)]
    agg = {k: run_level(k) for k in levels if k != 1}
    one.append(run_level(1))
    one.append(run_level(1))
    base = statistics.median(one)
    print(json.dumps({
        "tool": "tools/dram_witness.py",
        "window_s": WINDOW_S,
        "buf_mb": 35,
        "iters": {"1": one, **{str(k): v for k, v in agg.items()}},
        "aggregate_scaling_vs_1proc_median": {
            str(k): round(v / base, 2) for k, v in agg.items()
        },
    }))


if __name__ == "__main__":
    main()
