"""Smoke test of the benchmark itself.

    python3 perfbench/smoke.py

Runs every workload in BENCHMARK.json once at a tiny scale, untraced
and traced: each run must exit 0 with every check passing, and its
result line must carry exactly the keys of the contract and every
metric BENCHMARK.json names, with its unit. Then runs the benchmark in
a directory holding only BENCHMARK.json and perfbench/, where it must
exit non-zero without printing a result. Takes a few minutes.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SCALE = "0.05"


def run(cwd: Path, workload: str, trace: int) -> subprocess.CompletedProcess:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace),
           "--scale", SCALE]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                          timeout=900)


def check_result(p: subprocess.CompletedProcess, want: dict[str, str]) -> list[str]:
    if p.returncode != 0:
        return [f"exit code {p.returncode}: {p.stderr[-2000:]}"]
    try:
        res = json.loads(p.stdout.strip().splitlines()[-1])
    except (IndexError, ValueError):
        return ["last stdout line is not JSON"]
    problems = []
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"result keys {sorted(res)}")
    if res.get("correct") is not True or res.get("failed") != 0:
        problems.append(f"correct={res.get('correct')} failed={res.get('failed')}")
    if not isinstance(res.get("attempted"), int) or res["attempted"] < 1:
        problems.append(f"attempted={res.get('attempted')}")
    got = res.get("metrics", {})
    for name, unit in want.items():
        if name not in got:
            problems.append(f"missing metric {name}")
        elif got[name].get("unit") != unit or not isinstance(got[name].get("value"),
                                                               (int, float)):
            problems.append(f"bad metric {name}: {got[name]}")
    return problems


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    want = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
            1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    failures = 0
    for w in spec["workloads"]:
        for trace in (0, 1):
            problems = check_result(run(ROOT, w["name"], trace), want[trace])
            failures += bool(problems)
            print(f"{w['name']} trace={trace}: " + ("ok" if not problems
                                                    else "; ".join(problems)))

    bare = ROOT / ".perfbench_work" / "bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    try:
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        for d in spec["paths"]:
            shutil.copytree(ROOT / d, bare / d,
                            ignore=shutil.ignore_patterns("__pycache__"))
        p = run(bare, spec["workloads"][0]["name"], 0)
        lines = p.stdout.strip().splitlines()
        ok = p.returncode != 0 and not (lines and lines[-1].startswith("{"))
        failures += not ok
        print(f"bare directory: {'ok' if ok else 'printed a result or exited 0'}")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
