"""Smoke test of the benchmark on a tiny corpus.

    python3 perfbench/smoke.py

Runs every workload with a few operations on a TPC-H scale-0.001 corpus,
untraced and traced, and checks that each run exits 0, that its last line
names every metric of ``BENCHMARK.json`` with its unit, and that
``failed_ratio`` is 0. Then corrupts one result on purpose, once through the
oracle-hash check (``sql_tpch``) and once through the DuckDB replay
(``dml_mixed``), and checks that both runs report the failure and exit
non-zero. Exits 0 when every check holds; takes a few minutes.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

from perfbench.run import END_TO_END, PER_LAYER  # noqa: E402

WORKLOADS = ("sql_tpch", "curation", "dml_mixed")
SMOKE_ARGS = ("--scale", "0.001", "--max-ops", "4", "--seconds", "1", "--seed", "7")


def run(workload: str, trace: int, *extra: str) -> tuple[int, dict | None, dict | None]:
    """(exit code, result line, info line) of one benchmark run."""
    p = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--trace", str(trace), *SMOKE_ARGS, *extra],
        capture_output=True,
        text=True,
        timeout=900,
    )
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        result = None
    info = next((json.loads(line[2:]) for line in lines if line.startswith("# {")), None)
    return p.returncode, result, info


def main() -> int:
    problems: list[str] = []
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    for key, units in (("end_to_end", END_TO_END), ("per_layer", PER_LAYER)):
        declared = {m["name"]: m["unit"] for m in spec[key]}
        if declared != units:
            problems.append(f"BENCHMARK.json {key} {declared} differs from run.py {units}")

    for workload in WORKLOADS:
        for trace, units in ((0, END_TO_END), (1, PER_LAYER)):
            tag = f"{workload} --trace {trace}"
            rc, result, info = run(workload, trace)
            if rc != 0 or result is None or not result["correct"] or result["failed"]:
                problems.append(f"{tag}: exit {rc}, result {result}")
                continue
            printed = {k: m["unit"] for k, m in result["metrics"].items()}
            if printed != units:
                problems.append(f"{tag}: printed {printed}, wanted {units}")
            if info is None or info["failed_ratio"] != 0:
                problems.append(f"{tag}: failed_ratio {info and info['failed_ratio']}")
            print(f"ok {tag}: {result['attempted']} operations", flush=True)

    for workload, op in (("sql_tpch", "tpch_q1"), ("dml_mixed", "dml_read")):
        tag = f"{workload} --corrupt {op}"
        rc, result, _ = run(workload, 0, "--corrupt", op)
        if rc == 0 or result is None or result["correct"] or not result["failed"]:
            problems.append(f"{tag}: a corrupted result passed (exit {rc}, result {result})")
        else:
            print(f"ok {tag}: exit {rc}, {result['failed']} of {result['attempted']} failed", flush=True)

    for p in problems:
        print(f"FAIL {p}", file=sys.stderr)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
