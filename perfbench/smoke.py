#!/usr/bin/env python3
"""Fast smoke of the benchmark's own code: tiny inputs, one short run per
workload and trace mode.

    python3 perfbench/smoke.py

Run from the root of a checkout. Every workload in BENCHMARK.json, plus
``pages_flow``, runs once with ``--trace 0`` and once with ``--trace 1``.
The smoke fails unless each run exits 0, its last line is a result whose
output checks passed, and it carries every metric BENCHMARK.json names for
that mode with the declared unit. Takes about five minutes on 4 cores.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
TINY_DOCS = {"pages_ckpt": 300, "pages_flow": 300, "dup_heavy": 600}


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    wanted = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    workloads = [w["name"] for w in spec["workloads"]] + ["pages_flow"]
    problems = []
    for workload in workloads:
        for trace in (0, 1):
            cmd = [*spec["command"], "--workload", workload, "--seed", "1",
                   "--seconds", "1", "--trace", str(trace),
                   "--docs", str(TINY_DOCS[workload])]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
            tag = f"{workload} trace={trace}"
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                problems.append(f"{tag}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
                continue
            result = json.loads(lines[-1])
            if not result["correct"] or result["failed"]:
                runs = [ln for ln in lines if ln.startswith("# run")]
                problems.append(f"{tag}: output checks failed\n" + "\n".join(runs))
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            for name, unit in wanted[trace].items():
                if got.get(name) != unit:
                    problems.append(f"{tag}: metric {name} has unit {got.get(name)!r}, want {unit!r}")
            extra = set(got) - set(wanted[trace])
            if extra:
                problems.append(f"{tag}: metrics not in BENCHMARK.json: {sorted(extra)}")
            print(f"{tag}: {len(got)} metrics, attempted={result['attempted']} "
                  f"failed={result['failed']}", flush=True)
    for p in problems:
        print(f"FAIL {p}", file=sys.stderr)
    print("smoke ok" if not problems else f"smoke FAILED ({len(problems)} problems)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
