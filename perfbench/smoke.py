"""Smoke test: every workload, untraced and traced, at the tiny ``smoke``
input size, must exit 0 and print every metric that BENCHMARK.json
names, each with its declared unit and a finite value, plus the
geometry record (core count, bucket count).

    python3 perfbench/smoke.py            # about six minutes on 4 cores
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = []
    for wl in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            cmd = [*spec["command"], "--workload", wl["name"], "--seed", "3",
                   "--seconds", "1", "--trace", str(trace), "--size", "smoke"]
            cmd[0] = sys.executable
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            tag = f"{wl['name']} trace={trace}"
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or len(lines) < 2:
                problems.append(f"{tag}: exit {p.returncode}\n{p.stderr[-2000:]}")
                continue
            out, info = json.loads(lines[-1]), json.loads(lines[-2])["info"]
            if sorted(out) != ["attempted", "correct", "failed", "metrics"] or not out["correct"]:
                problems.append(f"{tag}: bad result {out} {info.get('failures')}")
            for m in spec[key]:
                got = out["metrics"].get(m["name"])
                if got is None or got.get("unit") != m["unit"] or not math.isfinite(got["value"]):
                    problems.append(f"{tag}: metric {m['name']} missing or malformed: {got}")
            extra = set(out["metrics"]) - {m["name"] for m in spec[key]}
            if extra:
                problems.append(f"{tag}: undeclared metrics {sorted(extra)}")
            if "cpus" not in info or "num_buckets" not in info:
                problems.append(f"{tag}: geometry (cpus/num_buckets) not recorded")
            print(f"ok  {tag}: {len(out['metrics'])} metrics", flush=True)
    for p in problems:
        print("FAIL", p)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
