#!/usr/bin/env python3
"""Smoke-run the benchmark: every workload at sf0.001 (50 documents),
untraced and traced, with every output check on.  Exits non-zero if a
run fails, reports a wrong output, or misses a metric BENCHMARK.json
declares.

    python3 perfbench/smoke.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bad = 0
    for wl in spec["workloads"]:
        for trace, group in ((0, "end_to_end"), (1, "per_layer")):
            cmd = spec["command"] + [
                "--workload", wl["name"], "--seed", "7", "--seconds", "1",
                "--trace", str(trace), "--sf", "0.001"]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True,
                                  text=True, timeout=600)
            lines = proc.stdout.strip().splitlines()
            result = json.loads(lines[-1]) if lines else {}
            missing = {m["name"] for m in spec[group]} - set(
                result.get("metrics", {}))
            ok = (proc.returncode == 0 and result.get("correct")
                  and not missing)
            bad += not ok
            print(f"{wl['name']:6s} trace={trace} "
                  f"{'ok' if ok else 'FAILED'} "
                  f"attempted={result.get('attempted')} "
                  f"failed={result.get('failed')}"
                  + (f" missing={sorted(missing)}" if missing else ""))
            if not ok:
                print(proc.stderr[-3000:], file=sys.stderr)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
