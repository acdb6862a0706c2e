"""Tiny-size self-test of the benchmark command.

    python3 perfbench/selftest.py

Runs `perfbench/run.py` once per workload and trace mode on tiny inputs
(`--size tiny`, one op) from the repository root and asserts that each run
exits 0, reports `correct`, and prints exactly the metrics BENCHMARK.json
names for that mode, each with its declared unit. Takes a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys


def main() -> int:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    failures = []
    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            want = {m["name"]: m["unit"] for m in spec[key]}
            cmd = [*spec["command"], "--workload", w["name"], "--seed", "7",
                   "--seconds", "1", "--trace", str(trace), "--size", "tiny"]
            p = subprocess.run(cmd, cwd=root, capture_output=True, text=True)
            tag = f"{w['name']} --trace {trace}"
            if p.returncode != 0:
                failures.append(f"{tag}: exit {p.returncode}\n"
                                f"{p.stderr[-2000:]}")
                continue
            res = json.loads(p.stdout.strip().splitlines()[-1])
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                failures.append(f"{tag}: result {res['correct']}, "
                                f"{res['failed']}/{res['attempted']} failed")
            if got != want:
                failures.append(
                    f"{tag}: missing {sorted(set(want) - set(got))}, "
                    f"unexpected {sorted(set(got) - set(want))}, unit "
                    f"mismatch {sorted(k for k in set(got) & set(want) if got[k] != want[k])}")
            print(f"{tag}: {len(got)} metrics", flush=True)
    for f in failures:
        print("FAIL", f, file=sys.stderr)
    print("selftest", "failed" if failures else "passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
