#!/usr/bin/env python3
"""Self-test of the benchmark: runs every workload at smoke size, once
untraced and once traced, and checks the result contract.

    python3 perfbench/selftest.py

For each run it asserts that the process exits 0, that the last line of
standard output has exactly the keys ``correct``, ``attempted``,
``failed`` and ``metrics``, that every check passed, and that the
metrics are exactly those BENCHMARK.json declares for the mode, each
with its declared unit. End-to-end values must be positive, and in the
traced ``tail`` run the spans must cover at least 90% of each epoch's
``addBatch`` time. It then prints the tracing overhead: each traced
end-to-end figure minus the untraced one.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: end-to-end figures the traced run repeats under ``traced.*``
TRACED = ["events_per_s", "fresh_s_p50", "main_fresh_s_p50"]


def run(workload: str, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", "7", "--seconds", "1", "--trace", str(trace),
           "--smoke"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=300)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        raise AssertionError(f"{workload} trace={trace}: exit {p.returncode}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        decl = json.load(f)
    want = {0: {m["name"]: m["unit"] for m in decl["end_to_end"]},
            1: {m["name"]: m["unit"] for m in decl["per_layer"]}}
    for w in [x["name"] for x in decl["workloads"]]:
        out = {}
        for trace in (0, 1):
            res = run(w, trace)
            tag = f"{w} trace={trace}"
            assert set(res) == {"correct", "attempted", "failed",
                                "metrics"}, tag
            assert res["correct"] and res["failed"] == 0, tag
            assert res["attempted"] >= 1, tag
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == want[trace], f"{tag}: metrics differ from " \
                "BENCHMARK.json"
            out[trace] = {k: v["value"] for k, v in res["metrics"].items()}
        assert all(v > 0 for v in out[0].values()), f"{w}: zero metric"
        cover = out[1]["trace.span_coverage"]
        assert cover >= 0.9, f"{w}: spans cover {cover:.0%} of addBatch"
        print(f"{w}: ok, span coverage {cover:.1%}")
        for m in TRACED:
            print(f"  tracing overhead {m}: "
                  f"{out[1]['traced.' + m] - out[0][m]:+.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
