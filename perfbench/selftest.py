"""Self-test for the benchmark's own checks.

    python3 perfbench/selftest.py

1. ``BENCHMARK.json`` names exactly the workloads and metrics (with
   units) that ``run.py`` emits.
2. An injected mismatch is counted as a failed operation, not passed:
   ``warp_chunks`` with one payload byte of one tile flipped, and
   ``warp_publish`` with one lineage row's ``tiles_emitted`` off by one.
   Each runs the real benchmark with a 1-second window (about a minute).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def check_manifest() -> None:
    sys.path.insert(0, ROOT)
    from perfbench.run import END_TO_END, PER_LAYER
    from perfbench.warp import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(WORKLOADS)
    for key, emitted in (("end_to_end", END_TO_END), ("per_layer", PER_LAYER)):
        named = {m["name"]: m["unit"] for m in spec[key]}
        assert named == emitted, (key, set(named) ^ set(emitted))
    print("BENCHMARK.json matches run.py")


def injected(workload: str, kind: str) -> None:
    env = dict(os.environ, PERFBENCH_INJECT=kind)
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", "0"],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["failed"] == 1 and not result["correct"], result
    print(f"{workload} with {kind}: failed={result['failed']} of "
          f"{result['attempted']}, correct={result['correct']}")


if __name__ == "__main__":
    check_manifest()
    injected("warp_chunks", "tile_byte")
    injected("warp_publish", "lineage_row")
    print("selftest ok")
