"""Run every workload of BENCHMARK.json once and print a table.

    python3 perfbench/report.py --seed 1            # end-to-end metrics
    python3 perfbench/report.py --seed 1 --trace    # plus a traced run each

Prints each end-to-end metric by name and unit for each workload with
the workload's correctness verdict and failed fraction. With
``--trace`` it also runs each workload traced and prints the per-layer
self times next to the untraced end-to-end numbers, and the tracing
overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(workload: str, seed: int, seconds: int, trace: bool) -> tuple[dict, dict]:
    p = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(int(trace))],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{workload} failed ({p.returncode}):\n{p.stderr[-3000:]}")
    return json.loads(lines[-1]), json.loads(lines[-2])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = spec["run_seconds"]
    for w in spec["workloads"]:
        res, detail = run(w["name"], args.seed, seconds, False)
        print(f"== {w['name']}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']} failed_frac={res['failed'] / res['attempted']:.4f}")
        for name, m in res["metrics"].items():
            print(f"   {name:<24} {m['value']:>14.3f} {m['unit']}")
        for kind, v in sorted(detail.get("summary", {}).items()):
            if isinstance(v, (int, float)) and (kind.endswith("_ms") or kind.endswith("_p")):
                print(f"   ({kind:<22} {v:>14.3f})")
        if not args.trace:
            continue
        tres, tdetail = run(w["name"], args.seed, seconds, True)
        layer = {k: v["value"] for k, v in tres["metrics"].items()}
        skip = set(tdetail.get("not_exercised", []))
        untraced = res["metrics"]["latency_p50_ms"]["value"]
        print(f"   traced: correct={tres['correct']}  p50 {layer['trace.latency_p50_ms']:.1f} ms"
              f" vs untraced {untraced:.1f} ms: overhead "
              f"{layer['trace.latency_p50_ms'] - untraced:.1f} ms")
        for name, v in layer.items():
            if name.startswith("self.") and name not in skip:
                print(f"   {name:<32} {v:>14.3f} ms")
    return 0


if __name__ == "__main__":
    sys.exit(main())
