"""Steadiness report: run one workload N times with different seeds and
print, per metric, the median, the interquartile range as a share of the
median, and the median within-run drift of cycle times (last quarter of
the window against the first).

    python3 perfbench/steady.py --workload agent_session --runs 10 --seconds 12

Run from the repository root. Runs are sequential; each is a full
``run.py`` process.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def one_run(workload: str, seed: int, seconds: float) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        capture_output=True, text=True, check=True, timeout=600,
    ).stdout.strip().splitlines()
    return json.loads(out[-2])["detail"], json.loads(out[-1])


def report(results: list[tuple[dict, dict]]) -> list[str]:
    lines = [f"{'metric':<28} {'median':>12} {'iqr/median':>11}  unit"]
    for name, m in results[0][1]["metrics"].items():
        values = [r["metrics"][name]["value"] for _, r in results]
        lines.append(f"{name:<28} {stats.median(values):>12.4f} {stats.iqr_share(values):>11.4f}  {m['unit']}")
    drifts = [d["window_drift"] for d, _ in results]
    lines.append(f"{'within-run drift (median)':<28} {stats.median(drifts):>12.4f}")
    failed = sum(r["failed"] for _, r in results)
    lines.append(f"runs {len(results)}, failed ops {failed}, all correct {all(r['correct'] for _, r in results)}")
    return lines


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()
    results = []
    for k in range(args.runs):
        results.append(one_run(args.workload, args.first_seed + k, args.seconds))
        detail, result = results[-1]
        print(json.dumps({"seed": args.first_seed + k, "detail": detail, "metrics": result["metrics"]}), flush=True)
    print("\n".join(report(results)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
