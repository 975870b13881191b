"""Run one workload over several seeds and report, per end-to-end metric,
the median and the quartile spread as a share of the median (the
figure each metric's ``bound`` in BENCHMARK.json must exceed).

    python3 perfbench/stability.py --workload etl_lake --seeds 1-10 --seconds 10
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
from metrics import END_TO_END  # noqa: E402


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="10")
    a = ap.parse_args()
    rows, walls = [], []
    for seed in _seeds(a.seeds):
        t0 = time.perf_counter()
        out = subprocess.run(
            [sys.executable, str(HERE / "run.py"), "--workload", a.workload,
             "--seed", str(seed), "--seconds", a.seconds, "--trace", "0"],
            cwd=HERE.parent, capture_output=True, text=True, timeout=600,
        )
        walls.append(time.perf_counter() - t0)
        last = (out.stdout.strip().splitlines() or [""])[-1]
        if out.returncode != 0 or not last.startswith("{"):
            print(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}")
            return 1
        res = json.loads(last)
        rows.append(res)
        vals = " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items())
        print(f"seed {seed}: {walls[-1]:.1f}s correct={res['correct']} failed={res['failed']} {vals}", flush=True)
    print(f"wall per run: median {statistics.median(walls):.1f}s max {max(walls):.1f}s")
    for m in END_TO_END:
        xs = [r["metrics"][m["name"]]["value"] for r in rows]
        med = statistics.median(xs)
        spread = float("nan")
        if len(xs) >= 2:
            q1, _, q3 = statistics.quantiles(xs, n=4)
            spread = (q3 - q1) / med
        flag = "" if spread < m["bound"] / 3 else ("  > bound/3" if spread < m["bound"] else "  > BOUND")
        print(f"{m['name']:>14}: median {med:.5g} {m['unit']}, spread {spread:.3f} (bound {m['bound']}){flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
