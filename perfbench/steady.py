"""Steadiness check: repeat each workload over several seeds and print
each end-to-end metric's spread against its bound in BENCHMARK.json.

    python3 perfbench/steady.py [--trace]

Each workload of BENCHMARK.json runs on seeds 1 to 10, each run a separate
`perfbench/run.py` process, as the benchmark is meant to be run. For every
workload and metric it prints the median, the
quartiles (statistics.quantiles, n=4) and the spread (Q3 - Q1) / median;
a spread above a third of the metric's bound is flagged. With --trace it
also makes one traced run per workload and reports the tracing overhead:
the traced run's step time against the untraced median. Raw results go to
.perfbench_out/steady-<workload>.jsonl.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench_out")
RUNS = 10
FIRST_SEED = 1


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t = time.perf_counter()
    res = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, cwd=ROOT, timeout=600,
    )
    lines = res.stdout.strip().splitlines()
    out = json.loads(lines[-1]) if lines else {}
    out["exit_code"] = res.returncode
    out["wall_s"] = time.perf_counter() - t
    out["context"] = json.loads(lines[0]) if len(lines) > 1 else None
    return out


def spread(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main() -> int:
    cfg = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--trace", action="store_true")
    a = ap.parse_args()
    os.makedirs(OUT, exist_ok=True)
    ok = True
    for w in (w["name"] for w in cfg["workloads"]):
        results = []
        with open(os.path.join(OUT, f"steady-{w}.jsonl"), "a") as log:
            for seed in range(FIRST_SEED, FIRST_SEED + RUNS):
                r = run_once(w, seed, cfg["run_seconds"], 0)
                log.write(json.dumps(r) + "\n")
                results.append(r)
                print(f"{w} seed={seed} exit={r['exit_code']} "
                      f"wall={r['wall_s']:.1f}s correct={r.get('correct')}", flush=True)
        ok &= all(r["exit_code"] == 0 and r.get("correct") for r in results)
        print(f"\n{w}: {len(results)} runs, wall median "
              f"{statistics.median(r['wall_s'] for r in results):.1f}s")
        for m in cfg["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in results if "metrics" in r]
            if len(vals) < 2:
                continue
            med, q1, q3, sp = spread(vals)
            flag = "" if sp <= m["bound"] / 3 else ("  <-- over bound/3" if sp <= m["bound"]
                                                    else "  <-- OVER BOUND")
            print(f"  {m['name']:18s} median {med:12.4f} {m['unit']:6s} "
                  f"Q1 {q1:12.4f} Q3 {q3:12.4f} spread {sp:.3f} "
                  f"(bound {m['bound']}){flag}")
        if a.trace:
            r = run_once(w, FIRST_SEED, cfg["run_seconds"], 1)
            traced = r.get("metrics", {}).get("trace.step_s", {}).get("value")
            base = statistics.median(
                x["metrics"]["step_s"]["value"] for x in results if "metrics" in x)
            if traced:
                print(f"  tracing overhead on step_s: {traced / base - 1:+.1%} "
                      f"(traced {traced:.3f}s vs untraced median {base:.3f}s)")
        print(flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
