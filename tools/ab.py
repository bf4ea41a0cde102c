"""Interleaved A/B of the benchmark: this checkout against a parent commit.

    python3 tools/ab.py --workload near_dup --seeds 1 2 3

Checks the parent out into a temporary git worktree, then runs
`perfbench/run.py --trace 0` seed by seed, alternating between the parent
and this checkout's working tree, uncommitted edits included (the order
flips every seed, so neither side always runs first on a warmer or quieter
host), each run BENCHMARK.json's `run_seconds` long. The parent defaults to
HEAD while tracked files have uncommitted edits (the change is not committed
yet, so HEAD is its parent) and to HEAD~1 otherwise; the resolved commit is
printed first. Prints every end-to-end metric of BENCHMARK.json per seed,
the medians and the change/parent ratio of the medians, plus each run's
`correct` and `failed`; then removes the worktree.

It only reports: no gate, no bound, and nothing is written under
perfbench/ beyond what perfbench/run.py itself writes in each checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_bench(checkout: str, workload: str, seed: int, seconds: float) -> dict:
    """One perfbench run in `checkout`; its contract JSON (last stdout line),
    or {"error": ...} when the run printed none."""
    res = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, capture_output=True, text=True,
    )
    lines = res.stdout.strip().splitlines()
    try:
        return json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        return {"error": f"exit {res.returncode}: {res.stderr.strip()[-300:]}"}


def _fmt(vals: list) -> str:
    return "/".join("-" if v is None else f"{v:.4g}" for v in vals)


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        cfg = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in cfg["workloads"]])
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--parent", default=None,
                    help="commit to compare against (default: HEAD with "
                         "uncommitted edits to tracked files, else HEAD~1)")
    ap.add_argument("--workdir", default=None,
                    help="directory for the parent worktree (default: a temp dir)")
    a = ap.parse_args(argv)
    if a.parent is None:
        dirty = subprocess.run(
            ["git", "status", "--porcelain", "--untracked-files=no"],
            cwd=ROOT, check=True, capture_output=True, text=True,
        ).stdout.strip()
        a.parent = "HEAD" if dirty else "HEAD~1"
    sha = subprocess.run(["git", "rev-parse", "--short", a.parent], cwd=ROOT,
                         check=True, capture_output=True, text=True).stdout.strip()
    print(f"parent: {a.parent} = {sha}", flush=True)

    tmp = tempfile.mkdtemp(prefix="ab-parent-", dir=a.workdir)
    parent = os.path.join(tmp, "parent")
    subprocess.run(["git", "worktree", "add", "--detach", parent, a.parent],
                   cwd=ROOT, check=True, capture_output=True)
    sides = {"parent": parent, "change": ROOT}
    runs: dict[str, list[dict]] = {"parent": [], "change": []}
    try:
        for i, seed in enumerate(a.seeds):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for side in order:
                out = run_bench(sides[side], a.workload, seed, cfg["run_seconds"])
                runs[side].append(out)
                print(f"seed {seed} {side}: "
                      + (out["error"] if "error" in out else
                         f"correct={out['correct']} failed={out['failed']}"),
                      flush=True)
    finally:
        subprocess.run(["git", "worktree", "remove", "--force", parent],
                       cwd=ROOT, capture_output=True)
        subprocess.run(["git", "worktree", "prune"], cwd=ROOT, capture_output=True)
        shutil.rmtree(tmp, ignore_errors=True)

    def values(side: str, name: str) -> list:
        return [r["metrics"][name]["value"] if "metrics" in r else None
                for r in runs[side]]

    print(f"\n{a.workload}: parent {a.parent} ({sha}) vs change, seeds {a.seeds}")
    for m in cfg["end_to_end"]:
        name = m["name"]
        p, c = values("parent", name), values("change", name)
        pm = statistics.median([v for v in p if v is not None] or [float("nan")])
        cm = statistics.median([v for v in c if v is not None] or [float("nan")])
        ratio = cm / pm if pm else float("nan")
        print(f"  {name:18s} parent {_fmt(p):28s} change {_fmt(c):28s} "
              f"median {pm:.4g} -> {cm:.4g}  ratio {ratio:.3f} "
              f"({m['better']} is better)")
    for side in ("parent", "change"):
        print(f"  {side}: correct " + "/".join(str(r.get("correct")) for r in runs[side])
              + ", failed " + "/".join(str(r.get("failed")) for r in runs[side]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
