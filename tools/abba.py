"""Compare two commits on one perfbench workload with alternated (ABBA) runs.

Usage:
    python tools/abba.py <parent> <change> --workload W --pairs N --seed S
        [--trace] [--workdir DIR]

Each commit is extracted with ``git archive`` into its own directory (never
a worktree) and ``perfbench/run.py`` runs from there with PYTHONPATH unset,
so each side imports only its own tree.  Every run lasts the benchmark's
own ``run_seconds`` (the parent's BENCHMARK.json), the same on both sides.
Pair i runs parent then change when
i is even and change then parent when odd (AB BA AB ...), so drift over the
session falls on both sides alike.  Every run's largest per-warm-round CPU
steal is recorded next to its metrics: a pair whose steal is high on one
side only was measured on a busy host.

The table prints each metric's median [Q1, Q3] on both sides, the ratio
change/parent, the pairs the change won (ties count for neither) and a
verdict:
  gain        at least 10 pairs, the change wins >= 9/10 of them and the
              medians differ, in the metric's better direction, by more
              than the parent's IQR (Q3 - Q1);
  better      the same with fewer than 10 pairs: a direction, no claim;
  worse       the change's median is worse than the parent's by more than
              the metric's bound in BENCHMARK.json (end-to-end metrics);
  unresolved  either side's IQR is wider than that bound, unless every run
              of the change reads better than every run of the parent;
  same        none of the above.
Without --trace the end-to-end metrics are compared; with it, the per-layer
ones (which carry no bound, so their verdict is gain, better or same), less
those that read 0 in every run (layers the workload bypasses).  A metric is
compared over the pairs where both sides reported it; a row that lost pairs
says how many, and the tool exits 1 when any run failed.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import tempfile
from collections.abc import Callable
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
STEAL_LINE = re.compile(r"^# host: CPU share stolen by the hypervisor per warm round:(.*)$")
# metrics echoed per run while the pairs run (the table has them all)
SHOWN = ("setup_s", "throughput_per_s", "p50_s", "first_s")
SHOWN_LAYERS = ("stencil.", "exec.jobs", "exec.shuffle_write_bytes")


def pair_order(pairs: int) -> list[tuple[str, str]]:
    """The run order of each pair: parent first in even pairs, change first
    in odd ones."""
    return [("parent", "change") if i % 2 == 0 else ("change", "parent")
            for i in range(pairs)]


def run_pairs(runner: Callable[[str], dict], pairs: int) -> list[dict]:
    """Run ``runner(side)`` in ABBA order; one {side: run} dict per pair."""
    out = []
    for order in pair_order(pairs):
        out.append({side: runner(side) for side in order})
    return out


def quartiles(vals: list[float]) -> tuple[float, float, float]:
    """(Q1, median, Q3), inclusive method: defined for any sample size."""
    if len(vals) == 1:
        return vals[0], vals[0], vals[0]
    q1, q2, q3 = statistics.quantiles(vals, n=4, method="inclusive")
    return q1, q2, q3


def verdict(parent: list[float], change: list[float], better: str,
            bound: float | None = None) -> dict:
    """Compare one metric's paired runs (parent[i] and change[i] are pair
    i) by the rule in the module docstring; ``bound`` is the relative
    worsening the benchmark allows, None for per-layer metrics."""
    sign = 1.0 if better == "higher" else -1.0
    pq1, pmed, pq3 = quartiles(parent)
    cq1, cmed, cq3 = quartiles(change)
    wins = sum(sign * (c - p) > 0 for p, c in zip(parent, change))
    gap = sign * (cmed - pmed)
    row = {"parent": (pmed, pq1, pq3), "change": (cmed, cq1, cq3),
           "ratio": cmed / pmed if pmed else float("nan"),
           "wins": wins, "pairs": len(parent)}
    if wins >= 0.9 * len(parent) and gap > pq3 - pq1:
        row["verdict"] = "gain" if len(parent) >= 10 else "better"
    elif bound is not None and -gap > bound * abs(pmed):
        row["verdict"] = "worse"
    elif (bound is not None
          and max(pq3 - pq1, cq3 - cq1) > bound * abs(pmed)
          and not min(sign * c for c in change) > max(sign * p for p in parent)):
        row["verdict"] = "unresolved"
    else:
        row["verdict"] = "same"
    return row


def parse_run(stdout: str) -> dict:
    """metrics, failed count and largest per-round steal of one run.py
    output; a run that printed no JSON line counts as failed."""
    steal = [float(x) for m in map(STEAL_LINE.match, stdout.splitlines()) if m
             for x in m.group(1).split()]
    last = next((ln for ln in reversed(stdout.splitlines()) if ln.startswith("{")), None)
    if last is None:
        return {"metrics": {}, "failed": 1, "steal_max": max(steal, default=0.0)}
    rec = json.loads(last)
    return {"metrics": {k: v["value"] for k, v in rec["metrics"].items()},
            "failed": rec["failed"], "steal_max": max(steal, default=0.0)}


def extract(rev: str, dest: Path) -> str:
    """``git archive`` ``rev`` into ``dest``; returns its full sha."""
    sha = subprocess.run(["git", "-C", str(REPO), "rev-parse", "--verify", f"{rev}^{{commit}}"],
                         check=True, capture_output=True, text=True).stdout.strip()
    dest.mkdir(parents=True)
    archive = subprocess.Popen(["git", "-C", str(REPO), "archive", sha], stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", str(dest)], stdin=archive.stdout, check=True)
    if archive.wait():
        raise SystemExit(f"git archive {rev} failed")
    return sha


def perfbench_runner(trees: dict[str, Path], args, seconds: float) -> Callable[[str], dict]:
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    cmd = [sys.executable, "perfbench/run.py", "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(seconds),
           "--trace", "1" if args.trace else "0"]

    def run(side: str) -> dict:
        p = subprocess.run(cmd, cwd=trees[side], env=env, capture_output=True, text=True)
        rec = parse_run(p.stdout)
        rec["exit"] = p.returncode
        print(f"# {side}: exit {p.returncode}, failed {rec['failed']}, "
              f"steal max {rec['steal_max']:.3f}, "
              + ", ".join(f"{k} {v:.4g}" for k, v in rec["metrics"].items()
                          if k in SHOWN or args.trace and k.startswith(SHOWN_LAYERS)),
              flush=True)
        return rec

    return run


def table(runs: list[dict], spec: dict, trace: bool) -> list[str]:
    """The BENCH.md table rows, one per metric some run read non-zero,
    compared over the pairs where both sides reported it."""
    metrics = spec["per_layer"] if trace else spec["end_to_end"]
    lines = ["| metric | parent | change | ratio | wins | verdict |",
             "|---|---|---|---|---|---|"]
    for m in metrics:
        name = m["name"]
        both = [r for r in runs
                if all(name in r[s]["metrics"] for s in ("parent", "change"))]
        if not any(r[s]["metrics"][name] for r in both for s in r):
            continue
        row = verdict([r["parent"]["metrics"][name] for r in both],
                      [r["change"]["metrics"][name] for r in both],
                      m["better"], m.get("bound"))
        dropped = len(runs) - len(both)

        def cell(v):
            return f"{v[0]:.4g} [{v[1]:.4g}, {v[2]:.4g}]"

        lines.append(f"| `{name}` ({m['unit']}) | {cell(row['parent'])} | {cell(row['change'])}"
                     f" | {row['ratio']:.3f} | {row['wins']}/{row['pairs']} | {row['verdict']}"
                     + (f" ({dropped} pairs dropped)" if dropped else "") + " |")
    return lines


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("parent")
    p.add_argument("change")
    p.add_argument("--workload", required=True)
    p.add_argument("--pairs", type=int, required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--trace", action="store_true")
    p.add_argument("--workdir", help="where to extract the trees (default: a temp dir)")
    args = p.parse_args(argv)

    work = Path(args.workdir or tempfile.mkdtemp(prefix="abba_"))
    trees = {"parent": work / "parent", "change": work / "change"}
    shas = {side: extract(rev, trees[side])
            for side, rev in (("parent", args.parent), ("change", args.change))}
    print(f"# {args.workload} seed {args.seed}, {args.pairs} pairs, trace {int(args.trace)}: "
          f"parent {shas['parent'][:12]}, change {shas['change'][:12]}, trees and runs.json in {work}",
          flush=True)
    spec = json.loads((trees["parent"] / "BENCHMARK.json").read_text())
    runs = run_pairs(perfbench_runner(trees, args, spec["run_seconds"]), args.pairs)
    (work / "runs.json").write_text(json.dumps(runs, indent=1))
    for i, r in enumerate(runs):
        print(f"# pair {i}: steal max parent {r['parent']['steal_max']:.3f}, "
              f"change {r['change']['steal_max']:.3f}")
    failed = {s: sum(r[s]["failed"] for r in runs) for s in ("parent", "change")}
    print(f"# failed operations: parent {failed['parent']}, change {failed['change']}")
    print("\n".join(table(runs, spec, args.trace)))
    bad = sum(r[s]["exit"] != 0 for r in runs for s in r)
    if bad:
        print(f"# {bad} runs failed (exit code not 0)")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
