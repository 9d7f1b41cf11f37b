"""Interleaved A/B of two commits on the repository benchmark (perfbench).

Usage (from anywhere inside the repository):

    python3 scripts/ab.py BASE HEAD --workload serve_batch
    python3 scripts/ab.py f4c3d38 HEAD --workload serve_interactive \
        --seed 301 --workdir /path/to/scratch

Each commit's tree is exported with ``git archive`` into its own directory
under ``--workdir`` (default: a fresh temporary directory; an export
directory left by an earlier run is removed first); nothing in the
repository or its git metadata changes. Then, for pair i = 0..N-1, both
checkouts run

    python3 perfbench/run.py --workload W --seed S+i --seconds T

back to back, alternating which side goes first, so machine drift hits
both sides alike; T is the ``run_seconds`` that BENCHMARK.json fixes.
The script only invokes perfbench; it changes nothing under it. For
every end-to-end metric BENCHMARK.json declares it prints each side's
median and quartiles (``statistics.quantiles(n=4)``), the median
relative change, on how many pairs HEAD was better, and a verdict (see
``verdict``). A run that fails its oracle gate or exits non-zero is
reported, not hidden.
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

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def export(commit: str, dest: str) -> str:
    """Extract ``commit``'s tree into an emptied ``dest`` (git archive | tar),
    so no file of an earlier export can mix into the checkout."""
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    archive = subprocess.run(
        ["git", "-C", REPO, "archive", "--format=tar", commit],
        check=True, capture_output=True,
    )
    subprocess.run(["tar", "-x", "-C", dest], input=archive.stdout, check=True)
    return dest


def run_once(checkout: str, workload: str, seed: int, seconds: int) -> dict:
    """One perfbench run; its last stdout line is the result JSON."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds)],
        cwd=checkout, capture_output=True, text=True,
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    try:
        result = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        result = {"correct": False, "failed": None, "metrics": {}}
    result["exit"] = proc.returncode
    if proc.returncode:
        result["stderr_tail"] = proc.stderr[-2000:]
    return result


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def verdict(base: list[float], head: list[float], better: str, bound: float) -> str:
    """The A/B verdict for one metric over interleaved pairs
    (``base[i]`` and ``head[i]`` ran back to back):

    - ``gain``: HEAD is better on at least 9 of 10 pairs (ties count for
      neither side) and the medians differ, in HEAD's favour, by more than
      the base runs' interquartile range;
    - ``regression``: the HEAD median is worse than the base median by more
      than ``bound`` (a fraction of the base median);
    - ``unresolved``: the base runs spread (IQR over median) wider than
      ``bound`` and not every HEAD run beats every base run;
    - ``no change``: otherwise."""
    lower = better == "lower"
    sign = 1.0 if lower else -1.0  # sign * (base - head) > 0 means HEAD is better
    n = len(base)
    wins = sum(sign * (a - b) > 0 for a, b in zip(base, head))
    bq1, bmed, bq3 = quartiles(base)
    hmed = quartiles(head)[1]
    if 10 * wins >= 9 * n and sign * (bmed - hmed) > bq3 - bq1:
        return "gain"
    if sign * (hmed - bmed) > bound * abs(bmed):
        return "regression"
    head_beats_all = (max(head) < min(base)) if lower else (min(head) > max(base))
    if (bq3 - bq1) > bound * abs(bmed) and not head_beats_all:
        return "unresolved"
    return "no change"


def summarize(metrics: list[dict], pairs: list[tuple[dict, dict]]) -> list[dict]:
    rows = []
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        got = [
            (a["metrics"][name]["value"], b["metrics"][name]["value"])
            for a, b in pairs
            if name in a.get("metrics", {}) and name in b.get("metrics", {})
        ]
        if not got:
            continue
        base = [a for a, _ in got]
        head = [b for _, b in got]
        wins = sum((b < a) if lower else (b > a) for a, b in got)
        bq, hq = quartiles(base), quartiles(head)
        rows.append({
            "metric": name, "unit": m["unit"], "better": m["better"],
            "bound": m["bound"], "n": len(got),
            "base_median": bq[1], "base_q1": bq[0], "base_q3": bq[2],
            "head_median": hq[1], "head_q1": hq[0], "head_q3": hq[2],
            "change": (hq[1] - bq[1]) / bq[1] if bq[1] else 0.0,
            "head_wins": wins,
            "verdict": verdict(base, head, m["better"], m["bound"]),
        })
    return rows


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("base")
    ap.add_argument("head")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1, help="seed of pair 0; pair i uses seed+i")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--workdir", default=None)
    args = ap.parse_args(argv)

    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics, seconds = bench["end_to_end"], bench["run_seconds"]
    work = args.workdir or tempfile.mkdtemp(prefix="ab-")
    sides = {
        "base": export(args.base, os.path.join(work, "base")),
        "head": export(args.head, os.path.join(work, "head")),
    }
    pairs, runs = [], []
    for i in range(args.pairs):
        seed = args.seed + i
        order = ("base", "head") if i % 2 == 0 else ("head", "base")
        res = {}
        for side in order:
            res[side] = run_once(sides[side], args.workload, seed, seconds)
            r = res[side]
            print(f"pair {i} seed {seed} {side}: exit={r['exit']} "
                  f"correct={r.get('correct')} failed={r.get('failed')}",
                  file=sys.stderr, flush=True)
        pairs.append((res["base"], res["head"]))
        runs.append({"pair": i, "seed": seed, "order": order, **res})

    rows = summarize(metrics, pairs)
    print(f"A/B {args.workload}: base {args.base} vs head {args.head}, "
          f"{args.pairs} interleaved pairs, seeds {args.seed}..{args.seed + args.pairs - 1}")
    print("| metric | base median [Q1, Q3] | head median [Q1, Q3] | change "
          "| head better | bound | verdict |")
    print("|---|---|---|---|---|---|---|")
    for r in rows:
        print(f"| `{r['metric']}` ({r['unit']}) "
              f"| {r['base_median']:.4g} [{r['base_q1']:.4g}, {r['base_q3']:.4g}] "
              f"| {r['head_median']:.4g} [{r['head_q1']:.4g}, {r['head_q3']:.4g}] "
              f"| {r['change']:+.1%} | {r['head_wins']}/{r['n']} | {r['bound']} "
              f"| {r['verdict']} |")
    for side in ("base", "head"):
        bad = [p[side] for p in runs if p[side]["exit"] or not p[side].get("correct")]
        failed = sum(p[side].get("failed") or 0 for p in runs)
        print(f"{side}: {len(bad)} runs not clean, {failed} failed requests")
    return 0 if all(not p[s]["exit"] for p in runs for s in ("base", "head")) else 1


if __name__ == "__main__":
    sys.exit(main())
