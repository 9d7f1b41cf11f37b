"""bitfunnel_spark benchmark: one command, seeded inputs, oracle-checked.

Run from the repository root:

    python3 perfbench/run.py --workload serve_interactive --seed 1 --seconds 12 --trace 0

Workloads (see workloads.py): ``serve_interactive`` and ``serve_batch``.
The benchmark generates its inputs from ``--seed`` (gen.py), builds and
serves the index on ``local[nproc]`` Spark with one client thread, times a
closed loop for ``--seconds``, then checks a seeded sample of the timed
outputs against the DuckDB oracle outside the timed window.

Output: a ``{"report": ...}`` line with every metric the workload defines
by name (search_p50_ms, filtered_p50_ms, batch_qps, percolate_qps, ...),
the corpus statistics, the request shares per band and shape, and the
fixed settings; then, as the last line, the result:
``{"correct", "attempted", "failed", "metrics"}`` whose metrics are the
end-to-end metrics (``--trace 0``) or the per-layer metrics of a traced
run (``--trace 1``). Exit status 1 on any mismatch against the oracle, 2
when the engine is not importable.

Inputs and scratch files live in ``.perfbench_work/`` under the repository
root and are removed at the end of a run (span dumps of traced runs are
kept in ``.perfbench_work/traces/``).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(argv=None) -> int:
    import workloads

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "bitfunnel_spark", "__init__.py")):
        print(f"bitfunnel_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # Spark's Python workers import the engine too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    report, result = workloads.run(ROOT, args.workload, args.seed, args.seconds,
                                   bool(args.trace))
    print(json.dumps({"report": report}))
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
