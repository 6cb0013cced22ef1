"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The last line of standard output
is one JSON object ``{"correct", "attempted", "failed", "metrics"}``;
earlier lines are JSON diagnostics (run context, sizes, and with
``--trace 1`` the per-span attribution and call-site tables).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import workloads  # noqa: E402


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # fail fast, before any set-up, when the engine's sources are absent
    try:
        import deep_reason_spark.plans.kg_pipeline  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, workloads.WORK_DIR, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)  # left by a killed run
    os.makedirs(work)
    try:
        out = workloads.run(args.workload, args.seed, args.seconds,
                            bool(args.trace), work, ROOT)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for line in out["diagnostics"]:
        print(json.dumps(line, sort_keys=True))
    print(json.dumps(out["result"], sort_keys=True))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
