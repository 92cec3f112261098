"""Run one benchmark workload and print its metrics.

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload extract_mixed --seed 1 --seconds 10 --trace 0

Prints one line per metric (name, value, unit) and, as the last line of
standard output, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``.  ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` the per-layer table.  Exits non-zero without a result when
the checkout holds no engine to run.  Every process the run starts has
ended before it exits.
"""

from __future__ import annotations

import argparse
import json
import math
import signal
import sys
import traceback
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench.env import ProgramMissing, RunDir, import_program  # noqa: E402
from perfbench.procs import adopt_orphans, stop_processes  # noqa: E402


def _terminated(*_) -> None:
    """SIGTERM: leave through the ``finally`` that stops what the run
    started, undisturbed by a second SIGTERM."""
    signal.signal(signal.SIGTERM, signal.SIG_IGN)
    sys.exit(128 + signal.SIGTERM)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import_program()
    except ProgramMissing as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 2

    from perfbench import layers, workloads

    table = layers.TRACED if args.trace else workloads.WORKLOADS
    if args.workload not in table:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    adopt_orphans()
    signal.signal(signal.SIGTERM, _terminated)
    run = RunDir()
    res = workloads.Result()
    try:
        table[args.workload](run, args.seed, args.seconds, res)
    except Exception:  # noqa: BLE001 - report, then fail without a result
        traceback.print_exc()
        return 1
    finally:
        # the run's files go only once nothing it started can write them
        try:
            stop_processes()
        finally:
            run.close()

    for name, (value, unit) in sorted(res.metrics.items()):
        print(f"{name:48s} {value:14.6g} {unit}")
    for name, value in sorted(res.notes.items()):
        print(f"# {name}: {value}")
    for err in res.errors:
        print(f"! {err}")
    bad = [n for n, (v, _) in res.metrics.items() if not math.isfinite(v)]
    if bad:
        print(f"perfbench: non-finite metrics {bad}", file=sys.stderr)
        return 1
    print(json.dumps({
        "correct": res.correct,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {n: {"value": v, "unit": u} for n, (v, u) in sorted(res.metrics.items())},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
