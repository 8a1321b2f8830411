"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload headline_corpus --seed 1 --seconds 15 --trace 0

The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``.  Progress and
diagnostics go to standard error.  Exits non-zero, without a result, when
the library is not in the checkout or the run does not finish in time.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading

# import the benchmark as the package ``perfbench`` from the checkout root
sys.path[0] = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

from perfbench import harness  # noqa: E402

WORKLOADS = ("headline_corpus", "stream_changelog")
DEADLINE_S = 170


def _abort_after(seconds: float) -> threading.Timer:
    """Kill the JVM and exit non-zero if the run overruns its deadline."""

    def abort():
        from pyspark import SparkContext

        print(f"perfbench: run exceeded {seconds:.0f} s, aborting", file=sys.stderr, flush=True)
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None) if gateway is not None else None
        if proc is not None:
            proc.kill()
            proc.wait(timeout=30)
        os._exit(3)

    timer = threading.Timer(seconds, abort)
    timer.daemon = True
    timer.start()
    return timer


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    harness.prepare_environment()
    try:
        import __spark_entry__  # noqa: F401
        import pathwaydataframework_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the library is not importable from {harness.ROOT}: {exc}",
              file=sys.stderr)
        return 2

    timer = _abort_after(DEADLINE_S)
    if args.workload == "headline_corpus":
        from perfbench import batch as workload
    else:
        from perfbench import stream as workload
    result = workload.run(args.seed, args.seconds, bool(args.trace))
    timer.cancel()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
