"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload gate50 --seed 1 --seconds 5 --trace 0

Run from the repository root. Progress and a human-readable table go to
stderr; the last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. ``--trace 0`` reports the
end-to-end metrics of BENCHMARK.json, ``--trace 1`` its per-layer ones.
All scratch files live under ``.perfbench_work/`` in the current
directory and are removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    # On SIGTERM, unwind through the finally blocks below, which stop the
    # JVM and remove the scratch files.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, REPO_ROOT)
    from perfbench import harness

    work = os.path.join(os.getcwd(), ".perfbench_work", str(os.getpid()))
    harness.configure_env(REPO_ROOT, work)
    try:
        try:
            # The program under test: without it there is nothing to measure.
            import __spark_entry__  # noqa: F401
            import training_etl_demo_2_spark  # noqa: F401
        except ImportError as exc:
            log(f"perfbench: program not importable: {exc}")
            return 2
        from perfbench import workloads

        metrics, tally = workloads.run(
            args.workload, args.seed, args.seconds, bool(args.trace), work, log
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still owns a sibling directory
    for p in tally.problems:
        log(f"FAILED CHECK: {p}")
    log(f"{'metric':32s} {'value':>16s}  unit")
    for name, (value, unit) in metrics.items():
        log(f"{name:32s} {value:16.6g}  {unit}")
    log(f"{'error_rate':32s} {tally.failed / max(1, tally.attempted):16.6g}  ratio")
    print(
        json.dumps(
            {
                "correct": tally.failed == 0,
                "attempted": tally.attempted,
                "failed": tally.failed,
                "metrics": {
                    name: {"value": value, "unit": unit}
                    for name, (value, unit) in metrics.items()
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
