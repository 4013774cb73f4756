#!/usr/bin/env python3
"""Benchmark entry point: one seeded workload run, one JSON result line.

    python3 perfbench/run.py --workload crawl_mix --seed 1 \
        --seconds 10 --trace 0

Run from the repository root.  ``--trace 0`` prints the end-to-end
metrics, ``--trace 1`` the per-layer ones.  The last line of standard
output is ``{"correct", "attempted", "failed", "metrics"}``; the exit
code is 0 only when every output check passed.  Inputs, Spark scratch
and temporary files live under ``.bench_work/`` and are removed at
exit; span dumps of traced runs are kept in ``.bench_out/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("crawl_mix", "kg"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "rdfa_spark", "__init__.py")):
        print(f"perfbench: no rdfa_spark package under {ROOT}",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".bench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # every temporary file of this process, the JVM and the Python
    # workers stays inside the checkout
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    os.environ["SPARK_LAUNCHER_OPTS"] = (f"-Djava.io.tmpdir={tmp} "
                                         "-XX:-UsePerfData")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    sys.path[:0] = [ROOT, HERE]

    import workloads
    r = workloads.Run(args.workload, args.seed, args.seconds,
                      bool(args.trace), work,
                      len(os.sched_getaffinity(0)))
    try:
        workloads.WORKLOADS[args.workload](r)
        if r.traced:
            r.finish_trace(os.path.join(ROOT, ".bench_out"))
    except Exception:
        traceback.print_exc()
        r.check("workload ran to completion", False)
    finally:
        r.stop_spark()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))
    result = {
        "correct": r.failed == 0,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in r.metrics.items()},
    }
    print(json.dumps(result))
    return 0 if r.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
