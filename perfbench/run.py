"""Benchmark entry point for the CDC apply engine and its datapipe.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 10 --trace 0

Run from the checkout root. Workloads: ``backfill``, ``tail_serve``,
``datapipe`` (see ``workloads.py`` and ``README.md``). Detail lines go
to stdout first; the last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Exits non-zero, printing no result, when the program
under test cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _isolate(cache: str) -> None:
    """Keep every file Spark, the JVM and Python write inside the
    checkout, and size the Spark driver for a 4-core, 15 GB host."""
    tmp = os.path.join(cache, "tmp")
    local = os.path.join(cache, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    os.environ["PYSPARK_PYTHON"] = sys.executable


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path[:0] = [ROOT]
    try:
        import scylla_cdc_java_spark  # noqa: F401  the program under test
        import __spark_entry__  # noqa: F401
    except ImportError as e:
        print(f"perfbench: program not found under {ROOT}: {e}",
              file=sys.stderr)
        return 2

    import inputs
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    _isolate(inputs.CACHE)

    run = workloads.Run(args.workload, args.seed, args.seconds,
                        bool(args.trace))
    try:
        e2e, layers = workloads.WORKLOADS[args.workload](run)
    finally:
        run.shutdown()
        shutil.rmtree(run.work, ignore_errors=True)

    if args.trace:
        # layers a workload does not run report 0
        chosen = {k: (layers.get(k, 0.0), u)
                  for k, u in workloads.PER_LAYER.items()}
    else:
        chosen = {k: (e2e[k], u) for k, u in workloads.END_TO_END.items()}
    details = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "error_rate": run.failed / max(1, run.attempted),
        "errors": run.errors[:20], **run.details,
    }
    print(json.dumps({"details": details}, default=str))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()},
    }))
    return 0


if __name__ == "__main__":
    code = main()
    sys.stdout.flush()
    sys.stderr.flush()
    # skip interpreter teardown: pyarrow's thread pools can abort it
    # after a clean run, turning a good result into a non-zero exit
    os._exit(code)
