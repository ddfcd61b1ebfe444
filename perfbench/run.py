"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0`` and the per-layer metrics with
``--trace 1`` (see ``perfbench/README.md``). Every run generates its
inputs from ``--seed`` under ``.perfbench-work/`` in the working
directory, checks every output, and removes the inputs when it ends.
The exit code is 0 only when every output check passed.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[0] = ROOT

# workload -> module that runs it (BENCHMARK.json lists the same names)
WORKLOADS = {"stream-alerts": "perfbench.stream",
             "batch-alerts": "perfbench.batch"}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.seconds <= 0:
        p.error("--seconds must be positive")
    return args


def prepare_dirs(work: str) -> None:
    """Every file the run writes stays under ``work``: Spark's local
    and warehouse dirs, the JVM's and Python's temp dirs."""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "tmp")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def main(argv=None) -> int:
    args = parse_args(argv)
    work = os.path.join(os.getcwd(), ".perfbench-work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    prepare_dirs(work)
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):   # other runs may share it
            os.rmdir(os.path.dirname(work))


def run(args, work: str) -> int:
    try:
        from perfbench import common
        common.require_package()
    except ImportError as e:
        print(f"perfbench: cannot import the package under test: {e}",
              file=sys.stderr)
        return 2
    problem = common.manifest_problem(os.path.join(ROOT, "BENCHMARK.json"),
                                      set(WORKLOADS))
    if problem:
        print(f"perfbench: {problem}", file=sys.stderr)
        return 2
    mod = importlib.import_module(WORKLOADS[args.workload])

    ctx = common.Context(args.workload, args.seed, args.seconds,
                         bool(args.trace), work, T_PROCESS)
    try:
        res = mod.run(ctx)
    except Exception:
        traceback.print_exc()
        print("perfbench: run crashed; every operation counts as failed",
              file=sys.stderr)
        return 1
    finally:
        ctx.close()

    for line in res.notes:
        print(line)
    if args.trace:
        out_dir = os.path.join(os.getcwd(), ".perfbench-out")
        os.makedirs(out_dir, exist_ok=True)
        ctx.tracer.write(os.path.join(
            out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
        metrics = {k: {"value": v, "unit": u}
                   for k, (v, u) in res.per_layer.items()}
    else:
        metrics = {k: {"value": res.end_to_end[k], "unit": u}
                   for k, u in common.END_TO_END.items()}
    correct = res.failed == 0
    print(json.dumps({"correct": correct, "attempted": res.attempted,
                      "failed": res.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
