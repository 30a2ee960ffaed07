"""glean-spark benchmark: one workload per process.

Run from the root of a checkout::

    python3 perfbench/run.py --workload heavy_resume --seed 1 --seconds 10 --trace 0

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``).  The line before
it is a diagnostics object (per-operation times, host load, digests).
Every file the run makes lives under ``.perfbench_work/`` in the checkout
and is removed at the end.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
#: the whole process ends by this many seconds even if Spark hangs
HARD_LIMIT_S = 175

END_TO_END = {
    "setup_s": "s", "run_s": "s", "items_per_s": "1/s",
    "op_geomean_s": "s", "cpu_s": "s", "written_mb": "MB",
}


def _parse(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["heavy_resume", "query_suite"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def _layer_unit(name: str) -> str:
    if name.endswith("_us"):
        return "us"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_ratio"):
        return "ratio"
    return "count"


def _hard_exit(work: str) -> None:
    from sampler import tree_pids

    print(f"perfbench: run exceeded {HARD_LIMIT_S} s, aborting",
          file=sys.stderr, flush=True)
    me = os.getpid()
    for pid in tree_pids(me):
        if pid != me:
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass
    shutil.rmtree(work, ignore_errors=True)
    os._exit(3)


def main(argv: list[str]) -> int:
    args = _parse(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "gleaner_spark", "__init__.py")):
        print("perfbench: run from the root of a glean-spark checkout "
              "(no gleaner_spark package here)", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # the program, its Python workers and the JVM see only the checkout
    os.environ["PERFBENCH_ROOT"] = root
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData")
    os.environ.pop("GLEANER_STAGE_TIMING", None)
    sys.path[:0] = [HERE, root]
    os.chdir(work)
    watchdog = threading.Timer(HARD_LIMIT_S, _hard_exit, (work,))
    watchdog.daemon = True
    watchdog.start()

    import workloads

    b = workloads.Bench(args.workload, args.seed, args.seconds, work,
                        bool(args.trace))
    w = workloads.WORKLOADS[args.workload](b)
    try:
        t = time.perf_counter()
        w.prepare()
        b.setup_s = time.perf_counter() - t
        e2e = w.untraced()
        if args.trace:
            w.traced(e2e["run_s"])
    except Exception:
        for e in b.errors:
            print(f"perfbench: {e}", file=sys.stderr)
        raise
    finally:
        b.stop_session()
        os.chdir(root)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    watchdog.cancel()

    if args.trace:
        metrics = {k: {"value": float(b.layer.get(k, 0.0)),
                       "unit": _layer_unit(k)}
                   for k in workloads.per_layer_names()}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u}
                   for k, u in END_TO_END.items()}
    b.diag.update({"workload": args.workload, "seed": args.seed,
                   "host_load": b.meter.host_load(),
                   "output_digest": w.output_digest(),
                   "errors": b.errors[:20]})
    print(json.dumps({"diagnostics": b.diag}))
    print(json.dumps({
        "correct": not b.errors,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
