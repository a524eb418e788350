"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload sync --seed 1 --seconds 1 --trace 0

Workloads (see perfbench/README.md): ``sync`` drives the ``Archive``
facade over a seeded generated archive; ``ann_stream`` runs registry ANN
and stream gates. ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` runs an untraced, a traced and another untraced
pass and prints the per-layer metrics, per-layer self time and the
tracing overhead. Run it from the root of a checkout. All state lives in one
workspace under ``perfbench/.work`` that is removed on exit, generated
inputs included.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _env(ws: str) -> None:
    """Point every temp and worker setting into the workspace before the
    JVM starts; the JVM and its Python workers inherit them."""
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(ws, d))
    os.environ["TMPDIR"] = os.path.join(ws, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(ws, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(min(4, len(os.sched_getaffinity(0))))
    # Maximum driver heap; Bench.start_spark pins the initial heap to it.
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    # Neither the launcher JVM nor the Spark JVM writes a performance-data file.
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["TZ"] = "UTC"
    time.tzset()
    import tempfile

    tempfile.tempdir = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import youtube_scraper_db_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    ws = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(ws, ignore_errors=True)
    _env(ws)
    bench = workloads.Bench(args, ws, T_START)
    try:
        workloads.WORKLOADS[args.workload](bench)
    finally:
        bench.close()
        shutil.rmtree(ws, ignore_errors=True)
        work = os.path.dirname(ws)
        if os.path.isdir(work) and not os.listdir(work):
            os.rmdir(work)

    result = bench.result(spec["per_layer" if args.trace else "end_to_end"])
    print(bench.summary(), file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
