"""Repository benchmark: warm solo and query-algebra serving, bulk build,
and near-real-time ingest, every answer checked against an oracle.

    python3 perfbench/run.py --workload serve_solo --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --smoke        # all four workloads, tiny inputs

Run from the repository root. The last line of standard output is one JSON
object {"correct", "attempted", "failed", "metrics"}: the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1. The line
before it is a human-readable summary (host-drift controls, tail
percentile, failures). Inputs, the serving index and the oracle are cached
under .perfbench_work/ in the root; see perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

# the workloads BENCHMARK.json lists come first; `ingest` also runs on its
# own (and inside every traced build run), see perfbench/README.md
WORKLOADS = ("serve_solo", "serve_algebra", "build", "ingest")

def _bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def pin_environment(trace: bool, run_dir: str) -> None:
    """Launch environment of the Spark JVM and its Python workers. Must
    run before the first session starts: every value here is read at
    launch."""
    pp = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "3g"
    os.environ["SPARK_GRAFT_TABLE_FORMAT"] = "parquet"
    local_dir = os.path.join(run_dir, "spark-local")
    os.makedirs(local_dir, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local_dir
    for var in ("SPIDEY_SOLO_ROUTE", "SPIDEY_COLO_MIN_DOCS",
                "SPARK_GRAFT_MASTER", "SPARK_CONF_DIR"):
        os.environ.pop(var, None)
    confs = ["spark.ui.showConsoleProgress=false",
             f"spark.local.dir={local_dir}",
             f"spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}"]
    if trace:
        ev = os.path.join(run_dir, "eventlog")
        os.makedirs(ev, exist_ok=True)
        confs += ["spark.eventLog.enabled=true",
                  f"spark.eventLog.dir=file://{ev}",
                  "spark.eventLog.compress=false",
                  "spark.eventLog.rolling.enabled=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {c}" for c in confs) + " pyspark-shell"


def engine_available() -> bool:
    return os.path.isfile(os.path.join(
        ROOT, "spidey_search_engine_spark", "operators", "search.py"))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="run all four workloads once on tiny inputs")
    ap.add_argument("--prepare", choices=("serve",),
                    help=argparse.SUPPRESS)  # builds the serving cache
    ap.add_argument("--size", default="full", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    if not engine_available() or not os.path.isfile(
            os.path.join(ROOT, "BENCHMARK.json")):
        print("perfbench: run from a checkout of the repository root "
              "(engine package and BENCHMARK.json not found)",
              file=sys.stderr)
        return 2

    if args.smoke:
        return smoke()
    if args.prepare:
        prep_dir = os.path.join(WORK, f"prep-{os.getpid()}")
        pin_environment(False, prep_dir)
        import shutil
        import workloads
        try:
            workloads.prepare_serving(workloads.SIZES[args.size])
        finally:
            shutil.rmtree(prep_dir, ignore_errors=True)
        return 0
    if not args.workload:
        ap.error("--workload is required")
    seconds = args.seconds if args.seconds is not None \
        else float(_bench_json()["run_seconds"])

    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{os.getpid()}")
    pin_environment(bool(args.trace), run_dir)
    import workloads
    size = workloads.SIZES[args.size]
    if args.workload.startswith("serve"):
        # the serving index, its corpus and its oracle are built once per
        # checkout, in a child process, so this run's session start and
        # set-up are measured the same way on every run
        if not workloads.serving_ready(size):
            subprocess.run([sys.executable, os.path.abspath(__file__),
                            "--prepare", "serve", "--size", args.size],
                           check=True, cwd=ROOT)
    try:
        res = workloads.run(args.workload, args.seed, seconds,
                            bool(args.trace), run_dir, size)
    finally:
        import shutil
        shutil.rmtree(run_dir, ignore_errors=True)
    names = [m["name"] for m in
             _bench_json()["per_layer" if args.trace else "end_to_end"]]
    units = {m["name"]: m["unit"] for m in
             _bench_json()["per_layer" if args.trace else "end_to_end"]}
    missing = [n for n in names if n not in res["metrics"]]
    if missing:
        print(f"perfbench: metrics not produced: {missing}", file=sys.stderr)
        return 3
    print("summary " + json.dumps(res["summary"], sort_keys=True))
    print(json.dumps({
        "correct": bool(res["failed"] == 0 and res["attempted"] > 0),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {n: {"value": float(res["metrics"][n]), "unit": units[n]}
                    for n in names}}))
    return 0


def smoke() -> int:
    """Every workload once, traced and untraced, on the tiny input size,
    in child processes; fails on any failed check or missing metric."""
    bad = []
    for wl in WORKLOADS:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload",
                   wl, "--seed", "3", "--seconds", "0.5", "--trace",
                   str(trace), "--size", "smoke"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True,
                               text=True, timeout=900)
            last = (p.stdout.strip().splitlines() or [""])[-1]
            try:
                res = json.loads(last)
            except ValueError:
                res = None
            ok = (p.returncode == 0 and res is not None and res["correct"]
                  and res["failed"] == 0)
            print(f"smoke {wl} trace={trace}: "
                  f"{'ok' if ok else 'FAILED'} {last[:300]}", flush=True)
            if not ok:
                bad.append((wl, trace))
                sys.stderr.write(p.stderr[-4000:])
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
