"""The benchmark's own test: every workload once on tiny inputs, traced
and untraced, with every output check (``run.py --smoke``).

    python3 -m pytest perfbench/test_smoke.py -q

Takes several minutes: each run starts its own Spark session.
"""

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def test_metric_lists_match_benchmark_json():
    sys.path.insert(0, HERE)
    import workloads
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    per_layer = {m["name"] for m in bench["per_layer"]}
    assert set(workloads.PER_LAYER_ZERO) <= per_layer
    assert [w["name"] for w in bench["workloads"]] == \
        ["serve_solo", "serve_algebra", "build"]


def test_smoke_all_workloads():
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                        "--smoke"], cwd=os.path.dirname(HERE),
                       capture_output=True, text=True, timeout=3600)
    assert p.returncode == 0, p.stdout + p.stderr[-4000:]
