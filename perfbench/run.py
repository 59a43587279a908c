"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload extract_mixed --seed 1 --seconds 10 --trace 0

Run from the repository root.  Inputs are generated from the seed into
``.bench_work/inputs`` on first use, by a child process outside set-up
and timing, and reused afterwards.  The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics of BENCHMARK.json with ``--trace 0``, the per-layer metrics
with ``--trace 1``.  The line before it is the run's detail record
(operation times, checks, workload properties, host load).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_work")


def _prepare_env() -> None:
    sys.path.insert(0, ROOT)
    # executor Python workers inherit these from the JVM PySpark launches
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    for var, sub in (("SPARK_LOCAL_DIRS", "spark-local"), ("TMPDIR", "tmp")):
        path = os.path.join(WORK, sub)
        os.makedirs(path, exist_ok=True)
        os.environ[var] = path


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = parser.parse_args(argv)

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    engine = os.path.join(ROOT, "webtext_extraction_spark", "__init__.py")
    if not os.path.exists(engine) or not os.path.exists(spec_path):
        print("perfbench: run from a checkout of the engine (webtext_extraction_spark/ "
              "and BENCHMARK.json not found)", file=sys.stderr)
        return 2
    with open(spec_path, encoding="utf-8") as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        parser.error(f"unknown workload {args.workload!r}")

    _prepare_env()
    from perfbench import inputs

    t0 = time.perf_counter()
    input_dir, props = inputs.ensure_input(WORK, args.workload, args.seed)
    gen_s = time.perf_counter() - t0

    from perfbench.workloads import WORKLOADS

    run = WORKLOADS[args.workload](args, input_dir, props, WORK, gen_s)
    res = run.execute()

    if args.trace:
        # a layer that is not on this workload's path reads 0
        metrics = {m["name"]: {"value": float(res["layers"].get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in spec["per_layer"]}
        res["detail"]["layers_measured"] = sorted(res["layers"])
    else:
        metrics = {m["name"]: {"value": float(res["e2e"][m["name"]][0]), "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps(res["detail"], default=str))
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
