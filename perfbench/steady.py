"""Steadiness record: every workload over many seeds, end to end and traced.

    python3 perfbench/steady.py --seeds 1-10 --sets 2 --out perfbench/steadiness.json

Runs ``perfbench/run.py`` once per (set, seed, workload) for every
workload of BENCHMARK.json at its ``run_seconds``, workloads interleaved
so host drift spreads over all of them, then one traced run per
workload.  Prints, per workload, every end-to-end metric with its
unit, run count, median, quartiles, spread (interquartile range over
median) and bound, plus operations attempted and failed; writes the
same as JSON.  Host load per run is recorded as context only.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
# this invocation's runs, appended as each finishes (emptied at start)
RAW = os.path.join(ROOT, ".bench_work", "steady-runs.jsonl")

from perfbench.workloads import percentile_summary  # noqa: E402


def _seeds(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    """One run of run.py; its result and detail lines, or its error."""
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=False)
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        return {"workload": workload, "seed": seed, "trace": trace, "wall_s": wall,
                "error": proc.stderr[-2000:]}
    return {"workload": workload, "seed": seed, "trace": trace, "wall_s": wall,
            "result": json.loads(lines[-1]), "detail": json.loads(lines[-2])}


def summarize(values: list[float], bound: float) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    spread = (q3 - q1) / med if med else float("inf")
    return {"n": len(values), "median": med, "q1": q1, "q3": q3, "spread": spread,
            "bound": bound, "spread_over_bound": spread / bound}


def worse_by(first: float, second: float, better: str) -> float:
    """Relative worsening of ``second`` against ``first`` (negative = better)."""
    return (second - first) / first if better == "lower" else (first - second) / first


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    parser = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    parser.add_argument("--seeds", default="1-10")
    parser.add_argument("--sets", type=int, default=1)
    parser.add_argument("--out", default=None, help="write the record here as JSON")
    args = parser.parse_args(argv)
    workloads = [w["name"] for w in spec["workloads"]]
    seconds = spec["run_seconds"]

    runs, traced = [], {}
    given = sys.argv[1:] if argv is None else argv
    head = {"command": " ".join(["python3", "perfbench/steady.py", *given]),
            "seconds": seconds, "seeds": _seeds(args.seeds), "sets": args.sets}
    os.makedirs(os.path.dirname(RAW), exist_ok=True)
    with open(RAW, "w", encoding="utf-8") as fh:
        fh.write(json.dumps(head) + "\n")
    for s in range(args.sets):
        for seed in head["seeds"]:
            for w in workloads:
                r = run_once(w, seed, seconds, 0)
                r["set"] = s
                runs.append(r)
                with open(RAW, "a", encoding="utf-8") as fh:
                    fh.write(json.dumps(r) + "\n")
                status = "error" if "error" in r else \
                    f"ok attempted={r['result']['attempted']} failed={r['result']['failed']}"
                print(f"set {s} seed {seed} {w}: {status} ({r['wall_s']:.1f} s)",
                      file=sys.stderr, flush=True)
    for w in workloads:
        traced[w] = run_once(w, head["seeds"][0], seconds, 1)
        with open(RAW, "a", encoding="utf-8") as fh:
            fh.write(json.dumps(traced[w]) + "\n")

    record = {**head, "workloads": {}}
    for w in workloads:
        mine = [r for r in runs if r["workload"] == w and "result" in r]
        rec = {
            "runs": len([r for r in runs if r["workload"] == w]),
            "runs_ok": len(mine),
            "ops_attempted": sum(r["result"]["attempted"] for r in mine),
            "ops_failed": sum(r["result"]["failed"] for r in mine),
            "all_correct": all(r["result"]["correct"] for r in mine),
            "wall_s_median": statistics.median(r["wall_s"] for r in mine) if mine else None,
            "metrics": {},
            "host": [{"set": r["set"], "seed": r["seed"], **r["detail"]["host"]} for r in mine],
        }
        for m in spec["end_to_end"]:
            per_set = []
            for s in range(args.sets):
                vals = [r["result"]["metrics"][m["name"]]["value"] for r in mine if r["set"] == s]
                if vals:
                    per_set.append(summarize(vals, m["bound"]))
            entry = {"unit": m["unit"], "better": m["better"], "sets": per_set}
            # relative worsening of each later set's median against the first's
            entry["worse_than_first_by"] = [
                worse_by(per_set[0]["median"], st["median"], m["better"]) for st in per_set[1:]]
            rec["metrics"][m["name"]] = entry
        op_s = [t for r in mine for t in r["detail"]["op_s_all"]]
        if op_s:
            rec["op_s_pooled"] = percentile_summary(op_s)
            rec["op"] = mine[0]["detail"]["op"]
        if w in traced and "result" in traced[w]:
            layers = {k: v["value"] for k, v in traced[w]["result"]["metrics"].items()}
            t = traced[w]["detail"]
            rec["traced"] = {
                "seed": traced[w]["seed"],
                "layers_measured": {k: layers[k] for k in t.get("layers_measured", [])},
                "event_log": t.get("event_log"),
                "replay": t.get("replay"),
                "correct": traced[w]["result"]["correct"],
                "attempted": traced[w]["result"]["attempted"],
                "failed": traced[w]["result"]["failed"],
            }
            untraced = statistics.median(
                r["result"]["metrics"]["rows_per_s"]["value"] for r in mine) if mine else None
            if untraced and layers.get("trace.rows_per_s"):
                rec["traced"]["tracing_overhead"] = 1.0 - layers["trace.rows_per_s"] / untraced
        elif w in traced:
            rec["traced"] = {"error": traced[w].get("error")}
        record["workloads"][w] = rec

    for w, rec in record["workloads"].items():
        print(f"\n{w}: runs {rec['runs_ok']}/{rec['runs']}  ops_attempted {rec['ops_attempted']}"
              f"  ops_failed {rec['ops_failed']}")
        for name, e in rec["metrics"].items():
            for s, st in enumerate(e["sets"]):
                print(f"  {name:18s} {e['unit']:7s} set {s} n={st['n']:2d}  median {st['median']:10.4f}"
                      f"  q1 {st['q1']:10.4f}  q3 {st['q3']:10.4f}  spread {st['spread']:.3f}"
                      f"  bound {st['bound']:.2f}")
            for s, worse in enumerate(e["worse_than_first_by"], start=1):
                print(f"  {'':18s} set {s} worse than set 0 by {worse:+.3f}")
        if "op_s_pooled" in rec:
            print(f"  {rec['op']} s pooled: {rec['op_s_pooled']}")
        if "traced" in rec and "tracing_overhead" in rec["traced"]:
            print(f"  tracing overhead on rows_per_s: {rec['traced']['tracing_overhead']:+.3f}")
    if args.out:
        with open(args.out, "w", encoding="utf-8") as fh:
            json.dump(record, fh, indent=1, sort_keys=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
