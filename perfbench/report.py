#!/usr/bin/env python3
"""Runs the benchmark over several seeds and summarizes it.

    python3 perfbench/report.py --seeds 1-10 --traced-seeds 1 --out perfbench/results/head.json

For each workload in BENCHMARK.json (or --workloads), runs every seed
untraced and every traced seed traced, each through `perfbench/run.py`.
Per end-to-end metric it reports the median, quartiles and their spread as
a share of the median next to the metric's bound; per layer it reports the
median over the traced runs, and the tracing overhead (traced over
untraced operation geometric mean and throughput).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    out = []
    for part in spec.split(","):
        if "-" in part:
            a, b = part.split("-")
            out += range(int(a), int(b) + 1)
        elif part:
            out.append(int(part))
    return out


def run(workload, seed, seconds, trace):
    t0 = time.time()
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, stdout=subprocess.PIPE, text=True)
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
    try:
        res = json.loads(last)
    except ValueError:
        res = None
    notes = [l for l in p.stdout.splitlines() if l.startswith("[perfbench] ")]
    wall = time.time() - t0
    print(f"{workload} seed={seed} trace={trace} exit={p.returncode} wall={wall:.1f}s {last}", flush=True)
    return {"seed": seed, "exit": p.returncode, "wall_s": round(wall, 1), "result": res, "notes": notes}


def quartiles(values):
    if len(values) < 2:
        v = values[0]
        return v, v, v
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--traced-seeds", default="")
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--out")
    a = ap.parse_args()

    report = {"run_seconds": a.seconds, "workloads": {}}
    for w in a.workloads.split(","):
        untraced = [run(w, s, a.seconds, 0) for s in seeds(a.seeds)]
        traced = [run(w, s, a.seconds, 1) for s in seeds(a.traced_seeds)]
        ok = [r["result"] for r in untraced if r["result"]]
        e2e = {}
        for m in spec["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in ok]
            if not vals:
                continue
            q1, med, q3 = quartiles(vals)
            e2e[m["name"]] = {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med,
                              "bound": m["bound"], "unit": m["unit"], "values": vals}
            print(f"  {w:12s} {m['name']:18s} median {med:10.4f} {m['unit']:4s} spread "
                  f"{(q3 - q1) / med:6.3f} (bound {m['bound']})", flush=True)
        layers = {}
        tok = [r["result"] for r in traced if r["result"]]
        for m in spec["per_layer"]:
            vals = [r["metrics"][m["name"]]["value"] for r in tok]
            if vals:
                layers[m["name"]] = {"median": statistics.median(vals), "unit": m["unit"]}
        overhead = {}
        if layers and e2e:
            overhead = {
                "op_geomean": layers["trace.op_geomean_s"]["median"] / e2e["op_geomean_s"]["median"] - 1,
                "ops_per_s": e2e["ops_per_s"]["median"] / layers["trace.ops_per_s"]["median"] - 1}
            print(f"  {w:12s} tracing overhead: op geomean {overhead['op_geomean']:+.3f}, "
                  f"throughput {overhead['ops_per_s']:+.3f}", flush=True)
        report["workloads"][w] = {
            "end_to_end": e2e, "per_layer": layers, "tracing_overhead": overhead,
            "runs": {"untraced": untraced, "traced": traced}}
    if a.out:
        os.makedirs(os.path.dirname(os.path.abspath(a.out)), exist_ok=True)
        with open(a.out, "w") as fh:
            json.dump(report, fh, indent=1)
            fh.write("\n")


if __name__ == "__main__":
    main()
