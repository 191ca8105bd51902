#!/usr/bin/env python3
"""Record a benchmark baseline.

    python3 perfbench/baseline.py [--runs 10] [--first-seed 1] [--workloads a,b]
        [--no-trace] [--out perfbench/baseline/baseline.json]

For each workload: `--runs` untraced runs, each with its own seed, then
one traced run (skipped with --no-trace). Writes, per workload, the
median and quartiles of every
end-to-end metric, its spread (quartile distance over median, against the
metric's bound in BENCHMARK.json), the inputs' properties, and the
traced run's per-layer metrics. Run from the repository root.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def run(workload, seed, seconds, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.exit(f"{' '.join(cmd)} failed ({p.returncode}):\n{p.stderr[-3000:]}")
    info = [l for l in lines[:-1] if l.startswith("perfbench: inputs ")]
    return json.loads(lines[-1]), (json.loads(info[0][len("perfbench: inputs "):]) if info else {}), \
        time.time() - t0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default="")
    ap.add_argument("--no-trace", action="store_true")
    ap.add_argument("--out", default="perfbench/baseline/baseline.json")
    a = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    dest = ROOT / a.out
    # workloads not named keep their entries from an earlier run
    out = json.loads(dest.read_text()) if dest.exists() else {"workloads": {}}
    out.update(run_seconds=spec["run_seconds"], runs=a.runs)
    for w in names:
        results, inputs, walls = [], None, []
        for i in range(a.runs):
            res, inputs, wall = run(w, a.first_seed + i, spec["run_seconds"], 0)
            results.append(res)
            walls.append(wall)
            print(f"{w} seed {a.first_seed + i}: {wall:.0f} s "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items())
                  + ("" if res["correct"] else " INCORRECT"), flush=True)
        e2e = {}
        for m in spec["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in results]
            q1, med, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (vals[0],) * 3
            e2e[m["name"]] = {"unit": m["unit"], "median": med, "q1": q1, "q3": q3,
                              "spread": (q3 - q1) / med, "bound": m["bound"], "samples": len(vals)}
            print(f"  {m['name']}: median {med:.4g} {m['unit']} spread {(q3 - q1) / med:.3f} "
                  f"(bound {m['bound']})", flush=True)
        entry = {"end_to_end": e2e, "inputs_first_seed": inputs,
                 "error_rate": sum(r["failed"] for r in results) / sum(r["attempted"] for r in results),
                 "run_wall_s_median": statistics.median(walls)}
        if not a.no_trace:
            res, _, wall = run(w, a.first_seed, spec["run_seconds"], 1)
            entry["traced_seed"] = a.first_seed
            entry["per_layer"] = {k: v["value"] for k, v in res["metrics"].items()}
            # the traced warm pass over these runs' median warm_s
            entry["per_layer"]["trace.overhead"] = \
                entry["per_layer"]["pass.warm_ms"] / 1e3 / e2e["warm_s"]["median"]
            print(f"  traced run {wall:.0f} s, trace.overhead "
                  f"{entry['per_layer'].get('trace.overhead', 0):.3f}", flush=True)
        out["workloads"][w] = entry
    dest.parent.mkdir(parents=True, exist_ok=True)
    dest.write_text(json.dumps(out, indent=1, sort_keys=True) + "\n")
    print(f"wrote {a.out}")


if __name__ == "__main__":
    main()
