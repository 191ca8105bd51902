#!/usr/bin/env python3
"""Paired perfbench A/B: two revisions, alternating order, one JSON summary.

    python3 tools/ab.py --base REV --change REV [--workload daily_pipeline]
        [--seeds 1-10] [--seconds 1] [--workdir DIR] [--out FILE]

Run from the repository root. Each revision is extracted with
`git archive` into its own clean directory under --workdir (default: a
new temporary directory) and builds itself there on its first
perfbench run, so neither side reads the other's build or classpath.
One discarded warm-up run per side builds it and generates the first
seed's inputs. Then, for every seed, both sides run
`perfbench/run.py --workload W --seed N --seconds S --trace 0`; the side
that runs first alternates from seed to seed, so drift in the machine's
load falls on both sides alike.

For every end-to-end metric of BENCHMARK.json it prints the median and
quartiles [q1, q3] of each side and in how many pairs the change is
better (in the metric's own direction). Any run that reports
`correct: false` or fails stops the A/B with exit status 1. With --out
the runs and the summary are written as JSON.
"""
import argparse
import json
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def die(msg):
    print(f"ab: {msg}", file=sys.stderr)
    sys.exit(1)


def seeds_of(text):
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def commit_of(rev):
    r = subprocess.run(["git", "rev-parse", "--verify", f"{rev}^{{commit}}"], cwd=ROOT,
                       capture_output=True, text=True)
    if r.returncode != 0:
        die(f"unknown revision {rev}: {r.stderr.strip()}")
    return r.stdout.strip()


def checkout(commit, into):
    """A clean copy of `commit` in `into` (reused if it already holds it)."""
    mark = into / ".ab-commit"
    if mark.exists() and mark.read_text().strip() == commit:
        return
    if into.exists() and any(into.iterdir()):
        die(f"{into} exists and does not hold {commit}")
    into.mkdir(parents=True, exist_ok=True)
    archive = subprocess.Popen(["git", "archive", commit], cwd=ROOT, stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", str(into)], stdin=archive.stdout, check=True)
    if archive.wait() != 0:
        die(f"git archive {commit} failed")
    mark.write_text(commit + "\n")


def run(side, path, workload, seed, seconds):
    """One untraced perfbench run; its metrics as {name: value}."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    t0 = time.time()
    r = subprocess.run(cmd, cwd=path, capture_output=True, text=True)
    lines = r.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        res = None
    if r.returncode != 0 or res is None:
        die(f"{side} seed {seed}: perfbench exited {r.returncode}\n{r.stdout[-2000:]}{r.stderr[-2000:]}")
    if not res["correct"] or res["failed"]:
        die(f"{side} seed {seed}: correct={res['correct']} failed={res['failed']} of "
            f"{res['attempted']} ops\n{r.stdout[-2000:]}")
    vals = {k: m["value"] for k, m in res["metrics"].items()}
    print(f"ab: {side:6s} seed {seed:3d} " + " ".join(f"{k}={v:.4g}" for k, v in sorted(vals.items()))
          + f" ({time.time() - t0:.0f} s)", flush=True)
    return vals


def quartiles(xs):
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive") if len(xs) > 1 else (xs[0],) * 3
    return {"median": med, "q1": q1, "q3": q3}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--base", required=True, help="revision measured as the parent")
    ap.add_argument("--change", required=True, help="revision measured as the change")
    ap.add_argument("--workload", default="daily_pipeline")
    ap.add_argument("--seeds", default="1-10", help="e.g. 1-10 or 1,3,5")
    ap.add_argument("--seconds", type=float, default=1)
    ap.add_argument("--workdir", help="where the two copies live (default: a new temp dir)")
    ap.add_argument("--out", help="write the runs and summary here as JSON")
    a = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    metrics = {m["name"]: m for m in spec["end_to_end"]}
    seeds = seeds_of(a.seeds)
    work = Path(a.workdir or tempfile.mkdtemp(prefix="graft-ab-")).resolve()
    sides = {"base": commit_of(a.base), "change": commit_of(a.change)}
    paths = {s: work / s for s in sides}
    for s, c in sides.items():
        checkout(c, paths[s])
        print(f"ab: {s} = {c} in {paths[s]}", flush=True)
    for s in sides:  # builds the copy and generates the first seed's inputs
        run(f"{s}*", paths[s], a.workload, seeds[0], a.seconds)

    pairs = []
    for i, seed in enumerate(seeds):
        order = ["base", "change"] if i % 2 == 0 else ["change", "base"]
        got = {s: run(s, paths[s], a.workload, seed, a.seconds) for s in order}
        pairs.append({"seed": seed, "first": order[0], **got})

    summary = {}
    print(f"\nab: {a.workload}, {len(pairs)} pairs, base {sides['base'][:10]} -> change {sides['change'][:10]}")
    for name, m in metrics.items():
        b = [p["base"][name] for p in pairs]
        c = [p["change"][name] for p in pairs]
        lower = m["better"] == "lower"
        wins = sum((y < x) if lower else (y > x) for x, y in zip(b, c))
        qb, qc = quartiles(b), quartiles(c)
        delta = (qc["median"] - qb["median"]) / qb["median"] if qb["median"] else 0.0
        summary[name] = {"unit": m["unit"], "better": m["better"], "base": qb, "change": qc,
                         "delta": delta, "change_better_pairs": wins, "pairs": len(pairs)}
        print(f"ab: {name:13s} base {qb['median']:.4g} [{qb['q1']:.4g}, {qb['q3']:.4g}]  "
              f"change {qc['median']:.4g} [{qc['q1']:.4g}, {qc['q3']:.4g}]  "
              f"{delta:+.1%}  change better in {wins}/{len(pairs)}")
    if a.out:
        out = {"workload": a.workload, "seconds": a.seconds, "seeds": seeds,
               "base": sides["base"], "change": sides["change"],
               "command": f"perfbench/run.py --workload {a.workload} --seed N "
                          f"--seconds {a.seconds:g} --trace 0",
               "pairs": pairs, "summary": summary}
        Path(a.out).parent.mkdir(parents=True, exist_ok=True)
        Path(a.out).write_text(json.dumps(out, indent=1) + "\n")
        print(f"ab: wrote {a.out}")


if __name__ == "__main__":
    main()
