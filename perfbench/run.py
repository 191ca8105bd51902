#!/usr/bin/env python3
"""graft benchmark: run one workload, check its outputs, report its metrics.

    python3 perfbench/run.py --workload corral_mr|daily_pipeline \
        --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds graft and the
benchmark with sbt (perfbench/build.sbt); later runs start plain `java`
on the recorded classpath. Inputs are generated from --seed (gen.py) into
perfbench/.work/inputs and reused by later runs with the same seed.

--trace 0 measures the end-to-end metrics: set-up (JVM start to session
ready), the cold pass, the median warm pass and the live heap. --trace 1
is a separate traced run that reports the per-layer metrics; its
trace.overhead is its warm pass over the median warm_s of the untraced
runs this build made in this checkout (of the committed baseline when it
made none). Either way the outputs of every pass are checked, and the
last stdout line is one JSON object with keys correct, attempted, failed
and metrics.
"""
import argparse
import hashlib
import json
import os
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

import gen

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
HEAP = "3g"
RUN_BUDGET_S = 175       # one run, once built
BUILD_BUDGET_S = 850     # the first run in a checkout also builds
# the generator parts behind each workload
PARTS = {"corral_mr": ["corral_mr"], "daily_pipeline": ["daily_dedup", "ann_search"]}
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

_children = []


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _stop_children(*_):
    for p in _children:
        if p.poll() is None:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            p.wait()
    sys.exit(3)


def call(cmd, deadline, log, cwd=ROOT, env=None):
    """Run cmd in its own process group, killed at the deadline."""
    with open(log, "ab") as out:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True)
        _children.append(p)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = None
        _children.remove(p)
    if rc != 0:
        tail = Path(log).read_text(errors="replace").splitlines()[-25:]
        print("\n".join(tail), file=sys.stderr)
        fail(f"{cmd[0]} {'timed out' if rc is None else f'exited {rc}'} (log: {log})")


def source_stamp():
    """Hash of everything the build reads, so an edit rebuilds."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties", HERE / "build.sbt",
             HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src" / "main"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for f in files:
        if f.exists():
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()[:16]


def build(deadline):
    """Build unless this source stamp is built; return (classpath, stamp)."""
    name = source_stamp()
    stamp = WORK / "build" / f"{name}.classpath"
    if stamp.exists():
        return stamp.read_text().strip(), name
    stamp.parent.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists() and "SBT_OPTS" not in env:
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    print("perfbench: building graft and the benchmark (sbt)", flush=True)
    call(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"], deadline,
         WORK / "build.log", cwd=HERE, env=env)
    cp = (HERE / "target" / "runtime.classpath").read_text().strip()
    stamp.write_text(cp)
    return cp, name


def jvm(cp, args, deadline, log, result):
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    result.parent.mkdir(parents=True, exist_ok=True)
    result.unlink(missing_ok=True)
    cmd += ["-cp", cp, "perfbench.Main", "--work", str(WORK), "--result", str(result)] + args
    call(cmd, deadline, log)
    return json.loads(result.read_text())


def untraced_warm_s(workload, results):
    """Median warm_s of this build's untraced runs of workload, or the
    committed baseline's when there are none."""
    runs = [json.loads(f.read_text())["warm_s"] for f in results.glob(f"{workload}-seed*-trace0.json")]
    if runs:
        print(f"perfbench: trace.overhead against {len(runs)} untraced runs of this build")
        return statistics.median(runs)
    print("perfbench: trace.overhead against the committed baseline's warm_s")
    base = json.loads((HERE / "baseline" / "baseline.json").read_text())
    return base["workloads"][workload]["end_to_end"]["warm_s"]["median"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    start = time.time()
    signal.signal(signal.SIGTERM, _stop_children)
    signal.signal(signal.SIGINT, _stop_children)

    spec_file = ROOT / "BENCHMARK.json"
    if not spec_file.exists():
        fail("BENCHMARK.json not found at the repository root")
    spec = json.loads(spec_file.read_text())
    if a.workload not in [w["name"] for w in spec["workloads"]] or a.workload not in PARTS:
        fail(f"unknown workload {a.workload}")
    if not (ROOT / "build.sbt").exists() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail("graft's sources (build.sbt, src/main/scala) are not next to perfbench/")

    WORK.mkdir(parents=True, exist_ok=True)
    built = (WORK / "build").is_dir() and any((WORK / "build").glob("*.classpath"))
    deadline = start + (RUN_BUDGET_S if built else BUILD_BUDGET_S)
    cp, stamp = build(deadline)
    deadline = max(deadline, time.time() + RUN_BUDGET_S - 5) if not built else deadline

    logs = WORK / "logs"
    logs.mkdir(parents=True, exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    log = logs / f"{tag}.log"
    log.unlink(missing_ok=True)
    common = ["--workload", a.workload, "--seed", str(a.seed)]
    for part in PARTS[a.workload]:
        gen.ensure(part, a.seed, gen.dir_for(WORK / "inputs", part, a.seed))
    results = WORK / "results" / stamp
    res = jvm(cp, common + ["--seconds", str(a.seconds), "--trace", str(a.trace)],
              deadline, log, results / f"{tag}.json")
    print(f"perfbench: workload {a.workload} seed {a.seed} (closed loop, 1 client, {res['master']})")
    print(f"perfbench: inputs {json.dumps(res['inputs'], sort_keys=True)}")
    print(f"perfbench: passes {res['passes']} (1 cold, {res['warm_passes']} warm); "
          f"warm samples s {[round(x, 4) for x in res['warm_samples_s']]}")
    print(f"perfbench: ops attempted {res['attempted']} failed {res['failed']} "
          f"error_rate {res['error_rate']:.4f} ratio")
    for name, v in sorted(res["quality"].items()):
        print(f"perfbench: {name} {v:.4f} ratio (median over passes)")
    if a.trace:
        layers = res["layers"]
        for name, self_ms in sorted(res["self_ms"].items(), key=lambda kv: -kv[1]):
            print(f"perfbench: self_ms {name} {self_ms:.1f}")
        print(f"perfbench: spans written to {res['trace_file']}")
        layers["trace.overhead"] = layers["pass.warm_ms"] / 1e3 / untraced_warm_s(a.workload, results)
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        values = {k: res[k] for k in ("setup_s", "cold_s", "warm_s", "heap_live_mb")}
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    for name, m in metrics.items():
        print(f"perfbench: {name} {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
