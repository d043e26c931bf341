#!/usr/bin/env python3
"""End-to-end benchmark of the corpusaidspark engine.

Usage (from the repository root):

    python3 corpusbench/run.py --workload flagship --seed 42 --seconds 12 --trace 0

Workloads: flagship, sft_pack, checkpoint_write (see corpusbench/NOTES.md).
The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1`.

The benchmark builds itself (sbt, offline) when its sources or the
engine's changed, then runs one JVM (corpusbench.Main) with the engine on
`local[<cores>]`. Metric names and units come from BENCHMARK.json. All
output stays under corpusbench/target/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
WORK = os.path.join(TARGET, "work")
LAUNCH = os.path.join(TARGET, "launch.txt")
STAMP = os.path.join(TARGET, "launch.stamp")

WORKLOADS = ("flagship", "sft_pack", "checkpoint_write")
CONVS = 1500         # conversations in the staged table (~20k turns)
HEAP = "-Xmx3g"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840


def fail(msg):
    print(f"corpusbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def build():
    h = hashlib.sha256()
    for f in sources():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    if os.path.exists(LAUNCH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read() == stamp:
                return
    print("corpusbench: building", file=sys.stderr)
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
    subprocess.run(["sbt", "-batch", "-Dsbt.offline=true", "writeLaunch"],
                   cwd=HERE, env=env, stdout=sys.stderr, check=True,
                   timeout=BUILD_TIMEOUT_S)
    with open(STAMP, "w") as fh:
        fh.write(stamp)


def jvm(args):
    with open(LAUNCH) as fh:
        launch = [l for l in fh.read().split("\n") if l]
    out = os.path.join(WORK, "result.json")
    if os.path.exists(out):
        os.remove(out)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if "JAVA_HOME" in os.environ else "java"
    cmd = [java, HEAP, "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"] + launch + [
        "corpusbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", WORK,
        "--repo", ROOT, "--python", sys.executable, "--convs", str(CONVS),
        "--out", out]
    env = dict(os.environ, PYTHONDONTWRITEBYTECODE="1")
    # subprocess.run kills and reaps the JVM if it overruns or we are stopped
    subprocess.run(cmd, cwd=ROOT, env=env, stdout=sys.stderr, check=True,
                   timeout=JVM_TIMEOUT_S)
    with open(out) as fh:
        return json.load(fh)


def declared(trace):
    """The metrics BENCHMARK.json declares for this kind of run: name -> unit."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    # on SIGTERM, unwind through subprocess.run, which kills and reaps the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    for need in ("BENCHMARK.json", "build.sbt", "src/main/scala/graft",
                 "tools/gen_pseudo_golden.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from a checkout of the repository")
    # leftovers of a run that was killed; the cache of inputs and references stays
    for d in ("tmp", "spark-local", "scratch", "ckpt"):
        shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
    os.makedirs(WORK, exist_ok=True)
    build()

    r = jvm(args)
    attempted, failed = int(r.get("attempted", 1)), int(r.get("failed", 0))
    missing = [k for k in declared(args.trace) if r.get(k) is None]
    if missing:
        fail(f"the run did not measure {', '.join(missing)}")
    metrics = {k: {"value": r[k], "unit": u} for k, u in declared(args.trace).items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
