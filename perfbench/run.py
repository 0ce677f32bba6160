#!/usr/bin/env python3
"""Benchmark of record for the graft engine.

Run from the repository root:

    python3 perfbench/run.py --workload crawl_rank --seed 1 --seconds 1 --trace 0

Builds the engine and the harness from source with sbt (offline) when any
source changed since the last build, then runs the harness in one JVM at
local[N], N <= 4. The last line of standard output is the result JSON:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.

    python3 perfbench/run.py --smoke      # all workloads, small inputs
    python3 perfbench/run.py --selftest   # smoke run + metric/trace assertions
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
LAUNCH = os.path.join(HERE, "target", "launch")
RUN_LIMIT_S = 170  # a benchmark run must end within 180 s
SMOKE_LIMIT_S = 900
BUILD_LIMIT_S = 840
HEAP = "3g"
# sbt must never reach a network repository
SBT = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
       "-Dsbt.override.build.repos=true", "-Dsbt.offline=true"]
# what the build reads: whole source trees, and the build definitions
SOURCE_TREES = ("src/main", "perfbench/src")
BUILD_DIRS = (".", "project", "perfbench", "perfbench/project")


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    paths = [os.path.join(d, f) for top in SOURCE_TREES
             for d, _, fs in os.walk(os.path.join(ROOT, top)) for f in fs]
    for d in BUILD_DIRS:
        full = os.path.join(ROOT, d)
        paths += [os.path.join(full, f) for f in os.listdir(full)
                  if f.endswith((".sbt", ".scala", ".properties")) and f != "log4j2.properties"]
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def run_bounded(cmd, limit, **kw):
    """Runs cmd in its own process group; kills the group at the time limit."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"{cmd[0]} exceeded {limit} s", 3)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def build():
    """Compiles with sbt unless the sources match the last build."""
    stamp = source_stamp()
    stamp_file = os.path.join(LAUNCH, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_DRIVER_MEM=HEAP)
    repos = os.path.expanduser("~/.sbt/repositories")
    cmd = SBT + ([f"-Dsbt.repository.config={repos}"] if os.path.exists(repos) else []) + ["launcher"]
    t0 = time.time()
    code = run_bounded(cmd, BUILD_LIMIT_S, cwd=HERE, env=env, stdout=sys.stderr)
    if code != 0:
        fail(f"sbt build failed with exit code {code}", 4)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)


def harness(args, limit=RUN_LIMIT_S):
    """Runs the harness JVM; returns its result lines."""
    with open(os.path.join(LAUNCH, "classpath.txt")) as f:
        cp = f.read().strip()
    with open(os.path.join(LAUNCH, "javaopts.txt")) as f:
        opts = [o for o in f.read().split("\n") if o]
    os.makedirs(OUT, exist_ok=True)
    results = os.path.join(OUT, "results.jsonl")
    if os.path.exists(results):
        os.remove(results)
    log = f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"
    cmd = ["java"] + opts + [f"-Xms{HEAP}", f"-Xmx{HEAP}", log, "-cp", cp, "perfbench.Main", "--out", OUT] + args
    code = run_bounded(cmd, limit, cwd=ROOT)
    if code != 0 or not os.path.exists(results):
        fail(f"harness exited with code {code}", code or 5)
    with open(results) as f:
        return [line.strip() for line in f if line.strip()]


def selftest():
    """Smoke-runs every workload and checks the metrics against
    BENCHMARK.json and the trace file's span structure."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    lines = harness(["--workload", "all", "--smoke", "--seconds", "1"], SMOKE_LIMIT_S)
    seen = set()
    for line in lines:
        res = json.loads(line)
        w = res["workload"]
        seen.add(w)
        assert res["correct"] and res["failed"] == 0, f"{w}: {res['failed']} failed ops"
        for name, unit in wanted.items():
            got = res["metrics"].get(name)
            assert got is not None, f"{w}: metric {name} missing"
            assert got["unit"] == unit, f"{w}: {name} unit {got['unit']} != {unit}"
            assert isinstance(got["value"], (int, float)), f"{w}: {name} not a number"
        for name in ("wall_s", "setup_s", "peak_task_mem_mb"):
            assert res["metrics"][name]["value"] > 0, f"{w}: {name} is 0"
        with open(os.path.join(OUT, f"trace-{w}-1.json")) as f:
            spans = json.load(f)["spans"]
        ids = {s["id"] for s in spans}
        roots = [s for s in spans if s["parent"] == -1]
        assert roots and all(r["name"] == w for r in roots), f"{w}: bad root spans"
        assert all(s["parent"] in ids for s in spans if s["parent"] != -1), f"{w}: dangling parent"
        ops = [s for s in spans if s["parent"] in {r["id"] for r in roots}]
        assert ops, f"{w}: no op spans"
        assert any(s["name"] == "sink" for s in spans), f"{w}: no sink spans"
        for s in spans:
            assert 0 <= s["self_ms"] <= s["dur_ms"] + 1e-6, f"{w}: span {s['name']} self time"
    assert {w["name"] for w in spec["workloads"]} <= seen, f"workloads run: {sorted(seen)}"
    print(f"selftest: ok, {len(seen)} workloads, {len(wanted)} metrics each")


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true")
    p.add_argument("--selftest", action="store_true")
    a = p.parse_args()
    if not (a.smoke or a.selftest or a.workload):
        p.error("--workload is required")
    for rel in ("build.sbt", "src/main/scala/graft"):
        if not os.path.exists(os.path.join(ROOT, rel)):
            fail(f"{rel} not found: run from a checkout of the engine")
    build()
    if a.selftest:
        selftest()
        return
    if a.smoke:
        args = ["--workload", a.workload or "all", "--smoke", "--seed", str(a.seed), "--seconds", "1"]
    else:
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace)]
    for line in harness(args, SMOKE_LIMIT_S if a.smoke else RUN_LIMIT_S):
        print(line)


if __name__ == "__main__":
    main()
