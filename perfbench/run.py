#!/usr/bin/env python3
"""Benchmark command: one workload, one seed.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine sources
plus the runner in perfbench/src with sbt and exports the classpath to
.bench_build/; later runs reuse it while the sources are unchanged, so no
run includes sbt start-up. The runner then starts in a plain JVM (see
perfbench/src/main/scala/graft/perfbench/Main.scala).

Workloads (the seed permutes each one's fixed query list):
  olap_fixture  batch queries over the sf0.1 fixture
  cdc_replay    the queries that run a streaming query over the staged event log
  bulk_x10      batch queries with oracle twins over a 10x replica of sf0.1

The last line of stdout is one JSON object: correct, attempted, failed and
metrics (end-to-end metrics with --trace 0, per-layer ones with --trace 1).
The line before it is the full run record, which also carries the resolved
Spark config, box.calib_s and the set-up breakdown; the traced run's spans go
to .bench_build/results/. Exits non-zero if any query throws or returns a
result whose signature differs from perfbench/signatures/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_ENTRY = os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")
JVM_TIMEOUT_S = 170
HEAP = "3g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
            os.path.join(HERE, "src", "main"), os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def classpath():
    """Compiles with sbt when the sources changed; returns the classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved_stamp, cp = f.read().split("\n", 1)
        if saved_stamp == stamp:
            return cp.strip()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(BUILD, exist_ok=True)
    t0 = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log, stdin=subprocess.DEVNULL,
            text=True, timeout=800)
        log.write(proc.stdout)
    lines = [l for l in proc.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        fail(f"build failed, see {os.path.join(BUILD, 'build.log')}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cp + "\n")
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp


def ensure_replica():
    sys.path.insert(0, HERE)
    import replica
    t0 = time.time()
    if replica.build(os.path.join(HERE, "data", "sf0.1"), os.path.join(BUILD, "replica", "x10"), 10):
        print(f"perfbench: replica generated in {time.time() - t0:.1f} s", file=sys.stderr)


def run_jvm(cp, args, work, out, timeout):
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{HEAP}",
        f"-Djava.io.tmpdir={work}/tmp",
        f"-Dgraft.stage.tmp={work}/stage",
        f"-Dgraft.stream.tmp={work}/stream",
        f"-Dderby.system.home={work}",
        "-cp", cp, "graft.perfbench.Main", "--mode", "run",
        "--root", ROOT, "--work", work, "--out", out,
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--list", args.list]
    os.makedirs(os.path.join(work, "tmp"))
    log_path = out[:-len(".json")] + ".log"
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"run exceeded {timeout} s, see {log_path}")
    shutil.rmtree(work, ignore_errors=True)
    return code, log_path


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["olap_fixture", "cdc_replay", "bulk_x10"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--list", choices=["sized", "full"], default="sized",
                    help="full: every query of the workload's set, one pass")
    args = ap.parse_args()

    if not os.path.exists(ENGINE_ENTRY):
        fail(f"engine sources not found ({os.path.relpath(ENGINE_ENTRY, ROOT)}); "
             "run from the root of a full checkout")
    if shutil.which("java") is None:
        fail("java is not on PATH")
    cp = classpath()
    if args.workload == "bulk_x10":
        ensure_replica()

    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}" + ("-trace" if args.trace else "") + (
        "-full" if args.list == "full" else "")
    out = os.path.join(results, tag + ".json")
    if os.path.exists(out):
        os.remove(out)
    timeout = JVM_TIMEOUT_S if args.list == "sized" else 3600
    code, log_path = run_jvm(cp, args, os.path.join(BUILD, "work"), out, timeout)
    if not os.path.exists(out):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"run produced no record (exit {code}), see {log_path}")
    with open(out) as f:
        record = json.load(f)
    for err in record["errors"][:20]:
        print(f"perfbench: FAILED {err}", file=sys.stderr)
    if args.trace:
        # the layer metrics BENCHMARK.json lists; the record keeps them all,
        # including those that are zero on every workload it names
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            listed = [m["name"] for m in json.load(f)["per_layer"]]
        metrics = {k: record["per_layer"][k] for k in listed}
    else:
        metrics = record["end_to_end"]
    summary = {k: v for k, v in record.items() if k not in ("queries", "order")}
    print(json.dumps(summary))
    print(json.dumps({"correct": record["correct"], "attempted": record["attempted"],
                      "failed": record["failed"], "metrics": metrics}))
    sys.exit(0 if record["correct"] and code == 0 else 1)


if __name__ == "__main__":
    main()
