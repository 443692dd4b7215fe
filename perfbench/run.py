#!/usr/bin/env python3
"""Run one benchmark workload of breadspark and print its result.

Usage (from the root of a source checkout):

    python3 perfbench/run.py --workload flow|registry \
        --seed N --seconds S --trace 0|1 [--out FILE]

The first run builds the repository (`sbt compile`) and the benchmark's
own Scala sources into the build directory (`$CARGO_TARGET_DIR`, default
`.bench_build`); later runs reuse that build while the sources are
unchanged. Each run makes its inputs from the seed, drives the workload
in one JVM, checks every output, and prints one JSON object as the last
line of standard output: `correct`, `attempted`, `failed` and `metrics`
(the end-to-end metrics of BENCHMARK.json with `--trace 0`, its per-layer
metrics with `--trace 1`). The full record, with the environment it ran
in, is written to `<build dir>/results/` (and to `--out` if given).
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import oracle  # noqa: E402
import regdata  # noqa: E402

# registry tables at this share of sf1 (sf1 = 6M lineitem rows)
REGISTRY_SCALE = 0.01
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840

JAVA_OPENS = [
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


def driver_heap():
    """Driver heap from MemTotal: half of it in GiB, clamped to [2, 8]."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(8, max(2, g))}g"


def source_stamp(root):
    """Hash of every input of the build: a change rebuilds."""
    h = hashlib.sha1()
    paths = [os.path.join(root, p) for p in ("build.sbt", "project", "src/main")]
    paths.append(os.path.join(HERE, "src"))
    for base in paths:
        if os.path.isfile(base):
            files = [base]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs
                           if "/target" not in d and "/project/project" not in d)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root, out_dir):
    """Compile the repository with its own sbt build, then the benchmark's
    sources against it. Returns the runtime classpath."""
    stamp = source_stamp(root)
    cp_file = os.path.join(out_dir, "classpath.txt")
    stamp_file = os.path.join(out_dir, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip(), stamp
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt not found on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories")
                   + " -Dsbt.offline=true -Xmx2g")
    proc = subprocess.run(
        [sbt, "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=root, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True,
        timeout=BUILD_LIMIT_S)
    lines = [l for l in proc.stdout.splitlines()
             if not l.startswith("[") and ".jar" in l and os.pathsep in l]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        fail("sbt build failed")
    repo_cp = lines[-1].strip()
    scala = [p for p in repo_cp.split(os.pathsep)
             if os.path.basename(p).startswith(("scala-compiler", "scala-library", "scala-reflect"))]
    classes = os.path.join(out_dir, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    sources = sorted(os.path.join(d, f) for d, _, fs in os.walk(os.path.join(HERE, "src"))
                     for f in fs if f.endswith(".scala"))
    proc = subprocess.run(
        ["java", "-Xss32m", "-cp", os.pathsep.join(scala), "scala.tools.nsc.Main",
         "-nowarn", "-classpath", repo_cp, "-d", classes] + sources,
        stdin=subprocess.DEVNULL, capture_output=True, text=True, timeout=BUILD_LIMIT_S)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        fail("benchmark sources failed to compile")
    cp = classes + os.pathsep + repo_cp
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp, stamp


def commit_of(root, stamp):
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                             text=True, timeout=10, stdin=subprocess.DEVNULL)
        if out.returncode == 0 and os.path.isdir(os.path.join(root, ".git")):
            return out.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    return "tree:" + stamp[:16]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["flow", "registry"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--out")
    args = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala"))):
        fail("run from the root of a breadspark checkout (no build.sbt / src/main/scala here)")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    out_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(out_dir, exist_ok=True)
    cp, stamp = build(root, out_dir)

    started = time.time()
    cores = len(os.sched_getaffinity(0))
    heap = driver_heap()
    work = os.path.join(out_dir, "runs", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d))
    try:
        reg_dir = os.path.join(work, "regdata")
        if args.workload == "registry" or args.trace:
            regdata.generate(args.seed, REGISTRY_SCALE, reg_dir)
        cmd = (["java", f"-Xmx{heap}", "-XX:+UseParallelGC", "-Xss32m",
                "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                f"-Djava.io.tmpdir={work}/tmp",
                f"-Dspark.local.dir={work}/spark-local",
                f"-Dspark.sql.warehouse.dir={work}/warehouse",
                "-Dlog4j2.level=warn"]
               + [a for p in JAVA_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-cp", cp, "perfbench.Main",
                  "--workload", args.workload, "--seed", str(args.seed),
                  "--seconds", str(args.seconds), "--trace", str(args.trace),
                  "--work", work, "--regdata", reg_dir, "--cores", str(cores)])
        try:
            proc = subprocess.run(cmd, cwd=work, stdin=subprocess.DEVNULL,
                                  capture_output=True, text=True,
                                  timeout=max(30, RUN_LIMIT_S - (time.time() - started)))
        except subprocess.TimeoutExpired:
            fail("workload timed out")
        recs = [l for l in proc.stdout.splitlines() if l.startswith('{"workload"')]
        if proc.returncode != 0 or not recs:
            log = os.path.join(out_dir, "last_failure.log")
            with open(log, "w") as f:
                f.write(proc.stderr)
            sys.stderr.write(proc.stderr[-3000:])
            fail(f"workload JVM exited with {proc.returncode}; its stderr is in {log}")
        rec = json.loads(recs[-1])
        results = os.path.join(out_dir, "results")
        os.makedirs(results, exist_ok=True)
        tag = f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time() * 1000)}"
        with open(os.path.join(results, tag + ".log"), "w") as f:
            f.write("\n".join(l for l in proc.stderr.splitlines() if l.startswith("[perfbench")))
        ok, bad, notes = oracle.check(root, reg_dir, os.path.join(work, "registry_out"))
        spans = os.path.join(work, "spans.jsonl")
        if os.path.exists(spans):
            shutil.copy(spans, os.path.join(results, tag + ".spans.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    rec["env"].update({"commit": commit_of(root, stamp), "driver_heap": heap,
                       "run_seconds": args.seconds, "trace": args.trace,
                       "registry_scale": REGISTRY_SCALE})
    rec["attempted"] += ok + bad
    rec["failed"] += bad
    rec["failures"] += notes
    rec["wall_s"] = time.time() - started
    with open(os.path.join(results, tag + ".json"), "w") as f:
        json.dump(rec, f, indent=1)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(rec, f, indent=1)
    for n in rec["failures"]:
        print(f"perfbench: check failed: {n}", file=sys.stderr)

    wanted = spec["per_layer" if args.trace else "end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in rec["metrics"]]
    if missing:
        fail(f"run did not produce metrics {missing}")
    print(json.dumps({
        "correct": rec["failed"] == 0,
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": {m["name"]: rec["metrics"][m["name"]] for m in wanted}}))


if __name__ == "__main__":
    main()
