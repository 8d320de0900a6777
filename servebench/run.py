#!/usr/bin/env python3
"""Serving benchmark for the Graft facade; see README.md beside this file.

Run from the repository root:

    python3 servebench/run.py --workload serve_corpus --seed 1 --seconds 15 --trace 0

On first use (and whenever a source changes) it builds the engine and the
benchmark from source with sbt into servebench/target. Each run gets its own
JVM and its own directory under servebench/.runs, removed afterwards. It
prints the full run record as one JSON line, then, as the last line, the
summary with the metrics BENCHMARK.json lists for the trace mode:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.

    --record FILE   also append the run record to FILE (JSON lines)
    --selftest      run serve_corpus with one expected answer spoiled and
                    exit 0 only if the run reports failed calls
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
BUILD = os.path.join(HERE, "target")
CLASSPATH = os.path.join(BUILD, "servebench.classpath")
RUN_LIMIT_S = 170  # a run must end within 180 s
BUILD_LIMIT_S = 840
JAVA_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"servebench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources(root):
    """Every file the build reads, as sorted paths."""
    out = []
    for base in (os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            out += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    out += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    return sorted(out)


def source_hash(root):
    h = hashlib.sha256()
    for p in sources(root):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def classpath(root, digest):
    """The runtime classpath, building first if the sources changed."""
    if os.path.exists(CLASSPATH):
        with open(CLASSPATH) as f:
            stamp, cp = (f.read().split("\n") + [""])[:2]
        if stamp == digest and cp:
            return cp
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           f"-Djava.io.tmpdir={tmp}", "compile", "export Runtime / fullClasspath"]
    try:
        out = subprocess.run(cmd, cwd=HERE, stdout=subprocess.PIPE, stderr=sys.stderr,
                             text=True, timeout=BUILD_LIMIT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}")
    lines = [ln for ln in out.stdout.splitlines() if "servebench" in ln and "classes" in ln]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:])
        fail("build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(digest + "\n" + lines[-1].strip())
    return lines[-1].strip()


def load1():
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except OSError:
        return None


def git_commit(root):
    """HEAD of the repository at root, if root is one (a bare checkout is not)."""
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() or None if out.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


def run_jvm(cp, args, run_dir, trace, corrupt):
    """One benchmark JVM; returns its run record (or exits on failure)."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    opens = [x for p in JAVA_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd = (["java", *opens, "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false",
            "-cp", cp, "servebench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(trace), "--dir", run_dir]
           + (["--corrupt", "1"] if corrupt else []))
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"run exceeded {RUN_LIMIT_S} s")
    lines = [ln for ln in out.splitlines() if ln.startswith("{")]
    if proc.returncode != 0 or not lines:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"benchmark JVM exited with {proc.returncode}")
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record")
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "src", "main", "scala", "graft", "api",
                                       "Graft.scala")):
        fail("run from the repository root: the engine sources are missing")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload}")
    if args.selftest:
        args.workload, args.trace = "serve_corpus", 0

    digest = source_hash(root)
    cp = classpath(root, digest)
    run_dir = os.path.join(HERE, ".runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    before = load1()
    try:
        rec = run_jvm(cp, args, run_dir, args.trace, args.selftest)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    rec["host"] = {
        "nproc": len(os.sched_getaffinity(0)), "load1_before": before, "load1_after": load1(),
        "git_commit": git_commit(root), "source_hash": digest, "seed": args.seed,
        "time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    print(json.dumps(rec))
    if args.record:
        with open(args.record, "a") as f:
            f.write(json.dumps(rec) + "\n")

    if args.selftest:
        frac = rec["e2e"]["failed_frac"]["value"]
        ok = rec["failed"] > 0 and frac > 0 and not rec["correct"]
        print(f"selftest {'passed' if ok else 'FAILED'}: failed_frac={frac} "
              f"failures={rec['failures'][:2]}")
        sys.exit(0 if ok else 1)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    got = rec["layers"] if args.trace else rec["e2e"]
    missing = [m["name"] for m in wanted if m["name"] not in got]
    if missing:
        fail(f"run reported no {', '.join(missing)}")
    # the program states each metric's direction too; it must agree
    flipped = [m["name"] for m in wanted if got[m["name"]]["better"] != m["better"]]
    if flipped:
        fail(f"BENCHMARK.json and the run disagree on the direction of {', '.join(flipped)}")
    metrics = {m["name"]: {"value": got[m["name"]]["value"], "unit": m["unit"]} for m in wanted}
    print(json.dumps({"correct": rec["correct"], "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
