#!/usr/bin/env python3
"""graft benchmark launcher.

Run from the repository root:

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 15 --trace 0

Builds the benchmark (an sbt build in perfbench/ that depends on the
graft build at the root) when its sources changed, then runs one
workload in a fresh JVM and relays its output. The last line of
stdout is the JSON result. Without --workload every workload runs in
turn and the exit code is non-zero if any of them failed a check.

Everything the run writes stays under .bench_build/ in the checkout.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("ingest", "sweep")
RUN_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these (the same list as the
# root build's forked run/test JVMs).
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


def source_digest():
    """Hash of everything the build compiles, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile once per source digest; returns the runtime classpath."""
    os.makedirs(BUILD, exist_ok=True)
    stamp = os.path.join(BUILD, "classpath.json")
    digest = source_digest()
    if os.path.exists(stamp):
        with open(stamp) as fh:
            cached = json.load(fh)
        if cached.get("digest") == digest:
            return cached["classpath"]
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=sbt_env(), stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=840)
    with open(log) as fh:
        lines = fh.read().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    classpath = lines[-1].strip()
    with open(stamp, "w") as fh:
        json.dump({"digest": digest, "classpath": classpath}, fh)
    return classpath


def run_workload(classpath, args):
    """One workload in a fresh JVM; returns (exit code, last stdout line)."""
    work = os.path.join(BUILD, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = [
        os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java",
        *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
        "-Xmx3g", "-XX:+UseParallelGC",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-cp", classpath, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--bench-dir", HERE, "--work", work,
    ]
    if args.pin:
        cmd += ["--pin", "1"]
    log_path = os.path.join(BUILD, f"{args.workload}.stderr.log")
    last = ""
    with open(log_path, "w") as err:
        # A session of its own, so a timeout stops the JVM and anything it
        # started.
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=err,
                                stdin=subprocess.DEVNULL, text=True, start_new_session=True)
        fired = threading.Event()

        def stop():
            fired.set()
            os.killpg(proc.pid, signal.SIGKILL)

        timer = threading.Timer(RUN_TIMEOUT_S, stop)
        timer.start()
        for line in proc.stdout:
            line = line.rstrip("\n")
            if line.startswith("{"):
                last = line
            else:
                print(line, flush=True)
        code = proc.wait()
        timer.cancel()
        if fired.is_set():
            print(f"perfbench: {args.workload} timed out after {RUN_TIMEOUT_S} s", file=sys.stderr)
            code, last = 124, ""
    if code != 0:
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
    # Span files of a traced run and a pin's fingerprints and oracle dump
    # outlive the work directory.
    for name in os.listdir(work):
        if name.startswith("trace_") or name in ("fingerprints.tsv", "oracle"):
            dst = os.path.join(BUILD, name)
            shutil.rmtree(dst, ignore_errors=True)
            (shutil.copytree if os.path.isdir(os.path.join(work, name)) else shutil.copy)(
                os.path.join(work, name), dst)
    shutil.rmtree(work, ignore_errors=True)
    return code, last


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin", action="store_true",
                    help="record result fingerprints instead of checking them")
    args = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("run from a graft checkout: build.sbt and src/main/scala/graft are missing")
    classpath = build()
    names = [args.workload] if args.workload else list(WORKLOADS)
    worst = 0
    for name in names:
        args.workload = name
        code, last = run_workload(classpath, args)
        worst = worst or code
        if last:
            print(last if len(names) == 1 else f"{name}: {last}", flush=True)
    sys.exit(worst)

if __name__ == "__main__":
    main()
