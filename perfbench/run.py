#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

Usage, from the root of a checkout:
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first call builds the program and the harness from source with sbt
(offline) and caches the classpath under perfbench/target/; later calls
reuse it while the sources are unchanged. Every run then starts a fresh JVM
in a fresh, empty working directory under perfbench/target/work/, so no
index, checkpoint or feed file is carried over between runs, and deletes
that directory afterwards. Spark's local dirs follow java.io.tmpdir into
the same directory.

Exit code 0 means a result line was printed; its "correct" field says
whether every output check passed.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(BENCH, "target", "bench")
WORKLOADS = ["stedi_p3", "batch_mix"]
RUN_LIMIT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    """Compile with sbt when the sources changed; return the classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no program sources here (missing {need}); run from a full checkout")
    h = hashlib.sha256()
    for f in source_files():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(OUT, "classpath.txt")
    stamp_file = os.path.join(OUT, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(OUT, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx3g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true",
                        "export Runtime/fullClasspath"],
                       cwd=BENCH, env=env, capture_output=True, text=True,
                       stdin=subprocess.DEVNULL)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "[" in lines[-1][:1]:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed", 4)
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    print(f"perfbench: built in {time.time() - t0:.0f}s", file=sys.stderr)
    return lines[-1]


def heap_mb():
    """Half of RAM, capped at 4 GiB: the harness profile's explicit heap."""
    with open("/proc/meminfo") as fh:
        kb = int(next(l for l in fh if l.startswith("MemTotal:")).split()[1])
    return min(kb // 2048, 4096)


def run_jvm(cp, main_args, name, deadline):
    """Run a harness main in a fresh, empty working directory, which is
    deleted afterwards; return its stdout lines that hold JSON."""
    work = os.path.join(BENCH, "target", "work", f"{name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    logs = os.path.join(BENCH, "target", "logs")
    os.makedirs(logs, exist_ok=True)
    log = os.path.join(logs, f"{name}.log")
    cmd = ["java", f"-Xmx{heap_mb()}m", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dperfbench.traceDir={os.path.join(BENCH, 'target', 'traces')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, *main_args]
    # Spark's local directories follow java.io.tmpdir into the run directory.
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    try:
        with open(log, "w") as err:
            proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, stderr=err,
                                    stdin=subprocess.DEVNULL, text=True, start_new_session=True)
            try:
                out, _ = proc.communicate(timeout=max(1, deadline - time.time()))
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                fail(f"{name} exceeded its time limit; log: {log}", 5)
            except BaseException:
                # Interrupted or terminated: take the JVM down with us.
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                raise
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not lines:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-3000:])
        fail(f"{name} exited with {proc.returncode}; log: {log}", 6)
    return lines


def main():
    signal.signal(signal.SIGTERM, lambda signum, _: sys.exit(128 + signum))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    cp = build()
    name = f"{args.workload}-{args.seed}-trace{args.trace}"
    lines = run_jvm(cp, ["perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
                         "--seconds", str(args.seconds), "--trace", str(args.trace)],
                    name, time.time() + RUN_LIMIT_S)
    for l in lines[:-1]:
        print(l)
    print(json.dumps(json.loads(lines[-1])))


if __name__ == "__main__":
    main()
