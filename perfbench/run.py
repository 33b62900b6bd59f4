#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload live|research --seed N \
        --seconds S --trace 0|1

The first run in a checkout compiles the engine and the benchmark driver
with sbt (offline) and caches the classpath under perfbench/.build; later
runs reuse it while the sources are unchanged. Each run starts one JVM on
local[nproc], works in perfbench/.work/<run> (deleted afterwards) and
keeps its record in perfbench/results/. The last line of standard output
is the result: {"correct", "attempted", "failed", "metrics"}.
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
BUILD = os.path.join(HERE, ".build")
WORKLOADS = ("live", "research")
JVM_TIMEOUT_S = 170
HEAP = "2g"

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
    """Hash of every source and build file the classpath depends on."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt once per source state; return the runtime classpath."""
    for need in (os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main")):
        if not os.path.exists(need):
            fail(f"no engine sources next to the benchmark ({os.path.relpath(need, ROOT)} missing)")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.forcestart=false",
            "-Dsbt.server.autostart=false", f"-Djava.io.tmpdir={tmp}", "-Xmx2g"]
    repos = os.path.join(os.path.expanduser("~"), ".sbt", "repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log_path = os.path.join(BUILD, "sbt.log")
    t0 = time.time()
    with open(log_path, "w") as log:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log, text=True,
            stdin=subprocess.DEVNULL, timeout=850)
    with open(log_path, "a") as log:
        log.write(r.stdout)
    lines = [l for l in r.stdout.splitlines() if l and not l.startswith("[")]
    if r.returncode != 0 or not lines:
        fail(f"build failed (see {os.path.relpath(log_path, ROOT)})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp


def host_counters():
    """CPU-steal jiffies (/proc/stat) and CPU pressure stall µs
    (/proc/pressure/cpu, `some total`), read from outside the JVM."""
    steal, psi = None, None
    try:
        with open("/proc/stat") as f:
            steal = int(f.readline().split()[8])
    except (OSError, IndexError, ValueError):
        pass
    try:
        with open("/proc/pressure/cpu") as f:
            for line in f:
                if line.startswith("some"):
                    psi = int(line.split("total=")[1])
    except (OSError, IndexError, ValueError):
        pass
    return steal, psi


def delta(a, b):
    return None if a is None or b is None else b - a


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, choices=("0", "1"))
    a = p.parse_args()
    if a.seconds <= 0:
        fail("--seconds must be positive")

    cp = build()
    run_id = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    work = os.path.join(HERE, ".work", run_id)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for m in ADD_OPENS for x in ("--add-opens", f"{m}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", a.workload,
              "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", a.trace, "--work", work])
    steal0, psi0 = host_counters()
    t0 = time.time()
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE,
                            stderr=subprocess.PIPE, text=True,
                            stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        out, err = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        _, err = proc.communicate()
        sys.stderr.write("\n".join(l for l in err.splitlines() if "[perfbench" in l) + "\n")
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {JVM_TIMEOUT_S} s")
    wall = time.time() - t0
    steal1, psi1 = host_counters()
    spans_path = os.path.join(work, "spans.jsonl")
    results = os.path.join(HERE, "results")
    os.makedirs(results, exist_ok=True)
    stem = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    if os.path.exists(spans_path):
        shutil.move(spans_path, os.path.join(results, f"{stem}.spans.jsonl"))
    shutil.rmtree(work, ignore_errors=True)

    lines = out.splitlines()
    detail = next((json.loads(l[len("DETAIL "):]) for l in lines if l.startswith("DETAIL ")), None)
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    with open(os.path.join(results, f"{stem}.log"), "w") as f:
        f.write(err)
    if proc.returncode != 0 or result is None or detail is None:
        sys.stderr.write(err[-4000:])
        fail(f"JVM exited with {proc.returncode} and no result")

    detail["host"] = {"steal_jiffies": delta(steal0, steal1),
                      "psi_cpu_some_us": delta(psi0, psi1), "run_wall_s": wall}
    with open(os.path.join(results, f"{stem}.json"), "w") as f:
        json.dump({"detail": detail, "result": result}, f, indent=1)

    print(f"workload {a.workload}  seed {a.seed}  inputs {json.dumps(detail['inputs'])}")
    print(f"host: steal {detail['host']['steal_jiffies']} jiffies, cpu pressure "
          f"{detail['host']['psi_cpu_some_us']} us, calibration "
          f"{', '.join(f'{c:.3f}' for c in detail['calibration_s'])} s")
    for n, m in detail["named"].items():
        print(f"  {n:<28} {m['value']:>14.4f} {m['unit']}")
    print(f"  {'ops_attempted':<28} {result['attempted']:>14}")
    print(f"  {'ops_failed':<28} {result['failed']:>14}")
    for c in detail["checks"]:
        print(f"  check: {c}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
