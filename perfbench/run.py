#!/usr/bin/env python3
"""Benchmark entry point for era-parser's Spark engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload <bulk_etl|wh_ingest|wh_read|all> \
        --seed <n> --seconds <s> --trace <0|1>

`--workload all` runs every workload of BENCHMARK.json in turn and exits
non-zero if any of them failed.

The first run builds the program and the harness from source with sbt (into
`target/` directories of the checkout) and caches the runtime classpath under
`.bench_build/perfbench/`; later runs start the JVM directly. The harness
prints a report and, as the last stdout line, one JSON object with `correct`,
`attempted`, `failed` and `metrics`. This script reports the JVM's peak
resident set size, measured from outside the JVM, on the line before it.
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

BENCH = "perfbench"
WORK = os.path.join(".bench_build", "perfbench")
BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 170
HEAP = "3g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


_children = []
_stopped = []


def _stop(signum, _frame):
    """Kill whatever runs now; callers notice `_stopped` and exit without a result."""
    _stopped.append(signum)
    for c in _children:
        if c.poll() is None:
            # a nested run.py gets SIGTERM so that it stops its own JVM
            c.terminate() if c.args[:2] == [sys.executable, __file__] else c.kill()


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads, in a stable order."""
    roots = ["src/main", os.path.join(BENCH, "src/main")]
    singles = ["build.sbt", "project/build.properties",
               os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project/build.properties")]
    out = [p for p in singles if os.path.isfile(p)]
    for r in roots:
        for d, dirs, files in os.walk(r):
            dirs.sort()
            out.extend(os.path.join(d, f) for f in sorted(files))
    return out


def stamp():
    h = hashlib.sha256()
    for p in source_files():
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile program + harness; return the java argument file."""
    argfile = os.path.join(WORK, "classpath.args")
    stamp_file = os.path.join(WORK, "build.stamp")
    want = stamp()
    if os.path.isfile(argfile) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == want:
                return argfile
    log("building program and harness with sbt")
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Dsbt.server.forcestart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    proc = subprocess.Popen(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, text=True)
    _children.append(proc)
    signal.alarm(BUILD_TIMEOUT_S)
    out = proc.communicate()[0]
    signal.alarm(0)
    lines = out.strip().splitlines()
    if _stopped or proc.returncode != 0 or not lines or "[error]" in out:
        sys.stderr.write(out[-6000:])
        raise SystemExit(f"build failed (exit {proc.returncode})")
    classpath = lines[-1].strip()
    log(f"built in {time.time() - t0:.1f} s")
    os.makedirs(WORK, exist_ok=True)
    with open(argfile, "w") as f:
        f.write("-cp\n" + classpath + "\n")
    with open(stamp_file, "w") as f:
        f.write(want)
    return argfile


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    for signum in (signal.SIGTERM, signal.SIGINT, signal.SIGALRM):
        signal.signal(signum, _stop)

    if a.workload == "all":
        with open("BENCHMARK.json") as f:
            names = [w["name"] for w in json.load(f)["workloads"]]
        codes = []
        for n in names:
            if _stopped:
                break
            p = subprocess.Popen([sys.executable, __file__, "--workload", n, "--seed", str(a.seed),
                                  "--seconds", str(a.seconds), "--trace", str(a.trace)])
            _children.append(p)
            codes.append(p.wait())
        sys.exit(1 if _stopped else max(codes))

    for need in ("build.sbt", "src/main/scala/graft", os.path.join(BENCH, "build.sbt")):
        if not os.path.exists(need):
            raise SystemExit(f"not a checkout of the program: {need} is missing")
    argfile = build()

    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)  # native libraries the last JVM unpacked
    os.makedirs(tmp)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            f"@{argfile}", "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", WORK, "--benchmark", "BENCHMARK.json"])
    child = subprocess.Popen(cmd, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True)
    _children.append(child)
    signal.alarm(RUN_TIMEOUT_S)

    last = None
    for line in child.stdout:
        if last is not None:
            sys.stdout.write(last)
        last = line
    _, status, usage = os.wait4(child.pid, 0)
    signal.alarm(0)
    code = os.waitstatus_to_exitcode(status)
    child.returncode = code  # reaped above; keeps Popen from waiting again
    sys.stdout.flush()
    if _stopped:
        raise SystemExit(f"stopped by signal {_stopped[0]}; harness killed")
    try:
        result = json.loads(last or "")
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (ValueError, AssertionError):
        if last:
            sys.stdout.write(last)
        raise SystemExit(f"harness exited {code} without a result")
    print(f"# {'peak_rss_mb':<18} {usage.ru_maxrss / 1024.0:14.6f} MB        (n=1)")
    print(json.dumps(result), flush=True)
    sys.exit(code if code != 0 else (0 if result["correct"] else 1))


if __name__ == "__main__":
    main()
