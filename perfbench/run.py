#!/usr/bin/env python3
"""Benchmark of the graft loader and analytics engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The first run builds the library and
the benchmark with sbt (perfbench/build.sbt); later runs reuse the build
while the sources are unchanged. Each run starts one JVM that sets up a
private PostgreSQL cluster and Spark session, measures the workload for
`--seconds`, checks the outputs and writes a result file; this script prints
the result as the last line of standard output. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("load_upsert", "load_dirty")
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
JVM_TIMEOUT_S = 150


# The one child process running at a time (sbt or the benchmark JVM), so a
# signal can stop it before the script exits.
CHILD = None


def run_child(cmd, timeout=None, **kw):
    """Runs `cmd` to completion as the tracked child; returns its exit code
    and captured standard output."""
    global CHILD
    # Its own process group, so that a stop reaches whatever it started.
    CHILD = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = CHILD.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        fail(f"{cmd[0]} did not finish in {timeout} s")
    return CHILD.returncode, out


def stop_child():
    """Stops the child's whole process group and waits for the child."""
    if CHILD is None:
        return
    for sig, wait in ((signal.SIGTERM, 20), (signal.SIGKILL, None)):
        try:
            os.killpg(CHILD.pid, sig)
        except ProcessLookupError:
            return
        try:
            CHILD.wait(wait)
            return
        except subprocess.TimeoutExpired:
            pass


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def check_environment():
    for f in ("build.sbt", "src/main/scala/graft/Loader.scala",
              "src/test/scala/graft/PostgresLiveSpec.scala"):
        if not os.path.isfile(os.path.join(ROOT, f)):
            fail(f"{f} not found: run from the root of a graft source checkout")
    missing = [t for t in ("java", "sbt", "initdb", "pg_ctl", "psql", "su")
               if shutil.which(t) is None]
    if missing:
        fail(f"missing programs: {', '.join(missing)}")
    if subprocess.run(["id", "postgres"], capture_output=True).returncode != 0:
        fail("no 'postgres' user to run the server as")


def source_digest():
    """Hash of every input of the build, so an unchanged tree skips sbt."""
    h = hashlib.sha256()
    files = ["build.sbt", "project/build.properties",
             "perfbench/build.sbt", "perfbench/project/build.properties"]
    for top in ("src", "perfbench/src"):
        for d, _, fs in os.walk(os.path.join(ROOT, top)):
            files += [os.path.relpath(os.path.join(d, f), ROOT) for f in fs]
    for f in sorted(files):
        p = os.path.join(ROOT, f)
        if os.path.isfile(p):
            h.update(f.encode() + b"\0")
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles with sbt when the sources changed; returns the classpath."""
    os.makedirs(BUILD, exist_ok=True)
    stamp, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath")
    digest = source_digest()
    if os.path.isfile(stamp) and os.path.isfile(cp_file):
        with open(stamp) as s, open(cp_file) as c:
            cp = c.read()
            if s.read() == digest and all(os.path.exists(e) for e in cp.split(":")):
                return cp
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx4g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building (sbt perfbench/compile) ...")
    t0 = time.time()
    rc, out = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true",
                         "perfbench/compile", "export perfbench/Runtime/fullClasspath"],
                        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                        text=True, stdin=subprocess.DEVNULL)
    lines = out.splitlines()
    cps = [l for l in lines if "/classes" in l and ":" in l and not l.startswith("[")]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-60:]) + "\n")
        fail(f"build failed (sbt exit {rc})")
    log(f"built in {time.time() - t0:.0f} s")
    with open(cp_file, "w") as c:
        c.write(cps[-1].strip())
    with open(stamp, "w") as s:
        s.write(digest)
    return cps[-1].strip()


def heap():
    """The heap rule of the library's bench: half the box, 2 to 8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def postgres_can_reach(path):
    """True when every directory above `path` lets other users through."""
    d = os.path.dirname(os.path.abspath(path))
    while True:
        if not os.stat(d).st_mode & 0o001:
            return False
        if d == "/":
            return True
        d = os.path.dirname(d)


def pg_base(run_dir):
    """A private directory for the run's clusters. The server runs as
    `postgres`, so it goes inside the checkout only when that user can reach
    it there and the socket path stays short; otherwise into a private
    temporary directory."""
    base = os.path.join(run_dir, "pg")
    if postgres_can_reach(base) and len(base) < 60:
        os.makedirs(base)
    else:
        base = tempfile.mkdtemp(prefix="perfbench-pg-")
    shutil.chown(base, "postgres", "postgres")
    return base


def stop_clusters(base):
    """Stops any server still running under `base`, then removes it."""
    if not base or not os.path.isdir(base):
        return
    for d, _, fs in os.walk(base):
        if "postmaster.pid" in fs:
            subprocess.run(["su", "postgres", "-s", "/bin/bash", "-c",
                            f"pg_ctl -D {d} stop -m immediate -w"],
                           capture_output=True)
    shutil.rmtree(base, ignore_errors=True)


def declared_metrics(trace):
    """The metric names BENCHMARK.json promises."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    run_dir, base = None, None

    def cleanup():
        stop_child()
        stop_clusters(base)
        if run_dir:
            shutil.rmtree(run_dir, ignore_errors=True)

    def on_signal(signum, _frame):
        cleanup()
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)
    try:
        check_environment()
        classpath = build()
        os.makedirs(os.path.join(ROOT, ".bench_run"), exist_ok=True)
        run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(ROOT, ".bench_run"))
        base = pg_base(run_dir)
        cpus = len(os.sched_getaffinity(0))
        cmd = ["java", *[a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")],
               f"-Xmx{heap()}", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
               "-Dspark.sql.session.timeZone=UTC",
               f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
               f"-Djava.io.tmpdir={run_dir}", "-cp", classpath, "graft.perfbench.PerfBench",
               "--workload", args.workload, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace),
               "--work", os.path.join(run_dir, "work"), "--pg", base,
               "--cpus", str(cpus)]
        # The JVM's own output is diagnostics: keep standard output for the result.
        rc, _ = run_child(cmd, timeout=JVM_TIMEOUT_S, cwd=run_dir, stdout=sys.stderr,
                          stdin=subprocess.DEVNULL)
        result_file = os.path.join(run_dir, "work", "result.json")
        if rc != 0 or not os.path.isfile(result_file):
            fail(f"run failed (exit {rc}); see the output above")
        with open(result_file) as f:
            res = json.load(f)
        problems, failed = res["problems"], res["failed"]
        declared = declared_metrics(args.trace)
        if set(res["metrics"]) != declared:
            fail(f"metrics {sorted(res['metrics'])} differ from BENCHMARK.json's {sorted(declared)}")
        correct = not problems and failed == 0
        print(json.dumps({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                          "labels": res["labels"]}))
        for p in problems:
            print(f"perfbench: CHECK FAILED: {p}", file=sys.stderr)
        print(json.dumps({"correct": correct, "attempted": res["attempted"], "failed": failed,
                          "metrics": res["metrics"]}), flush=True)
        if not correct:
            sys.exit(1)
    finally:
        cleanup()


if __name__ == "__main__":
    main()
