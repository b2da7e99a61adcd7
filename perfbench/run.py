#!/usr/bin/env python3
"""Benchmark of graft's RAG path: builds the engine from this checkout,
runs one workload against it and prints one JSON result line.

    python3 perfbench/run.py --workload rag_serve --seed 1 --seconds 15 --trace 0

Workloads: rag_serve, knn_batch, ingest_mixed (see BENCHMARK.json).
--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
Everything the run writes stays under .bench_build/ in the checkout; the
run's own store, temp, artifact and Spark directories are deleted at exit.
A report with every operation, span and Spark count is kept in
.bench_build/reports/.
"""
import argparse
import fcntl
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
WORKLOADS = ("rag_serve", "knn_batch", "ingest_mixed")
# the program sources the benchmark drives; without them there is nothing to build
REQUIRED = ("build.sbt", "project/build.properties",
            "src/main/scala/graft/Engine.scala", "src/main/scala/graft/Server.scala")
# Spark on JDK 17 outside spark-submit (the same list as build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
RUN_LIMIT_S = 170  # a run must end within 180 s of its start, build excluded


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def run_group(cmd, timeout, **kw):
    """Runs `cmd` in its own process group; on timeout or interruption the
    whole group is killed and reaped, so nothing outlives the run."""
    proc = subprocess.Popen(cmd, start_new_session=True, stdin=subprocess.DEVNULL, **kw)
    try:
        out, _ = proc.communicate(timeout=max(1.0, timeout))
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    return proc.returncode, out


def source_digest():
    """SHA-256 over everything the build reads from the checkout."""
    files = []
    for top in ("build.sbt", "project", "src/main", "perfbench"):
        p = os.path.join(ROOT, top)
        if os.path.isfile(p):
            files.append(p)
        for d, subdirs, names in os.walk(p):
            # build outputs and sbt's meta-build are not sources
            subdirs[:] = [s for s in subdirs if s != "target"
                          and not (s == "project" and os.path.basename(d) == "project")]
            files += [os.path.join(d, n) for n in names
                      if n.endswith((".scala", ".sbt", ".properties", ".java"))]
    h = hashlib.sha256()
    for f in sorted(set(files)):
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(digest):
    """Compiles the program and the harness with sbt, once per source state;
    concurrent runs in one checkout wait for a single build."""
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        return build_locked(digest)


def build_locked(digest):
    stamp = os.path.join(BUILD, "build.stamp")
    cp = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp) and os.path.exists(stamp) and open(stamp).read() == digest:
        return open(cp).read().strip()
    for f in (stamp, cp):
        if os.path.exists(f):
            os.remove(f)
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.join(BUILD, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    log("perfbench: building with sbt (first run in this checkout)")
    t0 = time.time()
    rc, _ = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"], 840,
                      cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr)
    if rc != 0 or not os.path.exists(cp):
        raise SystemExit("perfbench: build failed (sbt exit %d)" % rc)
    log("perfbench: built in %.0f s" % (time.time() - t0))
    with open(stamp, "w") as fh:
        fh.write(digest)
    return open(cp).read().strip()


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown (not a git checkout)"
    r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True)
    return r.stdout.strip() or "unknown"


def run_jvm(args, classpath, work, deadline):
    out = os.path.join(work, "result.json")
    for d in ("tmp", "artifacts"):
        os.makedirs(os.path.join(work, d))
    cmd = (["java"] + ["--add-opens=%s=ALL-UNNAMED" % p for p in ADD_OPENS] +
           ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dgraft.artifacts.dir=" + os.path.join(work, "artifacts"),
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", out, "--scale", args.scale]
           + (["--inject-wrong"] if args.inject_wrong else []))
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "SPARK_CONF_DIR")}
    rc, _ = run_group(cmd, deadline - time.time(), cwd=work, env=env,
                      stdout=sys.stderr, stderr=sys.stderr)
    if rc != 0 or not os.path.exists(out):
        raise SystemExit("perfbench: run failed (exit %d)" % rc)
    with open(out) as fh:
        return json.load(fh)


def gen_digest(args, classpath, work):
    """SHA-256 of the inputs the workload generates from --seed."""
    rc, out = run_group(["java", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + work,
                         "-cp", classpath, "perfbench.Main", "--workload", args.workload,
                         "--seed", str(args.seed), "--work", work, "--scale", args.scale,
                         "--gen-only"], 120, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    if rc != 0:
        raise SystemExit("perfbench: input generation failed (exit %d)" % rc)
    return out.strip().splitlines()[-1]


def fmt(v):
    return "null" if v is None else "%.6g" % v


def summarize(args, rep, wall):
    env = rep["env"]
    print("perfbench %s seed=%d trace=%d seconds=%s nproc=%s jvm=%s spark=%s commit=%s"
          % (args.workload, args.seed, args.trace, args.seconds, env["nproc"], env["jvm"],
             env["spark"], env["git_commit"]))
    print("  wall: %.1f s" % wall)
    print("  sizes: %s" % rep["sizes"])
    print("  phases: %s" % " ".join("%s=%.1fs" % kv for kv in rep["phase_s"].items()))
    for title, key in (("metrics", "metrics"), ("info (not gated)", "info")):
        print("  %s:" % title)
        for name, m in rep[key].items():
            print("    %-34s %12s %-6s (n=%d)" % (name, fmt(m["value"]), m["unit"], m["n"]))
    print("  checks: %d attempted, %d failed" % (rep["attempted"], rep["failed"]))
    for f in rep["failures"][:10]:
        print("    FAILED: %s" % f)


def overhead(args, rep):
    """Tracing overhead: this traced run's end-to-end figures against the
    untraced run of the same workload and seed, when one was kept."""
    base = os.path.join(BUILD, "reports", "%s-seed%d-trace0.json" % (args.workload, args.seed))
    if not os.path.exists(base):
        print("  tracing overhead: no untraced report for this seed in .bench_build/reports")
        return
    with open(base) as fh:
        untraced = json.load(fh)["metrics"]
    print("  tracing overhead (traced half of the window vs the untraced run):")
    for name, m in rep["traced_end_to_end"].items():
        u = untraced.get(name, {}).get("value")
        t = m["value"]
        if u and t is not None:
            print("    %-34s %12s vs %12s %-6s (%+.1f%%)" % (name, fmt(t), fmt(u), m["unit"],
                                                           100.0 * (t - u) / u))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="tiny: the self-test's sizes")
    ap.add_argument("--inject-wrong", action="store_true",
                    help="corrupt one expected answer (self-test of the checks)")
    ap.add_argument("--gen-only", action="store_true",
                    help="print the SHA-256 of the generated inputs and exit")
    args = ap.parse_args()
    if args.seconds is None and not args.gen_only:
        ap.error("--seconds is required")
    start = time.time()

    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        raise SystemExit("perfbench: program sources missing from %s: %s"
                         % (ROOT, ", ".join(missing)))
    digest = source_digest()
    classpath = build(digest)
    built = time.time()
    deadline = (start if built - start < 5 else built) + RUN_LIMIT_S

    work = os.path.join(BUILD, "runs", "%s-seed%d-trace%d-%d"
                        % (args.workload, args.seed, args.trace, os.getpid()))
    os.makedirs(work)

    def on_signal(signum, _frame):
        raise SystemExit("perfbench: stopped by signal %d" % signum)
    signal.signal(signal.SIGTERM, on_signal)
    try:
        if args.gen_only:
            print(gen_digest(args, classpath, work))
            return
        rep = run_jvm(args, classpath, work, deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    rep["env"].update(git_commit=git_commit(), source_sha256=digest,
                      seed=args.seed, seconds=args.seconds, trace=args.trace)
    reports = os.path.join(BUILD, "reports")
    os.makedirs(reports, exist_ok=True)
    if args.scale == "full" and not args.inject_wrong:
        with open(os.path.join(reports, "%s-seed%d-trace%d.json"
                               % (args.workload, args.seed, args.trace)), "w") as fh:
            json.dump(rep, fh)
    summarize(args, rep, time.time() - start)
    if args.trace == 1:
        overhead(args, rep)
    print(json.dumps({
        "correct": bool(rep["correct"]),
        "attempted": int(rep["attempted"]),
        "failed": int(rep["failed"]),
        "metrics": {k: {"value": m["value"], "unit": m["unit"]} for k, m in rep["metrics"].items()},
    }), flush=True)


if __name__ == "__main__":
    main()
