#!/usr/bin/env python3
"""Run one benchmark workload against the graft tree this file sits in.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds graft and the harness
from source with sbt (``perfbench/build.sbt``); later runs reuse the build
while the sources are unchanged. The inputs are generated from ``--seed``
(see gen.py), the harness JVM runs the workload, and the last line of
standard output is the result:

    {"correct": true, "attempted": 41, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones. The full run record (conf set, seed, nproc, scale, detail figures,
failed ops, the per-module time table of a traced run) is written to
``.bench_build/results/`` and echoed to standard error. The exit code is 0
when every correctness check passed, 1 when one failed, and 2 when the run
could not complete.
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
sys.path.insert(0, HERE)
import gen  # noqa: E402

# Input scale of each workload's seeded tables (None: fixed corpus only).
WORKLOAD_SF = {"store_serve": 0.001, "operator_sweep": None}
# The fixed corpus of operator_sweep: the goldens in goldens.json were
# taken over it.
FIXED_SF, FIXED_SEED = 0.01, 42
RUN_LIMIT_S = 170
JVM_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        sys.exit("perfbench: set SPARK_HOME to a Spark 4 distribution")
    return home


def source_digest():
    """Content hash of everything the build compiles."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def ensure_built(env):
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    stamp = os.path.join(build_dir(), "build.stamp")
    digest = source_digest()
    if os.path.isdir(classes) and os.path.exists(stamp) and open(stamp).read() == digest:
        return classes
    log("building graft and the harness with sbt")
    t0 = time.time()
    proc = subprocess.run(["sbt", "-batch", "-Dsbt.server.autostart=false", "compile"],
                          cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                          timeout=840)
    if proc.returncode != 0:
        sys.exit(f"perfbench: build failed (sbt exit {proc.returncode})")
    os.makedirs(build_dir(), exist_ok=True)
    with open(stamp, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t0:.0f} s")
    return classes


def fixed_corpus():
    """The fixed corpus, generated once per generator version."""
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        tag = hashlib.sha256(f.read()).hexdigest()[:12]
    out = os.path.join(build_dir(), "data", f"fixed-sf{FIXED_SF}-s{FIXED_SEED}-{tag}")
    if not os.path.exists(os.path.join(out, "_COMPLETE")):
        tmp = out + f".tmp{os.getpid()}"
        gen.write(tmp, FIXED_SF, FIXED_SEED)
        open(os.path.join(tmp, "_COMPLETE"), "w").close()
        shutil.rmtree(out, ignore_errors=True)
        os.replace(tmp, out)
    return out


def run_jvm(cmd, cwd, env, limit_s):
    """Run the harness in its own process group; kill the group on timeout
    or when this process is told to stop, and wait until it has ended."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=sys.stderr,
                            stderr=sys.stderr, start_new_session=True)

    def stop(*_):
        for sig in (signal.SIGTERM, signal.SIGKILL):
            try:
                os.killpg(proc.pid, sig)
            except ProcessLookupError:
                return
            try:
                proc.wait(timeout=5)
                return
            except subprocess.TimeoutExpired:
                pass

    signal.signal(signal.SIGTERM, lambda *a: (stop(), sys.exit(2)))
    try:
        return proc.wait(timeout=limit_s)
    except subprocess.TimeoutExpired:
        log(f"harness exceeded {limit_s:.0f} s; stopping it")
        stop()
        return None
    finally:
        if proc.poll() is None:
            stop()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOAD_SF))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-goldens", action="store_true",
                    help="rewrite goldens.json from this tree instead of running")
    args = ap.parse_args()
    t_start = time.time()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit(f"perfbench: no graft sources under {ROOT}; run from a graft checkout")

    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    nproc = len(os.sched_getaffinity(0))
    env["SPARK_GRAFT_CPUS"] = str(nproc)
    classes = ensure_built(env)
    t_built = time.time()

    run_dir = os.path.join(build_dir(), "runs",
                           f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    work = os.path.join(run_dir, "work")
    os.makedirs(work)
    fixed = fixed_corpus()
    sf = WORKLOAD_SF[args.workload]
    data = fixed
    if sf:
        data = gen.write(os.path.join(run_dir, "data"), sf, args.seed,
                         only=["events", "documents", "customer"])
        gen.split_days(data)
    results = os.path.join(build_dir(), "results")
    os.makedirs(results, exist_ok=True)
    out = os.path.join(results, f"{args.workload}-s{args.seed}-t{args.trace}.json")
    if os.path.exists(out):
        os.remove(out)

    cp = os.pathsep.join([classes, os.path.join(ROOT, "src", "main", "resources"),
                          os.path.join(env["SPARK_HOME"], "jars", "*")])
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    env["SPARK_LOCAL_DIRS"] = tmp
    # -XX:-UsePerfData: no hsperfdata file in the system temp dir
    jvm = ["java", "-Xmx4g", "-XX:ReservedCodeCacheSize=1g", "-XX:-UsePerfData",
           "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dbench.goldens={os.path.join(HERE, 'goldens.json')}"]
    for p in JVM_OPENS:
        jvm += ["--add-opens", f"{p}=ALL-UNNAMED"]
    jvm += ["-cp", cp, "graftbench.Main"]
    if args.record_goldens:
        jvm += ["--record-goldens", os.path.join(HERE, "goldens.json"), "--fixed", fixed]
    else:
        jvm += ["--workload", args.workload, "--seed", str(args.seed),
                "--seconds", str(args.seconds), "--trace", str(args.trace),
                "--data", data, "--fixed", fixed, "--work", work, "--out", out,
                "--sf", str(sf or FIXED_SF)]
    limit = None if args.record_goldens else RUN_LIMIT_S - (time.time() - t_built)
    try:
        code = run_jvm(jvm, run_dir, env, limit)
        if args.trace == 1 and os.path.exists(os.path.join(work, "spans.json")):
            traces = os.path.join(build_dir(), "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.move(os.path.join(work, "spans.json"), os.path.join(
                traces, f"{args.workload}-s{args.seed}.json"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if args.record_goldens:
        sys.exit(0 if code == 0 else 2)
    if code not in (0, 1) or not os.path.exists(out):
        sys.exit(f"perfbench: harness exit {code} without a result")
    with open(out) as f:
        rec = json.load(f)
    rec["wall_s"] = time.time() - t_start
    with open(out, "w") as f:
        json.dump(rec, f, indent=1)
    print(json.dumps(rec), file=sys.stderr)
    for msg in rec.get("failures", []):
        log(f"failed op: {msg}")
    for msg in rec.get("check_failures", []):
        log(f"check failed: {msg}")
    print(json.dumps({k: rec[k] for k in ("correct", "attempted", "failed", "metrics")}))
    sys.exit(0 if code == 0 and rec["correct"] else 1)


if __name__ == "__main__":
    main()
