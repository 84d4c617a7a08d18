#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result line.

    python3 perfbench/run.py --workload models_sf01 --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run builds the program and the
benchmark from source with sbt (perfbench/build.sbt links the root build);
later runs reuse the build while no source file changed. Each run then:

  1. starts a probe JVM that measures set-up (JVM start to a ready Spark
     session) and, for an amplified workload, replicates the shipped sf0.1
     documents (perfbench/data/sf0.1) as the seed says;
  2. starts one JVM on local[<cores>] that runs the workload's gates pass
     after pass (a cold pass, warm passes, then as many measured passes as
     --seconds sets), checks every output and prints the result JSON as its
     last line.

Every scratch location (amplified inputs, spark.local.dir, the warehouse,
java.io.tmpdir) lives in one per-run directory under .perfbench/, removed at
the end. Records (per-gate lines, spans, summaries) go to
.perfbench/records/<workload>/.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
BUILD = os.path.join(STATE, "build")
# The sf0.1 tables exactly as shipped.
SF01 = os.path.join(HERE, "data", "sf0.1")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# Workload -> how many times its documents are replicated.
WORKLOADS = {"models_sf01": 1, "corpus_amplified": 4}
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp(h=None):
    """Hash of every build input: both build definitions and all sources."""
    h = h or hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
             os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project"), os.path.join(HERE, "src", "main")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(r)
            if "target" not in d.split(os.sep) and "project" + os.sep + "project" not in d
            for f in fs)
        for p in paths:
            if p.endswith((".scala", ".sbt", ".properties", ".java")):
                h.update(p.encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def input_stamp():
    """Hash of the sources and the shipped tables: outputs recorded under
    another stamp were made by other code or from other inputs."""
    h = hashlib.sha256()
    for name in TABLES:
        with open(os.path.join(SF01, f"{name}.parquet"), "rb") as f:
            h.update(f.read())
    return source_stamp(h)[:16]


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group when it ends
    or on timeout, so nothing it started outlives it."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise
    finally:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
    return p.returncode, out, err


def build(deadline):
    """Compile the program and the benchmark; return the runtime classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as f:
                    return f.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    # Offline resolution, as the tier-1 test command sets it up.
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config="
                   + os.path.expanduser("~/.sbt/repositories")
                   + " -Dsbt.offline=true -Xmx2g")
    env["SBT_OPTS"] += " -Dsbt.server.autostart=false"
    log("building program and benchmark with sbt")
    t0 = time.time()
    code, out, err = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        timeout=max(60, deadline - time.time()), cwd=HERE, env=env,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or ":" not in lines[-1] or " " in lines[-1].strip():
        sys.stderr.write(out[-4000:])
        raise SystemExit(f"build failed (sbt exit {code})")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return lines[-1].strip()


def heap():
    """Driver heap as the tier-1 test command sizes it: MemTotal / 2,
    clamped to 2..8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def jvm(cp, run_dir, args, timeout):
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_") and k not in ("SPARK_LOCAL_DIRS", "SPARK_CONF_DIR")}
    # The program's own scratch directories (per-gate databases) follow
    # spark.local.dir's lead into the run directory.
    env["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(run_dir, "local")
    # A fixed 2 GiB initial heap. Growing the heap from the default start,
    # G1 ran 6 to 81 concurrent marking cycles in a corpus_amplified run,
    # differently in every run, and the runs' CPU time moved by up to 40 %;
    # from 2 GiB it ran 4 or 5.
    cmd = (["java", f"-Xmx{heap()}", "-Xms2g", f"-Djava.io.tmpdir={run_dir}/tmp",
            f"-Dderby.system.home={run_dir}", "-Dspark.ui.enabled=false",
            "-XX:-UseDynamicNumberOfCompilerThreads"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graft.perfbench.Main"] + args)
    return run_group(cmd, timeout=timeout, cwd=run_dir, env=env,
                     stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # On SIGTERM, unwind through the finally blocks: they stop the JVM's
    # process group and remove the run directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    start = time.time()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        raise SystemExit("no graft sources next to perfbench/ (run from the repository root)")
    missing = [t for t in TABLES if not os.path.isfile(os.path.join(SF01, f"{t}.parquet"))]
    if missing:
        raise SystemExit(f"shipped sf0.1 tables missing from {SF01}: {', '.join(missing)}")
    cp = build(start + 850)
    # A run that had to build may take 900 s in all; any other run 180 s.
    deadline = start + (890 if time.time() - start > 5 else 175)
    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(STATE, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    for sub in ("local", "warehouse", "tmp"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    k = WORKLOADS[a.workload]
    # ×1 reads the shipped tables in place; ×k replicates the documents into
    # the run directory beside copies of the others.
    inputs = os.path.join(run_dir, "inputs") if k > 1 else SF01
    common = ["--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--cores", str(cores), "--run-dir", run_dir,
              "--record-dir", os.path.join(STATE, "records"),
              "--inputs", inputs, "--x1", SF01, "--amplify", str(k),
              "--stamp", input_stamp()]
    try:
        if k > 1:
            os.makedirs(inputs)
            for t in TABLES:
                if t != "documents":
                    shutil.copyfile(os.path.join(SF01, f"{t}.parquet"),
                                    os.path.join(inputs, f"{t}.parquet"))
        t0 = time.time()
        code, out, err = jvm(cp, run_dir, common + ["--probe"], 120)
        log(f"probe JVM took {time.time() - t0:.1f} s")
        probe = [l.split()[1] for l in out.splitlines() if l.startswith("setup_s ")]
        if code != 0 or not probe or "inputs ready" not in out.splitlines():
            sys.stderr.write(err[-3000:])
            raise SystemExit(f"set-up probe failed (exit {code})")
        t0 = time.time()
        code, out, err = jvm(cp, run_dir, common + ["--setup-samples", probe[-1]],
                             max(10, deadline - time.time()))
        log(f"benchmark JVM took {time.time() - t0:.1f} s")
        lines = [l for l in out.splitlines() if l.strip()]
        if code != 0 or not lines or not lines[-1].startswith("{"):
            sys.stderr.write(err[-6000:])
            raise SystemExit(f"benchmark JVM failed (exit {code})")
        for l in err.splitlines():
            if l.startswith("[perfbench]"):
                print(l, file=sys.stderr)
    except subprocess.TimeoutExpired:
        raise SystemExit("benchmark run timed out")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for l in lines[:-1]:
        print(l)
    print(lines[-1], flush=True)


if __name__ == "__main__":
    main()
