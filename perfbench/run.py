#!/usr/bin/env python3
"""graft benchmark: one command for every workload.

    python3 perfbench/run.py --workload batch_catalog --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds graft plus the harness from source
(perfbench/build.sbt, rebuilt whenever a source file changes), writes the
fixture set once per checkout, gives the run its own empty scratch,
warehouse and checkpoint directories, and starts one fresh JVM for the
workload. The JVM prints one line per metric and, last, the result JSON
line, which this script checks and prints as its own last line.
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
sys.path.insert(0, HERE)

import fixtures  # noqa: E402

WORKLOADS = ("batch_catalog", "stream_steady", "stream_burst")
DEADLINE_S = 170  # the whole command, build excluded, must end within 180 s
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def die(code, msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """Hash of every input to the build: graft's sources and the harness."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for dirpath, dirnames, names in os.walk(r):
            dirnames[:] = sorted(d for d in dirnames if d != "target")
            files += [os.path.join(dirpath, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed; return the classpath."""
    target = os.path.join(HERE, "target")
    stamp, cp_file = os.path.join(target, "build.stamp"), os.path.join(target, "classpath.txt")
    digest = source_digest()
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline=true" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    log = os.path.join(HERE, ".runs", "build.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as out:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                             cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, timeout=840)
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        die(3, f"build failed (sbt exit {rc}); full log in {log}")
    with open(stamp, "w") as fh:
        fh.write(digest)
    return open(cp_file).read().strip()


def write_stream_input(data_dir, seed, path):
    """The `events` rows in seed order as CSV without the id column; the
    harness prepends a unique int id per published row."""
    import numpy as np
    import pyarrow.parquet as pq
    t = pq.read_table(os.path.join(data_dir, "events.parquet"),
                      columns=["ts", "user_id", "event_type", "value", "props"]).to_pydict()
    order = np.random.default_rng(seed).permutation(len(t["ts"]))
    with open(path, "w") as fh:
        for i in order:
            fh.write("%s,%d,%s,%r,%s\n" % (t["ts"][i].strftime("%Y-%m-%d %H:%M:%S"), t["user_id"][i],
                                         t["event_type"][i], float(t["value"][i]), t["props"][i]))


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", metavar="DIR",
                    help="write the warm-up pass's fingerprints and results to DIR (see record.py)")
    args = ap.parse_args()

    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "queries", "Registry.scala")):
        die(2, f"graft sources not found under {ROOT}/src/main; run from a full checkout")
    classpath = build()
    data_dir = fixtures.ensure(os.path.join(HERE, ".data"))

    run_dir = os.path.join(HERE, ".runs", f"{args.workload}-seed{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("scratch", "tmp"):
        os.makedirs(os.path.join(run_dir, sub))
    if args.workload.startswith("stream_"):
        write_stream_input(data_dir, args.seed, os.path.join(run_dir, "events.csv"))

    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{HEAP}", f"-Djava.io.tmpdir={run_dir}/tmp"]
    cmd += [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd += ["-cp", classpath, "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--data", data_dir, "--run-dir", run_dir,
            "--hashes", os.path.join(HERE, "hashes.json")]
    if args.record:
        cmd += ["--record", os.path.abspath(args.record)]
    env = dict(os.environ, GRAFT_SCRATCH=os.path.join(run_dir, "scratch"))
    log = os.path.join(HERE, ".runs", f"{args.workload}.stderr.log")
    started = time.time()
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd + ["--launched-us", str(time.time_ns() // 1000)], cwd=run_dir, env=env,
                                stdout=subprocess.PIPE, stderr=err, stdin=subprocess.DEVNULL,
                                text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=DEADLINE_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            die(4, f"{args.workload} did not finish within {DEADLINE_S} s; stderr in {log}")
    lines = out.rstrip("\n").split("\n")
    if proc.returncode != 0 or not lines[-1].startswith("{"):
        sys.stderr.write(out[-4000:])
        die(5, f"{args.workload} exited with {proc.returncode} and no result; stderr in {log}")
    if args.trace:
        trace_dir = os.path.join(HERE, ".traces")
        os.makedirs(trace_dir, exist_ok=True)
        kept = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json")
        shutil.copyfile(os.path.join(run_dir, "trace.json"), kept)
        lines.insert(-1, f"trace file: {os.path.relpath(kept, ROOT)}")
    shutil.rmtree(run_dir, ignore_errors=True)
    lines.insert(-1, f"wall: {time.time() - started:.1f} s")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
