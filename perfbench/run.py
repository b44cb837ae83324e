#!/usr/bin/env python3
"""Run one graft benchmark workload with one seed and print its result.

    python3 perfbench/run.py --workload dbt_incremental --seed 1 --seconds 10 --trace 0

Run from the root of a graft checkout. The first run builds the benchmark
(an sbt build in perfbench/ that compiles against the checkout's sources);
later runs reuse the build while the sources are unchanged. Each run gets a
run-scoped scratch directory under .perfbench/ (warehouse, Spark local dir,
JVM temp dir, generated inputs) that is removed when the run ends, and
leaves one record under .perfbench/records/. The last line of standard
output is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics; with --trace 1 they
are the per-layer metrics of a separate traced pass. See perfbench/README.md.
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

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
import spec  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
HEAP = "2g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

# Spark 4 on JDK 17 needs these outside spark-submit (the list graft's build
# passes to its own forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """The files the build depends on, in a stable order."""
    out = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
                 os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        for d, dirs, files in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            out += [os.path.join(d, f) for f in sorted(files)
                    if f.endswith((".scala", ".java", ".sbt", ".properties"))]
    return out


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def ensure_build(digest):
    """Return the benchmark's runtime classpath, building it when the
    sources changed since the last build."""
    stamp = os.path.join(STATE, "build.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            st = json.load(fh)
        if st.get("digest") == digest and all(
                os.path.exists(p) for p in st["classpath"].split(os.pathsep)):
            return st["classpath"]
    log("building (sbt, offline) ...")
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = env.get("SBT_OPTS") or " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx2g"])
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
        cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
        stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0:
        raise SystemExit(f"benchmark build failed (sbt exit {proc.returncode})")
    with open(os.path.join(HERE, "target", "perfbench-classpath.txt")) as fh:
        classpath = fh.read().strip()
    os.makedirs(STATE, exist_ok=True)
    with open(stamp, "w") as fh:
        json.dump({"digest": digest, "classpath": classpath,
                   "build_s": time.time() - t0}, fh)
    log(f"built in {time.time() - t0:.1f}s")
    return classpath


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def fs_type(path):
    """Filesystem type of the mount holding `path` (from /proc/mounts)."""
    best, kind = "", "unknown"
    try:
        with open("/proc/mounts") as fh:
            for line in fh:
                parts = line.split()
                if len(parts) > 2 and path.startswith(parts[1]) and len(parts[1]) > len(best):
                    best, kind = parts[1], parts[2]
    except OSError:
        pass
    return kind


def run_jvm(args, classpath, scratch, out_file):
    for d in ("warehouse", "local", "tmp"):
        os.makedirs(os.path.join(scratch, d))
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    # An explicit scratch location keeps the engine off any shared RAM disk.
    env["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(scratch, "local")
    # A fixed, pre-touched heap keeps peak RSS from following G1's heap
    # sizing decisions, which vary run to run; the rest of the RSS is the
    # program's native memory.
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--scratch", scratch, "--out", out_file,
            "--launch-ms", str(int(time.time() * 1000))]
    proc = subprocess.Popen(cmd, cwd=scratch, env=env, stdin=subprocess.DEVNULL,
                            stdout=sys.stderr, stderr=sys.stderr, start_new_session=True)
    try:
        return proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        log(f"run exceeded {RUN_TIMEOUT_S}s; killing it")
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec.WORKLOADS])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        raise SystemExit("no graft sources next to perfbench/: run from a graft checkout")
    digest = source_digest()
    classpath = ensure_build(digest)

    scratch = os.path.join(STATE, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    out_file = os.path.join(STATE, f"result-{os.getpid()}.json")
    before = set(os.listdir(ROOT))
    t0 = time.time()
    code = run_jvm(args, classpath, scratch, out_file)
    wall = time.time() - t0
    placement = fs_type(scratch)
    shutil.rmtree(scratch, ignore_errors=True)
    if code != 0 or not os.path.exists(out_file):
        raise SystemExit(f"benchmark JVM failed (exit {code}) without a result")
    with open(out_file) as fh:
        res = json.load(fh)
    os.remove(out_file)

    # Anything the run created outside its scratch directory is a leak.
    leaked = sorted(set(os.listdir(ROOT)) - before - {".perfbench"})
    res["attempted"] += 1
    if leaked or os.path.exists(scratch):
        res["failed"] += 1
        res["failures"].append(f"run left files behind: {leaked or [scratch]}")
    if res["failed"] > 0:
        res["correct"] = False

    declared = spec.LAYER if args.trace else spec.END_TO_END
    got = res["metrics"]
    if not args.trace:
        got["ok_frac"] = 1.0 - res["failed"] / res["attempted"]
    metrics = {}
    for m in declared:
        v = got.get(m["name"], 0.0 if args.trace else None)
        if v is None:
            res["correct"] = False
            res["failures"].append(f"metric {m['name']} not measured")
            continue
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "wall_s": wall, "result": res,
        "all_metrics": got,
        "provenance": {
            "git_commit": git_commit(), "source_sha256": digest,
            "nproc": os.cpu_count(), "heap": HEAP,
            "scratch": os.path.relpath(scratch, ROOT), "scratch_fs": placement,
            "spark_version": res["details"].get("spark_version"),
        },
    }
    os.makedirs(os.path.join(STATE, "records"), exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(t0)}.json"
    with open(os.path.join(STATE, "records", name), "w") as fh:
        json.dump(record, fh, indent=1)
    for f in res["failures"]:
        log(f)
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}), flush=True)


if __name__ == "__main__":
    main()
