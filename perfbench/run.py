#!/usr/bin/env python3
"""CDC pipeline benchmark: builds the engine with the benchmark program, runs
one workload in a fresh JVM, checks its outputs and prints the result.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: hybrid_stream, multi_table_evolve, curation_batch (see
perfbench/README.md). The last stdout line is the result record
{"correct", "attempted", "failed", "metrics"}; the lines before it are the
workload's full report and health fields. Build and JVM logs go to stderr
and to perfbench/work/.

The first run in a checkout compiles ../src/main/scala together with the
benchmark sources (sbt, offline) and makes one short training run that dumps
a class-data-sharing archive; later runs reuse both while the sources are
unchanged. Each run gets its own java.io.tmpdir and
spark.local.dir under perfbench/work/, counts what the program left there,
and deletes the directory.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
WORK = os.path.join(HERE, "work")
STAMP = os.path.join(HERE, "target", "bench-build.json")
CDS = os.path.join(HERE, "target", "bench-classes.jsa")
WORKLOADS = ("hybrid_stream", "multi_table_evolve", "curation_batch")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg):
    log(msg)
    sys.exit(2)


def source_digest():
    """Digest of every input of the build: engine and benchmark sources."""
    h = hashlib.sha1()
    roots = [ENGINE_SRC, os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile (once per source state) and return the runtime classpath."""
    digest = source_digest()
    if os.path.exists(STAMP):
        with open(STAMP) as fh:
            stamp = json.load(fh)
        if stamp.get("digest") == digest:
            return stamp["classpath"]
    tmp = os.path.join(HERE, "target", "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "-Dsbt.offline=true") +
                       f" -Djava.io.tmpdir={tmp}")
    env["TMPDIR"] = tmp
    log("building (sbt compile) ...")
    t0 = time.time()
    # packaged: a class-data-sharing archive (see run_jvm) needs a jar-only classpath
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "package", "export Runtime/fullClasspathAsJars"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True,
        timeout=840)
    sys.stderr.write(proc.stderr[-4000:])
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-8000:])
        die(f"build failed (exit {proc.returncode})")
    lines = [l for l in proc.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if not lines:
        sys.stderr.write(proc.stdout[-8000:])
        die("build printed no classpath")
    classpath = lines[-1].strip()
    if os.path.exists(CDS):
        os.remove(CDS)
    train_class_archive(classpath)
    with open(STAMP, "w") as fh:
        json.dump({"digest": digest, "classpath": classpath}, fh)
    log(f"built in {time.time() - t0:.1f}s")
    return classpath


def train_class_archive(classpath):
    """Class-data sharing: one short training run dumps the classes it loaded
    into an archive that every measured run maps instead of loading and
    verifying the Spark jars again — about half of a JVM's cold start. JIT
    state is not shared, so measured phases are unaffected, and every
    measured run starts from the same archive. Without an archive (a failed
    dump) runs still work, only slower to start."""
    args = argparse.Namespace(workload="hybrid_stream", seed=0, seconds=1)
    try:
        run_jvm(classpath, args, 0, jvm_flags=[f"-XX:ArchiveClassesAtExit={CDS}"])
    except SystemExit:
        log("class archive training run failed; continuing without it")


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def entries(path):
    return len(os.listdir(path)) if os.path.isdir(path) else 0


def run_jvm(classpath, args, trace, spans=None, jvm_flags=None):
    """One workload run in a fresh JVM under its own temp dirs.

    Returns (report line, result record, wall seconds, entries left in the
    temp dirs). The wall time is measured from outside the program.
    """
    os.makedirs(WORK, exist_ok=True)
    work = os.path.join(WORK, f"run-{args.workload}-{args.seed}-{os.getpid()}-{trace}")
    shutil.rmtree(work, ignore_errors=True)
    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    result = os.path.join(work, "result.json")
    if jvm_flags is None:
        jvm_flags = [f"-XX:SharedArchiveFile={CDS}"] if os.path.exists(CDS) else []
    cmd = (["java"] + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] +
           ["-Xmx3g", "-XX:-UsePerfData", *jvm_flags, f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={local}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(trace),
            "--cores", str(cores()), "--work", work, "--result", result])
    if spans:
        cmd += ["--spans", spans]
    log_path = os.path.join(WORK, f"{args.workload}-trace{trace}.log")
    t0 = time.time()
    try:
        with open(log_path, "w") as fh:
            proc = subprocess.run(cmd, cwd=ROOT, stdin=subprocess.DEVNULL, stdout=fh,
                                  stderr=subprocess.STDOUT, timeout=JVM_TIMEOUT_S)
        code = proc.returncode
    except subprocess.TimeoutExpired:
        code = "timeout"
    wall = time.time() - t0
    if code != 0 or not os.path.exists(result):
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-60:]))
        shutil.rmtree(work, ignore_errors=True)
        die(f"workload {args.workload} failed (exit {code}); log: {log_path}")
    with open(result) as fh:
        report, record = [json.loads(l) for l in fh.read().splitlines()[:2]]
    if args.workload == "curation_batch":
        oracle_check(work, record)
    left = entries(tmp) + entries(local)
    shutil.rmtree(work, ignore_errors=True)
    return report, record, wall, left


def oracle_check(work, record):
    """Replay the last curation pass against the DuckDB oracle
    (tools/check_oracle.py); every failing query is a failed operation, on
    top of the MinHash-family properties the program checked itself."""
    out = os.path.join(work, "verify")
    try:
        proc = subprocess.run(
            [sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"),
             os.path.join(work, "corpus"), out],
            cwd=ROOT, stdin=subprocess.DEVNULL, capture_output=True, text=True, timeout=60)
        sys.stderr.write(proc.stdout[-3000:] + proc.stderr[-3000:])
        with open(os.path.join(out, "correctness-local.json")) as fh:
            failed = json.load(fh)["n_fail"]
    except (OSError, ValueError, KeyError, subprocess.TimeoutExpired):
        failed = record["attempted"]
    record["failed"] += failed
    record["correct"] = record["failed"] == 0


def walls_file(args):
    return os.path.join(WORK, f"untraced-walls-{args.workload}-{args.seconds}s.json")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        die(f"engine sources not found at {ENGINE_SRC}: run from the root of a full checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java must be on PATH")
    classpath = build()

    walls = []
    if os.path.exists(walls_file(args)):
        with open(walls_file(args)) as fh:
            walls = json.load(fh)
    if args.trace == 0:
        report, record, wall, left = run_jvm(classpath, args, 0)
        with open(walls_file(args), "w") as fh:
            json.dump(walls + [wall], fh)
        report["run"] = {"wall_s": wall, "tmp_entries_left": left}
    else:
        # tracing overhead: traced wall minus the untraced wall of the same
        # workload, both timed from outside the program
        if not walls:
            walls = [run_jvm(classpath, args, 0)[2]]
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        spans = os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.jsonl")
        report, record, wall, left = run_jvm(classpath, args, 1, spans)
        base = statistics.median(walls)
        report["run"] = {"wall_s": wall, "untraced_wall_s": base,
                         "tracing_overhead_s": wall - base, "tmp_entries_left": left,
                         "spans": os.path.relpath(spans, ROOT)}
    print(json.dumps(report))
    print(json.dumps(record))


if __name__ == "__main__":
    main()
