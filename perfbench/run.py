#!/usr/bin/env python3
"""Run one workload of the graft benchmark and print its metrics.

Usage (from the repository root):

    python3 perfbench/run.py --workload llm|archive --seed N --seconds S --trace 0|1
                             [--corrupt OP]

Builds the program (src/main/scala) and the harness (perfbench/src) into
.bench_build/ when their sources changed, writes the query tables there once
per version of TableGen.scala, starts one JVM that runs the workload at
local[nproc], checks every timed operation's output, and prints a table of
every metric followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end_to_end list of BENCHMARK.json, with
--trace 1 the per_layer list. Each run is also recorded, with its seed, source
identity and host facts, under .bench_build/runs/; a traced run writes its
spans and per-layer table under .bench_build/traces/. --corrupt OP flips one
bit of OP's expected digest: the negative control, which must report a failure.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_settings():
    """What build.sbt says about compiling the program: the Spark jar
    directory (else $SPARK_HOME/jars), scalaVersion and scalacOptions.

    The program is compiled here with scalac rather than through sbt: sbt
    resolves and caches dependencies and keeps its own state under the home
    directory, and a run must read and write only inside its checkout. So
    that both builds compile the same program, a setting of build.sbt that
    this function does not read fails the run instead of being ignored.
    """
    try:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            text = fh.read()
    except OSError:
        return os.path.join(os.environ.get("SPARK_HOME", ""), "jars"), None, []
    for setting in ("scalaSource", "SourceDirectories", "sourceGenerators",
                    "addCompilerPlugin", "javacOptions"):
        if setting in text:
            fail(f"build.sbt sets {setting}, which run.py does not read")
    base = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', text)
    jars = base.group(1) if base else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    version = re.search(r'scalaVersion\s*:=\s*"([^"]+)"', text)
    options = []
    literal = r'scalacOptions\s*(?:\+\+=\s*Seq\(([^)]*)\)|\+=\s*("[^"]*"))'
    if len(re.findall(r"scalacOptions", text)) != len(re.findall(literal, text)):
        fail("build.sbt sets scalacOptions in a form run.py does not read")
    for seq, one in re.findall(literal, text):
        options += re.findall(r'"([^"]*)"', seq or one)
    return jars, version.group(1) if version else None, options


SPARK_JARS, SCALA_VERSION, SCALAC_OPTIONS = build_settings()
WORKLOADS = ("llm", "archive")
DRIVER_HEAP = "3g"
# a run must end within 180 s, not counting a build (the first run of a
# checkout builds, and may take longer)
RUN_LIMIT_S = 170
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def scala_sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def tree_key(files, salt):
    h = hashlib.sha256(salt.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def compiler_cp():
    """The Scala compiler of build.sbt's scalaVersion, from the Spark jars."""
    if not SCALA_VERSION:
        fail("build.sbt sets no scalaVersion")
    jars = []
    for name in ("scala-compiler", "scala-library", "scala-reflect"):
        jar = os.path.join(SPARK_JARS, f"{name}-{SCALA_VERSION}.jar")
        if not os.path.exists(jar):
            fail(f"no {name} {SCALA_VERSION} (build.sbt's scalaVersion) in {SPARK_JARS}")
        jars.append(jar)
    return ":".join(jars)


def compile_tree(srcs, out, classpath, key):
    """Compile srcs into out unless out already holds this key's classes."""
    stamp = os.path.join(out, ".key")
    if os.path.exists(stamp) and open(stamp).read() == key:
        return
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", compiler_cp(), "scala.tools.nsc.Main",
           *SCALAC_OPTIONS, "-d", tmp, "-cp", classpath, "@" + argfile]
    res = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-4000:] + res.stderr[-4000:])
        fail(f"compiling {os.path.relpath(out, ROOT)} failed")
    with open(os.path.join(tmp, ".key"), "w") as fh:
        fh.write(key)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


def java_cmd(work, heap, classpath, *args):
    """A JVM running perfbench.Main with the flags Spark needs on JDK 17."""
    return ["java"] + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{heap}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", ":".join(classpath), "perfbench.Main", *args]


def query_tables(classpath):
    """The tables the queries read, written once per version of TableGen.scala.

    They depend on neither the program nor the workload seed, so runs of any
    program version reuse them, and no run's set-up pays for writing them."""
    gen = os.path.join(HERE, "src", "perfbench", "TableGen.scala")
    tables = os.path.join(BUILD, "tables-" + tree_key([gen], "")[:16])
    if os.path.exists(os.path.join(tables, ".complete")):
        return tables
    work = os.path.join(BUILD, f"tablegen-{os.getpid()}")
    tmp = tables + ".tmp"
    for d in (work, tmp):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(tmp)
    try:
        res = subprocess.run(java_cmd(work, DRIVER_HEAP, classpath, "tables", work, tmp),
                             cwd=work, capture_output=True, text=True, timeout=RUN_LIMIT_S)
        if res.returncode != 0:
            sys.stderr.write(res.stdout[-4000:] + res.stderr[-4000:])
            fail("writing the query tables failed")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    open(os.path.join(tmp, ".complete"), "w").close()
    os.rename(tmp, tables)
    return tables


def build():
    """Classes of the program and of the harness, rebuilt only on change, and
    the query tables."""
    program_src = os.path.join(ROOT, "src", "main", "scala")
    harness_src = os.path.join(HERE, "src")
    if not os.path.isdir(program_src) or not scala_sources(program_src):
        fail(f"no program sources under {program_src}: run from a full checkout")
    if not os.path.isdir(SPARK_JARS):
        fail(f"Spark jars not found (set SPARK_HOME): {SPARK_JARS!r}")
    os.makedirs(BUILD, exist_ok=True)
    spark_cp = os.path.join(SPARK_JARS, "*")
    program_out = os.path.join(BUILD, "program-classes")
    harness_out = os.path.join(BUILD, "harness-classes")
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        program_key = tree_key(scala_sources(program_src),
                               compiler_cp() + " ".join(SCALAC_OPTIONS))
        compile_tree(scala_sources(program_src), program_out, spark_cp, program_key)
        harness_key = tree_key(scala_sources(harness_src), program_key)
        compile_tree(scala_sources(harness_src), harness_out,
                     program_out + ":" + spark_cp, harness_key)
        classpath = [harness_out, program_out, spark_cp]
        tables = query_tables(classpath)
    return classpath, program_key, tables


def source_commit():
    try:
        res = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return res.stdout.strip() if res.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def read_spec():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        fail("BENCHMARK.json not found at the checkout root")
    with open(path) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--corrupt", help="negative control: corrupt this op's expected digest")
    args = ap.parse_args()
    # on SIGTERM, unwind through the finally blocks so child JVMs are stopped too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spec = read_spec()
    classpath, program_key, tables = build()
    built = time.monotonic()

    work = os.path.join(BUILD, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result_path = os.path.join(work, "result.json")
    log_path = os.path.join(work, "jvm.log")
    cmd = java_cmd(work, DRIVER_HEAP, classpath, "run", args.workload, str(args.seed),
                   str(args.seconds), str(args.trace), work, tables,
                   os.path.join(HERE, "expected.tsv"), result_path)
    limit = RUN_LIMIT_S - (time.monotonic() - built)
    launched = time.time_ns()
    cmd.append(str(launched))
    if args.corrupt:
        cmd.append(args.corrupt)
    proc = None
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
            try:
                code = proc.wait(timeout=limit)
            except subprocess.TimeoutExpired:
                code = None
        if code != 0 or not os.path.exists(result_path):
            with open(log_path, errors="replace") as fh:
                sys.stderr.write(fh.read()[-6000:])
            fail("benchmark JVM timed out" if code is None else f"benchmark JVM exited with {code}")
        with open(result_path) as fh:
            res = json.load(fh)
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    measured = {m["name"]: m for m in res["end_to_end"] + res["per_layer"]}
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in measured]
    if missing:
        fail(f"workload {args.workload} did not measure {missing}")
    res["run"] = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "corrupt": args.corrupt, "commit": source_commit(),
        "program_sources": program_key, "started_unix": launched / 1e9,
    }
    detail = res.pop("trace_detail")
    os.makedirs(os.path.join(BUILD, "runs"), exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}-{launched}"
    with open(os.path.join(BUILD, "runs", stem + ".json"), "w") as fh:
        json.dump(res, fh, indent=1)
    if args.trace:
        os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
        with open(os.path.join(BUILD, "traces", stem + ".json"), "w") as fh:
            json.dump({"run": res["run"], "env": res["env"], **detail}, fh)

    env = res["env"]
    print(f"# {args.workload} seed={args.seed} trace={args.trace} {env['master']} "
          f"heap={env['driver_heap_mb']}MB loadavg={env['loadavg_start']:.2f}->"
          f"{env['loadavg_end']:.2f} ops={res['attempted']} failed={res['failed']}")
    for m in res["end_to_end"] + res["per_layer"]:
        print(f"{m['name']:32s} {m['value']:>16.6g} {m['unit']}")
    for o in res["ops"]:
        if not o["ok"]:
            print(f"FAILED op {o['op']} {o['kind']}/{o['name']}: {o['error']}")
    line = {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {m["name"]: {"value": measured[m["name"]]["value"], "unit": m["unit"]}
                    for m in wanted},
    }
    print(json.dumps(line))


if __name__ == "__main__":
    main()
