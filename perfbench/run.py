#!/usr/bin/env python3
"""Build the program and the benchmark from source, then run one workload.

    python3 perfbench/run.py --workload <scan_fixture|gold_bigfeed|queries>
        --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. The Scala sources of the program
(src/main/scala, src/main/resources) and of the benchmark (perfbench/src)
are compiled with the Scala compiler among Spark's jars ($SPARK_HOME/jars,
else the directory build.sbt names as unmanagedBase) into
.bench_build/classes-<digest>; a build is reused while no source changes.
The last line of standard output is the result object
{"correct", "attempted", "failed", "metrics"}; everything else the run
leaves (inputs, outputs, traces, logs) stays under .bench_build/.

Extra flags, passed to the JVM side unchanged: --tiny (small inputs, for the
smoke test), --corrupt-expectation (perturb every expected output, so the
run must report failures), --capture-queries <file> (write the expected
query digests instead of benchmarking).
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

BUILD = ".bench_build"
SOURCE_DIRS = ("src/main/scala", "src/main/resources", "perfbench/src")
# the first run in a checkout also builds; any later run must end well
# inside 180 s
RUN_TIMEOUT_S = 170
HEAP = "3g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open("build.sbt") as fh:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                              fh.read())
        except OSError:
            m = None
        jars = m.group(1) if m else ""
    if not os.path.isdir(jars):
        fail(f"Spark jars not found (at '{jars}'); set SPARK_HOME")
    return jars


def source_files():
    files = []
    for base in SOURCE_DIRS:
        for dirpath, _, names in os.walk(base):
            files.extend(os.path.join(dirpath, n) for n in names)
    return sorted(files)


def digest_of(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        h.update(b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
        h.update(b"\0")
    return h.hexdigest()


def build(jars):
    """Compile program + benchmark into a digest-keyed class directory."""
    if not os.path.isdir("src/main/scala"):
        fail("no program sources (src/main/scala) here; run from the "
             "repository root")
    files = source_files()
    digest = digest_of(files)
    out = os.path.join(BUILD, "classes-" + digest[:16])
    if os.path.exists(os.path.join(out, ".complete")):
        return out, digest
    os.makedirs(BUILD, exist_ok=True)
    for old in os.listdir(BUILD):
        if old.startswith("classes-"):
            shutil.rmtree(os.path.join(BUILD, old), ignore_errors=True)
    tmp = out + ".tmp"
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(f for f in files if f.endswith(".scala")) + "\n")
    cp = os.path.join(jars, "*")
    t0 = time.time()
    res = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp,
         "scala.tools.nsc.Main",
         "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-4000:])
        fail("compilation failed")
    shutil.copytree("src/main/resources", tmp, dirs_exist_ok=True)
    open(os.path.join(tmp, ".complete"), "w").close()
    os.rename(tmp, out)
    print(f"perfbench: built {out} in {time.time() - t0:.1f} s",
          file=sys.stderr)
    return out, digest


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    args, extra = ap.parse_known_args()
    if not os.path.isfile(os.path.join("perfbench", "run.py")):
        fail("run from the repository root")

    jars = spark_jars()
    classes, digest = build(jars)
    for d in ("tmp", "logs"):
        os.makedirs(os.path.join(BUILD, d), exist_ok=True)
    opens = [x for p in ADD_OPENS
             for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    tmp = os.path.join(BUILD, "tmp")
    cmd = ["java", "-XX:-UsePerfData", f"-Xmx{HEAP}", f"-Xms{HEAP}",
           "-XX:+UseParallelGC", *opens, "-Djava.io.tmpdir=" + tmp,
           "-Dspark.hadoop.hadoop.tmp.dir=" + tmp,
           "-Dperfbench.digest=" + digest,
           "-cp", classes + os.pathsep + os.path.join(jars, "*"),
           "perfbench.Main", "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", args.trace, *extra]
    log = os.path.join(BUILD, "logs",
                       f"{args.workload}-s{args.seed}-t{args.trace}.log")
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err,
                                text=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run exceeded {RUN_TIMEOUT_S} s; log in {log}", 3)
    lines = [line for line in out.splitlines() if line.strip()]
    if "--capture-queries" in extra and proc.returncode == 0:
        return
    if proc.returncode != 0 or not lines:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"benchmark JVM exited with {proc.returncode}; log in {log}", 1)
    for line in lines[:-1]:
        print(line)
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line", 1)
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
