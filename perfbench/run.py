#!/usr/bin/env python3
"""Build graft and the benchmark from source, then run one benchmark.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <etl_sync|ingest_serve> \
        --seed <n> --seconds <s> --trace <0|1>

The program (src/main/scala) and the benchmark (perfbench/src/main/scala)
are compiled together with the Scala compiler that ships in the Spark
distribution, the same Scala version build.sbt pins, so no dependency is
resolved. The build is cached under target/perfbench/build/<source hash>:
the first run compiles and packs one jar, later runs reuse it.

The build also sets up, warms up and runs one cycle of every workload once
(`--train 1`) and records the classes that loads into a JVM class-data-sharing
archive.
Runs map that archive instead of loading and verifying Spark's classes one
by one, which takes seconds off every cold start; runs with and without an
archive are not comparable, so a build always makes them. The run itself
replaces this process with the JVM, so no child outlives it. All files a
run writes, Spark's scratch space included, stay under target/perfbench.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
SOURCES = [os.path.join(ROOT, "src", "main", "scala"),
           os.path.join(BENCH, "src", "main", "scala")]
RESOURCES = os.path.join(BENCH, "src", "main", "resources")
STAGE = os.path.join("target", "perfbench")
MAIN = "graft.perfbench.Main"

# Spark 4 on JDK 17 outside spark-submit needs these (the list Spark's
# launcher passes).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail("no Spark distribution with a Scala compiler found "
             "(set SPARK_HOME)")
    return os.path.join(jars, "*")


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        fail("no java found (set JAVA_HOME)")
    return exe


def source_files():
    for d in SOURCES:
        if not os.path.isdir(d):
            fail(f"missing source directory {os.path.relpath(d, ROOT)}; "
                 "run from the root of a graft checkout")
    files = sorted(f for d in SOURCES
                   for f in glob.glob(os.path.join(d, "**", "*.scala"),
                                      recursive=True))
    if not files:
        fail("no Scala sources found")
    return files


def build(jars):
    files = source_files()
    digest = hashlib.sha256()
    for f in files:
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    out = os.path.join(STAGE, "build", digest.hexdigest()[:16])
    jar = os.path.join(out, "perfbench.jar")
    done = os.path.join(out, "complete")
    if os.path.exists(done):
        return out, jar
    tmp = os.path.join(out, f"tmp-{os.getpid()}")
    os.makedirs(tmp)
    argfile = os.path.join(out, f"sources-{os.getpid()}.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    print(f"perfbench: compiling {len(files)} sources", file=sys.stderr)
    cmd = [java(), "-Xss16m", "-Xmx3g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", jars, "@" + argfile]
    compiled = subprocess.run(cmd).returncode == 0
    os.remove(argfile)
    if not compiled:
        shutil.rmtree(tmp, ignore_errors=True)
        fail("compilation failed")
    # class-data sharing maps jars only, not directories
    with zipfile.ZipFile(jar, "w") as z:
        for base in (tmp, RESOURCES):
            for d, _, names in os.walk(base):
                for n in names:
                    f = os.path.join(d, n)
                    z.write(f, os.path.relpath(f, base))
    shutil.rmtree(tmp)
    print("perfbench: recording the class archive", file=sys.stderr)
    archive = os.path.join(out, "classes.jsa")
    cmd = jvm_command(jar, jars) + [
        f"-XX:ArchiveClassesAtExit={archive}.tmp", MAIN, "--train", "1",
        "--root", STAGE]
    if subprocess.run(cmd, env=jvm_env(),
                      stdout=subprocess.DEVNULL).returncode != 0:
        fail("the training run failed")
    os.rename(archive + ".tmp", archive)
    open(done, "w").close()
    return out, jar


def jvm_env():
    scratch = os.path.abspath(os.path.join(STAGE, "spark-local"))
    os.makedirs(scratch, exist_ok=True)
    return dict(os.environ, SPARK_LOCAL_DIRS=scratch)


def jvm_command(jar, jars):
    # a fixed young generation keeps the resident-set peak from following
    # the collector's adaptive young sizing; the heap grows with what the
    # program retains
    cmd = [java(), "-Xmx2g", "-Xmn256m"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + [
        "-Djava.io.tmpdir=" + jvm_env()["SPARK_LOCAL_DIRS"],
        "-Dspark.sql.warehouse.dir=" +
        os.path.abspath(os.path.join(STAGE, "warehouse")),
        "-cp", os.pathsep.join([jar, jars])]


def main():
    jars = spark_jars()
    out, jar = build(jars)
    cmd = jvm_command(jar, jars) + [
        "-XX:SharedArchiveFile=" + os.path.join(out, "classes.jsa"), MAIN
    ] + sys.argv[1:] + ["--root", STAGE]
    sys.stdout.flush()
    os.execve(cmd[0], cmd, jvm_env())


if __name__ == "__main__":
    main()
