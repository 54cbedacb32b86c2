#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the engine (src/main/scala) together with the benchmark program
(perfbench/scala) with the Scala compiler that ships in the Spark
distribution the repository builds against, packs the classes into
<out>/perfbench.jar, and records a JVM class-data archive <out>/perfbench.jsa
from one tiny search_pruned run (corpus write, all three index builds, every
query family), so that measured runs load the JVM, Spark and engine classes
from the archive instead of parsing them again. The build
is skipped when a stamp of every source file, the Spark jars and the flags is
unchanged.

    python3 perfbench/build.py

<out> is $CARGO_TARGET_DIR, else .bench_build under the repository root.
Exits non-zero when the engine sources or the Spark jars are missing.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perfbench", "scala")]


def default_out():
    out = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return out if os.path.isabs(out) else os.path.join(ROOT, out)


def spark_jars():
    """Jar directory of the Spark distribution: $SPARK_HOME/jars, else the
    `unmanagedBase` the repository's build.sbt names."""
    home = os.environ.get("SPARK_HOME")
    candidates = [os.path.join(home, "jars")] if home else []
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m:
            candidates.append(m.group(1))
    for c in candidates:
        if glob.glob(os.path.join(c, "spark-core_*.jar")) and \
                glob.glob(os.path.join(c, "scala-compiler-*.jar")):
            return c
    raise SystemExit("perfbench build: no Spark jars with a Scala compiler found "
                     "(set SPARK_HOME)")


ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def java_command(out, jars, work, cds_flag, args):
    """The JVM command line of one benchmark process. The class-data run and
    measured runs share it: the archive is only valid for an identical class
    path."""
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:-UsePerfData", cds_flag,
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return cmd + ["-cp", os.pathsep.join([os.path.join(out, "perfbench.jar"),
                                          os.path.join(jars, "*")]),
                  "perfbench.Main", "--work", work, *args]


def sources():
    files = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise SystemExit(f"perfbench build: source directory {os.path.relpath(d, ROOT)} "
                             "is missing")
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build(out):
    jars = spark_jars()
    srcs = sources()
    flags = ["-nowarn", "-encoding", "UTF-8"]
    h = hashlib.sha256()
    with open(os.path.abspath(__file__), "rb") as fh:
        h.update(fh.read())
    h.update(" ".join(flags).encode())
    h.update(" ".join(sorted(os.path.basename(j) for j in glob.glob(
        os.path.join(jars, "*.jar")))).encode())
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "build.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return jars
    for stale in (stamp_file, os.path.join(out, "perfbench.jar"),
                  os.path.join(out, "perfbench.jsa")):
        if os.path.exists(stale):
            os.remove(stale)
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           *flags, "-classpath", cp, "-d", classes, "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"perfbench build: scalac failed with exit code {r.returncode}")
    with zipfile.ZipFile(os.path.join(out, "perfbench.jar"), "w") as z:
        for base, _, names in os.walk(classes):
            for n in sorted(names):
                f = os.path.join(base, n)
                z.write(f, os.path.relpath(f, classes))
    work = os.path.join(out, "work", "train")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    archive = os.path.join(out, "perfbench.jsa")
    r = subprocess.run(java_command(out, jars, work, f"-XX:ArchiveClassesAtExit={archive}",
                                    ["--workload", "search_pruned", "--seed", "1",
                                     "--seconds", "0", "--trace", "0", "--docs", "300"]),
                       stdout=sys.stderr, stderr=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0 or not os.path.exists(archive):
        raise SystemExit(f"perfbench build: training run failed with exit code {r.returncode}")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return jars


def main():
    out = default_out()
    os.makedirs(out, exist_ok=True)
    build(out)
    print(out)


if __name__ == "__main__":
    main()
