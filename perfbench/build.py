"""Build file of the benchmark: compiles graft's sources (src/main/scala)
together with the harness (perfbench/harness) against the Spark jars,
with the Scala compiler that ships among those jars. No sbt, no network.

    python3 perfbench/build.py        # build if any source changed

Classes land in .bench_build/classes and are packed into
.bench_build/graft.jar; a stamp of the sources' contents skips the compile
when nothing changed. The harness JVM keeps a class-data-sharing archive
of the classes it loaded (.bench_build/classes.jsa): the first run after
a build writes it at exit, later runs map it instead of loading and
verifying the Spark classes anew."""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
JAR = os.path.join(BUILD, "graft.jar")
CDS = os.path.join(BUILD, "classes.jsa")


def _spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        return m.group(1) if m else ""
    except OSError:
        return ""


SPARK_JARS = _spark_jars()
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perfbench", "harness")]

# Spark on JDK 17 outside spark-submit needs these (as build.sbt sets them)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def spark_classpath():
    jars = sorted(glob.glob(os.path.join(SPARK_JARS, "*.jar")))
    if not jars:
        sys.exit(f"build: no jars under {SPARK_JARS}")
    return jars


def sources():
    out = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            sys.exit(f"build: missing source directory {os.path.relpath(d, ROOT)}")
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(out)


def build():
    """Compile when the sources changed; return the runtime classpath."""
    srcs = sources()
    jars = spark_classpath()
    h = hashlib.sha256()
    for p in srcs + jars:
        h.update(p.encode())
        if p.endswith((".scala", ".java")):
            with open(p, "rb") as f:
                h.update(f.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "classes.stamp")
    # a class-data-sharing archive takes jars only, no class directories
    cp = [JAR] + jars
    if os.path.exists(JAR) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return cp
    for f in (stamp_file, JAR, CDS, CDS + ".tmp"):
        if os.path.exists(f):
            os.remove(f)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    args_file = os.path.join(BUILD, "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join(["-nowarn", "-d", CLASSES, "-classpath", os.pathsep.join(jars)] + srcs))
    r = subprocess.run(["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.pathsep.join(jars),
                        "scala.tools.nsc.Main", "@" + args_file],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        sys.exit("build: scalac failed")
    with zipfile.ZipFile(JAR, "w") as z:
        for base, _, files in os.walk(CLASSES):
            for f in sorted(files):
                p = os.path.join(base, f)
                z.write(p, os.path.relpath(p, CLASSES))
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def java(cp, main, args, heap="3g", cds=False):
    """The command line that runs `main` on the built classpath; with
    `cds`, it maps the class-data-sharing archive, or writes it at exit
    when there is none yet."""
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    share = []
    if cds:
        share = [f"-XX:SharedArchiveFile={CDS}" if os.path.exists(CDS)
                 else f"-XX:ArchiveClassesAtExit={CDS}.tmp"]
    # C1 only; a code cache large enough that compiled code is not swept
    # and compiled again (C1-only defaults to 48 MB); the parallel
    # collector with fixed generation sizes, as G1's concurrent cycles fell
    # in some measured rounds and not in others, and adaptive sizing made
    # each round cheaper than the one before; no hsperfdata under /tmp, so
    # the run writes only inside the checkout
    return (["java", "-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=256m",
             f"-Xms{heap}", f"-Xmx{heap}", "-Xmn1g", "-XX:+UseParallelGC",
             "-XX:-UseAdaptiveSizePolicy", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"] + share
            + ADD_OPENS + ["-cp", os.pathsep.join(cp), main] + [str(a) for a in args])


def keep_cds():
    """After a clean exit of a JVM that wrote the archive: take it."""
    if os.path.exists(CDS + ".tmp"):
        os.replace(CDS + ".tmp", CDS)


if __name__ == "__main__":
    build()
    print("built", CLASSES)
