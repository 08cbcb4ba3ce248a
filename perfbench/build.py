"""Build file of the benchmark harness.

Compiles the repo's Scala sources (src/main/scala) together with the
harness (perfbench/src) into .perfbench/build/classes, using the Scala
compiler that ships among Spark's jars, so no build tool or network is
needed. A stamp of the sources' digest skips the compile when nothing
changed.

    python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".perfbench", "build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "stamp")

# Spark on JDK 17 outside spark-submit needs these (see build.sbt).
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        d = os.path.join(home, "jars")
    else:
        try:
            import pyspark
        except ImportError:
            raise BuildError("no Spark found: set SPARK_HOME")
        d = os.path.join(os.path.dirname(pyspark.__file__), "jars")
    jars = sorted(glob.glob(os.path.join(d, "*.jar")))
    if not any("scala-compiler" in os.path.basename(j) for j in jars):
        raise BuildError("no scala-compiler jar among Spark's jars in " + d)
    return jars


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(os.path.join(main, "graft")):
        raise BuildError("the program's sources (src/main/scala/graft) are missing")
    found = []
    for base in (main, os.path.join(HERE, "src")):
        for dirpath, _, files in os.walk(base):
            found += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def digest(srcs, jars):
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    for j in jars:
        h.update(os.path.basename(j).encode())
    return h.hexdigest()


def build(log=sys.stderr):
    """Compile if needed; return the runtime classpath."""
    jars = spark_jars()
    srcs = sources()
    want = digest(srcs, jars)
    cp = [CLASSES] + jars
    if os.path.isfile(STAMP) and open(STAMP).read() == want:
        return cp
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs))
    jcp = os.pathsep.join(jars)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jcp,
           "scala.tools.nsc.Main", "-nowarn", "-classpath", jcp, "-d", tmp,
           "@" + argfile]
    print("perfbench: compiling %d sources" % len(srcs), file=log)
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise BuildError("scalac failed (exit %d)" % r.returncode)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(STAMP, "w") as fh:
        fh.write(want)
    return cp


def java_cmd(cp, tmpdir):
    """The harness JVM; its temporary files stay under `tmpdir`
    (-UsePerfData: no hsperfdata file in the system temp directory)."""
    cmd = ["java", "-Xmx3g", "-Xss4m", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + tmpdir]
    for p in JVM_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    return cmd + ["-cp", os.pathsep.join(cp)]


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        print("perfbench: build failed: %s" % e, file=sys.stderr)
        sys.exit(2)
