"""Build file of the benchmark: compiles graft's main sources together with
the benchmark's own (perfbench/src) with the Scala compiler that ships in
Spark's jars, into perfbench/.build. A stamp of every source's content
skips the compile when nothing changed.

    python3 perfbench/build.py      # from the root of a checkout
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
SCALA = "2.13.17"
# Spark 4 on JDK 17 needs these outside spark-submit (as in build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def build_dir(root):
    return os.path.join(root, "perfbench", ".build")


def spark_jars(root):
    """$SPARK_HOME/jars, else the jar dir build.sbt names as unmanagedBase."""
    if "SPARK_HOME" in os.environ:
        jar_dir = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        jar_dir = m.group(1) if m else ""
    jars = sorted(glob.glob(os.path.join(jar_dir, "*.jar")))
    if not jars:
        sys.exit("perfbench: no Spark jars found (set SPARK_HOME)")
    return jars


def sources(root):
    found = []
    for base in (os.path.join(root, "src", "main", "scala"),
                 os.path.join(root, "perfbench", "src", "main", "scala")):
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def java_command(classpath, work):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return ["java", *opens, "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", classpath]


def ensure_built(root):
    """Compiles if the sources changed; returns the run classpath."""
    out = build_dir(root)
    os.makedirs(out, exist_ok=True)
    classes = os.path.join(out, "classes")
    srcs = sources(root)
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(out, "classes.stamp")
    jars = spark_jars(root)
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == stamp):
        staging = classes + ".new"
        shutil.rmtree(staging, ignore_errors=True)
        os.makedirs(staging)
        compiler = [j for j in jars if os.path.basename(j) in (
            f"scala-compiler-{SCALA}.jar", f"scala-library-{SCALA}.jar",
            f"scala-reflect-{SCALA}.jar")]
        if len(compiler) != 3:
            sys.exit(f"perfbench: Scala {SCALA} compiler jars not found among Spark's jars")
        argfile = os.path.join(out, "scalac.args")
        with open(argfile, "w") as f:
            f.write("\n".join(["-nowarn", "-d", staging, "-cp", ":".join(jars)] + srcs))
        print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
        r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler),
                            "scala.tools.nsc.Main", "@" + argfile])
        if r.returncode != 0:
            sys.exit("perfbench: compile failed")
        shutil.rmtree(classes, ignore_errors=True)
        os.rename(staging, classes)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return ":".join([classes] + jars)


if __name__ == "__main__":
    os.makedirs(build_dir(os.getcwd()), exist_ok=True)
    ensure_built(os.getcwd())
