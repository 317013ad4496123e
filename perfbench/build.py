"""Build file of the benchmark's Scala package.

Compiles the engine's sources (`src/main/scala`) together with the
benchmark's own (`perfbench/scala`) with the Scala 2.13 compiler that
ships in Spark's jars, into `.bench_build/perfbench/classes-<hash>`.
The hash covers every source file, so an unchanged tree is not rebuilt.

    python3 perfbench/build.py        # prints the class directory
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

OUT = os.path.join(".bench_build", "perfbench")


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the repo build's
    `unmanagedBase`."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open("build.sbt") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if not m:
            raise SystemExit("set SPARK_HOME: build.sbt names no unmanagedBase")
        jars = m.group(1)
    if not glob.glob(os.path.join(jars, "scala-compiler-2.13*.jar")):
        raise SystemExit(f"no Scala 2.13 compiler under {jars}; set SPARK_HOME")
    return jars


def sources():
    engine = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not engine:
        raise SystemExit("no engine sources under src/main/scala: "
                         "run from the root of a checkout")
    here = os.path.dirname(os.path.abspath(__file__))
    own = sorted(glob.glob(os.path.join(here, "scala", "*.scala")))
    return engine + own


def classpath(classes):
    return classes + os.pathsep + os.path.join(spark_jars(), "*")


def build():
    """Return the class directory, compiling first if it is missing."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    classes = os.path.abspath(os.path.join(OUT, "classes-" + h.hexdigest()[:16]))
    if os.path.isdir(classes):
        return classes
    for old in glob.glob(os.path.join(OUT, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    jars = sorted(glob.glob(os.path.join(spark_jars(), "*.jar")))
    # an explicit classpath: the default one includes ".", where the
    # directory perfbench/scala would shadow the scala package
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + os.path.abspath(OUT), "-cp", os.pathsep.join(jars),
           "scala.tools.nsc.Main", "-classpath", os.pathsep.join(jars),
           "-nowarn", "-d", tmp, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout)
        raise SystemExit(f"compile failed ({r.returncode})")
    os.rename(tmp, classes)
    return classes


if __name__ == "__main__":
    print(build())
