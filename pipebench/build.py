"""Build file of the benchmark: compiles the program (src/main/scala of the
checkout) together with the benchmark harness (pipebench/harness) into
.bench_build/classes with the Scala compiler that ships among the Spark
jars. A stamp over every source file skips the compile when nothing
changed.

    python3 pipebench/build.py      # prints the classpath to run with
"""

import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "classes.stamp")


def spark_jars():
    """The Spark jar directory the project builds against: $SPARK_HOME/jars,
    else the unmanagedBase named in the project's build.sbt."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m or not os.path.isdir(m.group(1)):
        raise SystemExit("build: no Spark jars (set SPARK_HOME)")
    return m.group(1)


def sources():
    program = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    if not program:
        raise SystemExit("build: no program sources under src/main/scala")
    return program + sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))


def classpath(jars):
    return CLASSES + os.pathsep + os.path.join(jars, "*")


def build():
    """Compile if any source changed; return the run classpath."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256(jars.encode())
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return classpath(jars)
    os.makedirs(OUT, exist_ok=True)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={OUT}", "-cp", cp,
           "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES, "-classpath", cp] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit("build: compile failed")
    with open(STAMP, "w") as f:
        f.write(stamp)
    return classpath(jars)


if __name__ == "__main__":
    print(build())
