"""Build file of the benchmark harness.

Compiles the program (`src/main/scala` of the checkout) together with the
harness (`perfbench/harness`) into one class directory, with the Scala
compiler that ships among the Spark jars the program is built against (the
`unmanagedBase` named in the checkout's `build.sbt`, else `$SPARK_HOME/jars`).
A stamp of every source file's content makes a rebuild happen only when a
source changed.

    python3 perfbench/build.py        # prints the class path to run with
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
BUILD = os.path.join(ROOT, ".bench_build")


class BuildError(Exception):
    pass


def spark_jars():
    """Directory of the Spark jars the program compiles and runs against."""
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        with open(sbt, encoding="utf-8") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    home = os.environ.get("SPARK_HOME", "")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    raise BuildError("no Spark jars: neither build.sbt's unmanagedBase nor $SPARK_HOME/jars")


def sources():
    program = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                               recursive=True))
    if not program:
        raise BuildError("no program sources under src/main/scala")
    harness = sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))
    if not harness:
        raise BuildError("no harness sources under perfbench/harness")
    return program + harness


def classpath():
    """Compile if needed; return the run class path."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256(jars.encode())
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()[:16]
    out = os.path.join(BUILD, "classes-" + stamp)
    cp = out + os.pathsep + os.path.join(jars, "*")
    if os.path.isdir(out):
        return cp
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    print("[build] compiling %d sources" % len(srcs), file=sys.stderr, flush=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
           "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + srcs
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=840)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed with code %d" % r.returncode)
    # program resources (none today) go on the class path beside the classes
    res = os.path.join(ROOT, "src", "main", "resources")
    if os.path.isdir(res):
        shutil.copytree(res, tmp, dirs_exist_ok=True)
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, out)
    return cp


if __name__ == "__main__":
    try:
        print(classpath())
    except BuildError as e:
        print("[build] " + str(e), file=sys.stderr)
        sys.exit(2)
