"""Build file of the benchmark: compiles the library and the harness.

Compiles every Scala source under `src/main/scala` together with the
harness sources under `perfbench/src` into `<build>/classes` with the Scala
compiler that ships among the Spark jars, and copies `src/main/resources`
next to the classes. The Spark jar directory is the `unmanagedBase` the
repository's `build.sbt` declares, or `$SPARK_HOME/jars`. A stamp of the
sources' hash skips the compile when nothing changed.

Usage: python3 perfbench/build.py [build_dir]   (default: .bench_build)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spark_jars():
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    except OSError:
        pass
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sys.exit("perfbench: no Spark jars (set SPARK_HOME)")


def classpath():
    return sorted(glob.glob(os.path.join(spark_jars(), "*.jar")))


def sources():
    found = []
    for base in ("src/main/scala", "perfbench/src"):
        for d, _, files in os.walk(os.path.join(ROOT, base)):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def build(build_dir=None):
    """Compile if needed; returns the runtime classpath string."""
    build_dir = os.path.join(ROOT, build_dir or ".bench_build")
    classes = os.path.join(build_dir, "classes")
    jars = classpath()
    srcs = sources()
    if not any(s.startswith(os.path.join(ROOT, "src")) for s in srcs):
        sys.exit("perfbench: no library sources under src/main/scala")
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(classes, ".stamp")
    cp = os.pathsep.join([classes] + jars)
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return cp
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    args_file = os.path.join(build_dir, "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join(["-nowarn", "-d", classes, "-classpath", os.pathsep.join(jars)] + srcs))
    rc = subprocess.call(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
                          f"-Djava.io.tmpdir={build_dir}", "-cp", os.pathsep.join(jars),
                          "scala.tools.nsc.Main", "@" + args_file], stdout=sys.stderr)
    if rc != 0:
        sys.exit(f"perfbench: compile failed ({rc})")
    res = os.path.join(ROOT, "src/main/resources")
    if os.path.isdir(res):
        shutil.copytree(res, classes, dirs_exist_ok=True)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return cp


if __name__ == "__main__":
    build(sys.argv[1] if len(sys.argv) > 1 else None)
