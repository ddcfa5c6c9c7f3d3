"""Build file of the benchmark: compiles graft and the harness with scalac.

graft's own build (``build.sbt``) takes its Spark jars, Scala compiler
included, from one jar directory (``unmanagedBase``). This script uses
the same directory (``$SPARK_HOME/jars`` or the one ``build.sbt``
names) and calls the Scala compiler directly, without sbt, so a build
touches nothing outside the checkout. The classes land in
``$CARGO_TARGET_DIR/classes`` (default ``.bench_build/classes``) and are
rebuilt only when a source file changes.

Run ``python3 perfbench/build.py`` from the repository root to build.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HARNESS = "perfbench/src"
ENGINE = "src/main/scala"


def build_dir():
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def jar_dir():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    if os.path.exists("build.sbt"):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open("build.sbt").read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise SystemExit("build: no Spark jar directory (set SPARK_HOME)")


def sources():
    engine = sorted(glob.glob(f"{ENGINE}/**/*.scala", recursive=True))
    if not engine:
        raise SystemExit(f"build: no engine sources under {ENGINE}/; "
                         "run from the root of a graft checkout")
    return engine + sorted(glob.glob(f"{HARNESS}/*.scala"))


def classpath():
    return os.path.join(build_dir(), "classes") + os.pathsep + os.path.join(jar_dir(), "*")


def build():
    """Compile if needed; returns the classes directory."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    out = os.path.join(build_dir(), "classes")
    stamp_file = os.path.join(build_dir(), "classes.stamp")
    if os.path.isdir(out) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return out
    jars = jar_dir()
    tool = [glob.glob(os.path.join(jars, f"scala-{n}-2.13*.jar"))
            for n in ("compiler", "library", "reflect")]
    if not all(tool):
        raise SystemExit(f"build: no Scala 2.13 compiler jars in {jars}")
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.pathsep.join(t[0] for t in tool), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", os.path.join(jars, "*"), "-d", tmp] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return out


if __name__ == "__main__":
    print(build())
