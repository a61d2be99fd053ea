"""Build file of the benchmark package: compiles the program's sources
(src/main/scala) together with the benchmark's own (framesbench/src) with
the Scala compiler that ships in the Spark install, into a directory
keyed by a hash of every source file, so an unchanged tree is not rebuilt.

Usage (from the repository root): python3 framesbench/build.py
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


class BuildError(Exception):
    pass


def spark_jars(root="."):
    """The jars the program compiles against: build.sbt's unmanagedBase,
    else $SPARK_HOME/jars."""
    jars = os.path.join(os.environ.get("SPARK_HOME", "."), "jars")
    sbt = os.path.join(root, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            jars = m.group(1)
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError(f"no Spark jars with a Scala compiler under {jars}")
    return jars


def sources(root):
    prog = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not prog:
        raise BuildError(f"no program sources under {root}/src/main/scala")
    own = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    return prog + own


def build_dir():
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def build(root):
    """Compiled classes directory for the tree at `root` (built if needed)."""
    srcs = sources(root)
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    out = os.path.join(build_dir(), "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".ok")):
        return out
    jars = spark_jars(root)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    open(os.path.join(tmp, ".ok"), "w").close()
    for old in glob.glob(os.path.join(build_dir(), "classes-*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    try:
        print(build(os.getcwd()))
    except BuildError as e:
        sys.exit(f"build failed: {e}")
