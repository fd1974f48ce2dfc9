"""Builds the benchmark: graft's main sources plus the benchmark's own Scala
harness, compiled with the Scala compiler that ships with Spark into
.bench_build/classes. A digest of the sources skips rebuilding an
unchanged tree. Run directly (`python3 perfbench/build.py`) or through run.py.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars(root):
    """The Spark jar directory: $SPARK_HOME/jars, else the one the repo's
    own sbt build declares as its unmanaged base."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        raise RuntimeError("set SPARK_HOME: no Spark jar directory found")
    return m.group(1)


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    own = sorted(glob.glob(os.path.join(HERE, "scala", "**", "*.scala"), recursive=True))
    return main, own


def digest(root, paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(root, build_dir):
    """Returns (classes directory, Spark jar directory); raises
    RuntimeError when the tree has no graft sources or the compiler fails."""
    main, own = sources(root)
    if not main:
        raise RuntimeError("no graft sources under src/main/scala: nothing to benchmark")
    jars = spark_jars(root)
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise RuntimeError(f"no Scala compiler among the Spark jars in {jars}")
    classes = os.path.join(build_dir, "classes")
    stamp = os.path.join(build_dir, "classes.digest")
    want = digest(root, main + own)
    if os.path.exists(stamp) and open(stamp).read() == want:
        return classes, jars
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    tmp = os.path.join(build_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx2g", "-Xss16m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-classpath", classes, "-nowarn", "-d", classes] + main + own
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise RuntimeError("compilation failed")
    with open(stamp, "w") as f:
        f.write(want)
    return classes, jars


if __name__ == "__main__":
    root = os.getcwd()
    print(build(root, os.path.join(root, ".bench_build"))[0])
