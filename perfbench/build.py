"""Build file of the benchmark: compiles the program's main sources together
with the benchmark's own Scala sources into one class directory.

It calls the Scala compiler that ships in Spark's jar directory directly
(the same jars `build.sbt` compiles against), so a build needs no sbt state
and writes only into the build directory. A stamp of the source contents
names the class directory, so a build is reused whenever its sources come
back (an A/B alternating two trees compiles each once); all but the two
newest builds are removed.

Usage: python3 perfbench/build.py   (builds into .bench_build/perfbench)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def spark_jars():
    home = os.environ.get("SPARK_HOME", "/opt/spark")
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"no Scala compiler under {jars}; set SPARK_HOME")
    return jars


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not main:
        raise SystemExit(f"no program sources under {ROOT}/src/main/scala")
    own = sorted(glob.glob(os.path.join(BENCH, "src", "**", "*.scala"), recursive=True))
    return main + own


def build(build_dir):
    """Compile if needed; returns the runtime classpath."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256(jars.encode())
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()[:16]
    classes = os.path.join(build_dir, "classes", stamp)
    cp = f"{classes}{os.pathsep}{jars}/*"
    if os.path.isdir(classes):
        os.utime(classes)
        return cp
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(build_dir, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", tmp, f"@{args_file}"]
    print(f"[perfbench] compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"compile failed ({r.returncode})")
    os.rename(tmp, classes)
    root = os.path.dirname(classes)
    for old in sorted(os.listdir(root), key=lambda d: os.path.getmtime(os.path.join(root, d)))[:-2]:
        shutil.rmtree(os.path.join(root, old), ignore_errors=True)
    return cp


if __name__ == "__main__":
    d = os.path.join(ROOT, ".bench_build", "perfbench")
    os.makedirs(d, exist_ok=True)
    print(build(d))
