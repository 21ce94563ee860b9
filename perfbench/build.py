"""Build file of the benchmark package.

Compiles the program (`src/main/scala`, plus `src/main/resources`) and the
harness (`perfbench/scala`) with the Scala compiler that ships among
Spark's jars, into `<build dir>/classes` and `<build dir>/harness`. A
stamp over every source file skips the build when nothing changed.

Run alone: python3 perfbench/build.py [build dir]
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys


def spark_jars(root):
    """`$SPARK_HOME/jars`, else the jar directory the program's build names."""
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(root, "build.sbt")) as f:
        return re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read()).group(1)


def _sources(root, rel):
    return sorted(glob.glob(os.path.join(root, rel, "**", "*.scala"), recursive=True))


def _scalac(jars, out_dir, classpath, sources):
    os.makedirs(out_dir)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars,
           "scala.tools.nsc.Main", "-nowarn", "-d", out_dir, "-classpath", classpath,
           *sources]
    subprocess.run(cmd, check=True, timeout=800)


def ensure(root, build_dir):
    """Build if needed; return the runtime classpath."""
    program = _sources(root, "src/main/scala")
    if not program:
        raise FileNotFoundError(f"no program sources under {root}/src/main/scala")
    harness = _sources(root, "perfbench/scala")
    resources = os.path.join(root, "src/main/resources")
    h = hashlib.sha256()
    for f in program + harness + sorted(glob.glob(f"{resources}/**", recursive=True)):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    stamp = h.hexdigest()
    classes = os.path.join(build_dir, "classes")
    harness_out = os.path.join(build_dir, "harness")
    stamp_file = os.path.join(build_dir, "build.stamp")
    jars = os.path.join(spark_jars(root), "*")
    classpath = os.pathsep.join([harness_out, classes, jars])
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classpath
    for d in (classes, harness_out):
        shutil.rmtree(d, ignore_errors=True)
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    _scalac(jars, classes, jars, program)
    if os.path.isdir(resources):
        shutil.copytree(resources, classes, dirs_exist_ok=True)
    _scalac(jars, harness_out, os.pathsep.join([classes, jars]), harness)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath


if __name__ == "__main__":
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    print(ensure(repo, sys.argv[1] if len(sys.argv) > 1 else os.path.join(repo, ".bench_build")))
