"""Build file of the benchmark: compiles the engine (`src/main/scala`) and
the benchmark's own Scala sources (`perfbench/src`) with the Scala compiler
that ships in the Spark distribution, into `<build_dir>/classes`.

A stamp of the source digest skips the compile when nothing changed.

Usage: python3 perfbench/build.py [build_dir]
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPARK_JARS = os.environ.get("SPARK_JARS", "/opt/spark/jars")
CLASSPATH = os.path.join(SPARK_JARS, "*")


class BuildError(Exception):
    pass


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    own = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    if not main:
        raise BuildError("no engine sources under src/main/scala")
    if not own:
        raise BuildError("no benchmark sources under perfbench/src")
    return main + own


def resources():
    return os.path.join(ROOT, "src", "main", "resources")


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def source_digest():
    """Digest of the engine sources alone: the provenance of a result."""
    return digest([f for f in sources() if not f.startswith(HERE)])


def build(build_dir):
    """Compile if needed; return the runtime classpath."""
    files = sources()
    stamp = digest(files)
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return runtime_classpath(classes)
    if not glob.glob(os.path.join(SPARK_JARS, "scala-compiler-*.jar")):
        raise BuildError(f"no Scala compiler in {SPARK_JARS}")
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(build_dir, "scalac.args")
    with open(args_file, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", CLASSPATH, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", CLASSPATH, "@" + args_file]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    if os.path.isdir(resources()):
        shutil.copytree(resources(), tmp, dirs_exist_ok=True)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return runtime_classpath(classes)


def runtime_classpath(classes):
    return classes + os.pathsep + CLASSPATH


if __name__ == "__main__":
    out = sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, ".bench_build")
    os.makedirs(out, exist_ok=True)
    print(build(out))
