"""Builds what a benchmark run needs, once per source state.

- Compiles the engine (`src/main/scala`) together with the benchmark's own
  Scala sources (`perfbench/src`) with the Scala compiler that ships in the
  Spark distribution's jars, and packs the classes and the engine's
  resources into `<out>/perfbench.jar`.
- Generates the registry's fixture tables (`datagen.py`, fixed seed) into
  `<out>/data/sf<SF>`.

Each product is stamped with a hash of its inputs and rebuilt only when
they change.

Usage: python3 perfbench/build.py [OUT_DIR]   (default .bench_build/perfbench)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEFAULT_OUT = os.path.join(ROOT, ".bench_build", "perfbench")
SF = "0.01"

sys.path.insert(0, HERE)
import datagen  # noqa: E402


def spark_jars():
    """The jars of the Spark distribution named by SPARK_HOME or, when it is
    unset, of the first one whose bin directory is on PATH."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else \
        [os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep) if d]
    for home in homes:
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "spark-core_*.jar")):
            return jars
    sys.exit("perfbench: set SPARK_HOME to a Spark distribution")


def _digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _fresh(stamp_file, digest):
    try:
        with open(stamp_file) as f:
            return f.read() == digest
    except OSError:
        return False


def _stamp(stamp_file, digest):
    with open(stamp_file, "w") as f:
        f.write(digest)


def compile_jar(out, jars):
    """Returns the path of the jar, rebuilt if its sources changed."""
    resources = os.path.join(ROOT, "src/main/resources")
    sources = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True)) + \
        sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    jar = os.path.join(out, "perfbench.jar")
    digest = _digest(sources + sorted(p for p in glob.glob(os.path.join(resources, "**/*"), recursive=True)
                                      if os.path.isfile(p)))
    if _fresh(jar + ".stamp", digest):
        return jar
    classes = os.path.join(out, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cp = os.path.join(jars, "*")
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(sources))
    subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
                    "-nowarn", "-d", classes, "-cp", cp, "@" + argfile], check=True, stdout=sys.stderr)
    with zipfile.ZipFile(jar, "w") as z:
        for base in (classes, resources):
            for path in sorted(glob.glob(os.path.join(base, "**/*"), recursive=True)):
                if os.path.isfile(path):
                    z.write(path, os.path.relpath(path, base))
    shutil.rmtree(classes)
    _stamp(jar + ".stamp", digest)
    return jar


def generate_data(out):
    data = os.path.join(out, "data", "sf" + SF)
    digest = _digest([os.path.join(HERE, "datagen.py")]) + SF
    if _fresh(data + ".stamp", digest):
        return data
    shutil.rmtree(data, ignore_errors=True)
    datagen.write(data, float(SF))
    _stamp(data + ".stamp", digest)
    return data


def ensure(out=DEFAULT_OUT):
    """Returns (classpath, fixture dir), building whatever is stale."""
    os.makedirs(out, exist_ok=True)
    jars = spark_jars()
    jar = compile_jar(out, jars)
    return os.pathsep.join([jar, os.path.join(jars, "*")]), generate_data(out)


if __name__ == "__main__":
    print(ensure(sys.argv[1] if len(sys.argv) > 1 else DEFAULT_OUT))
