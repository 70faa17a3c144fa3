"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark harness (perfbench/src) into one class directory, with the Scala
compiler that ships in Spark's jars directory. No other toolchain and no
dependency resolution is involved.

    python3 perfbench/build.py            # build (or reuse) and print the class dir

Output goes under $CARGO_TARGET_DIR if set, else .bench_build/ at the repo
root. A digest of every source file decides whether the classes are reused.
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]


class BuildError(Exception):
    pass


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def spark_jars():
    """The jars directory of the Spark install: $SPARK_HOME, else the one
    that holds the spark-submit on PATH."""
    homes = []
    if os.environ.get("SPARK_HOME"):
        homes.append(os.environ["SPARK_HOME"])
    submit = shutil.which("spark-submit")
    if submit:
        homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for home in homes:
        jars = os.path.join(home, "jars")
        if os.path.isdir(jars) and any(f.startswith("scala-compiler") for f in os.listdir(jars)):
            return jars
    raise BuildError("no Spark jars directory with a Scala compiler (set SPARK_HOME)")


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BuildError("no java found (set JAVA_HOME)")
    return exe


def sources():
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise BuildError("missing source directory %s" % os.path.relpath(d, ROOT))
    out = []
    for d in SOURCE_DIRS:
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(quiet=False):
    """Return (class dir, source digest), compiling when the sources changed."""
    files = sources()
    dig = digest(files)
    out = build_dir()
    classes = os.path.join(out, "classes")
    stamp = os.path.join(out, "classes.digest")
    if os.path.isdir(classes) and os.path.exists(stamp) and open(stamp).read().strip() == dig:
        return classes, dig
    os.makedirs(out, exist_ok=True)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cp = os.path.join(spark_jars(), "*")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile]
    if not quiet:
        print("building %d sources into %s" % (len(files), os.path.relpath(classes, ROOT)), file=sys.stderr)
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp, "w") as fh:
        fh.write(dig + "\n")
    return classes, dig


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print("build failed: %s" % e, file=sys.stderr)
        sys.exit(2)
