"""Build file of the product-path benchmark.

Compiles the program's main sources (src/main/scala) together with the
benchmark harness (perfbench/src) into one class directory, with the Scala
compiler that ships in Spark's jar directory ($SPARK_HOME/jars). A stamp
over every source file skips the compile when nothing changed.

    python3 perfbench/build.py [build-dir]
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    home = os.environ.get("SPARK_HOME", "")
    jars = os.path.join(home, "jars")
    if not home or not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise SystemExit("perfbench: set SPARK_HOME to a Spark install with jars/")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise SystemExit("perfbench: no program sources at src/main/scala")
    files = []
    for base in (main, os.path.join(HERE, "src")):
        files += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    return sorted(files)


def stamp(files):
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(build_dir):
    """Returns the run classpath, compiling first when the sources changed."""
    jars = spark_jars()
    files = sources()
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "classes.stamp")
    want = stamp(files)
    have = open(stamp_file).read() if os.path.exists(stamp_file) else ""
    if want != have:
        tmp = classes + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        compiler = [os.path.join(jars, j) for j in
                    ("scala-compiler-*.jar", "scala-library-*.jar", "scala-reflect-*.jar")]
        compiler = [sorted(glob.glob(p))[0] for p in compiler]
        subprocess.run(
            [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
             "-Djava.io.tmpdir=" + build_dir, "-cp", os.pathsep.join(compiler),
             "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
             "-classpath", os.path.join(jars, "*")] + files,
            check=True, stdout=sys.stderr)
        shutil.rmtree(classes, ignore_errors=True)
        os.rename(tmp, classes)
        with open(stamp_file, "w") as fh:
            fh.write(want)
    return os.pathsep.join([classes, os.path.join(jars, "*")])


if __name__ == "__main__":
    out = sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, ".bench_build")
    os.makedirs(out, exist_ok=True)
    print(build(out))
