"""Build file of the benchmark: compiles the repository's main sources and the
benchmark's own Scala sources with the Scala compiler that ships in Spark's
jar directory, into `.bench_build/pipebench/classes` under the checkout.

The build is skipped when no source changed since the last one.
Run it alone with `python3 pipebench/build.py` from the checkout root.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
SOURCES = ["src/main/scala", os.path.relpath(os.path.join(HERE, "src"))]


def spark_jars():
    """Spark's jar directory: `$SPARK_HOME/jars`, else the one next to the
    `spark-submit` on PATH."""
    homes = [os.environ.get("SPARK_HOME")]
    if shutil.which("spark-submit"):
        homes.append(os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit")))))
    for home in filter(None, homes):
        if glob.glob(os.path.join(home, "jars", "spark-core_*.jar")):
            return os.path.join(home, "jars")
    raise SystemExit("pipebench: no Spark jars; set SPARK_HOME")


def build_dir(root):
    return os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "pipebench")


def sources(root):
    return sorted(f for d in SOURCES
                  for f in glob.glob(os.path.join(root, d, "**", "*.scala"), recursive=True))


def ensure(root, log=sys.stderr):
    """Returns the class directory, compiling first if any source changed."""
    out = build_dir(root)
    classes = os.path.join(out, "classes")
    srcs = sources(root)
    stamp = hashlib.sha1()
    for f in srcs:
        st = os.stat(f)
        stamp.update(f"{f}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    stamp = stamp.hexdigest()
    stamp_file = os.path.join(out, "stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return classes
    jars = spark_jars()
    compiler = [glob.glob(os.path.join(jars, f"scala-{n}-2.13.*.jar"))
                for n in ("compiler", "library", "reflect")]
    if not all(compiler):
        raise SystemExit(f"no Scala 2.13 compiler jars in {jars}")
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args = os.path.join(out, "sources.txt")
    with open(args, "w") as f:
        f.write("\n".join(srcs))
    print(f"pipebench: compiling {len(srcs)} sources", file=log, flush=True)
    subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", ":".join(c[0] for c in compiler),
         "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp,
         "-classpath", os.path.join(jars, "*"), "@" + args],
        check=True, stdout=log, stderr=log)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


if __name__ == "__main__":
    print(ensure(os.getcwd(), sys.stdout))
