"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark code (perfbench/src) with the Scala compiler that ships in
Spark's jars, into the checkout's build directory. A rebuild happens only
when a source file changes.

    python3 perfbench/build.py        # prints the classes directory
"""
import glob
import hashlib
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(ROOT, d) if not os.path.isabs(d) else d


def spark_jars():
    """Spark's jars directory: $SPARK_HOME/jars, else that of an
    installation whose `bin/spark-submit` is on PATH."""
    homes = [os.environ.get("SPARK_HOME")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        if os.path.isfile(submit):
            homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for home in homes:
        if home and glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
            return os.path.join(home, "jars")
    raise SystemExit("perfbench: no Spark installation with a Scala compiler found "
                     "(set SPARK_HOME)")


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not prog:
        raise SystemExit("perfbench: no program sources under src/main/scala")
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return prog + bench


def build():
    """Returns the classes directory, compiling first if any source changed."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    out = os.path.join(build_dir(), "classes")
    stamp_file = os.path.join(build_dir(), "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out
    jars = spark_jars()
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    subprocess.run(["rm", "-rf", out], check=True)
    os.makedirs(out)
    argfile = os.path.join(build_dir(), "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(jars, "*")
    log = os.path.join(build_dir(), "build.log")
    with open(log, "w") as lf:
        r = subprocess.run(
            ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
             "-d", out, "-classpath", cp, "@" + argfile],
            stdout=lf, stderr=subprocess.STDOUT, timeout=800)
    if r.returncode != 0:
        sys.stderr.write(open(log).read()[-4000:])
        raise SystemExit("perfbench: build failed, see " + log)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return out


if __name__ == "__main__":
    print(build())
