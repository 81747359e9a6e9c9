"""Build file of the benchmark: compiles the engine (`src/main/scala`)
together with the harness (`perfbench/src`) with the Scala compiler
shipped in Spark's jars, into `.bench_build/classes`.

Usage: python3 perfbench/build.py   (from the repository root)

A build is skipped when the sources are unchanged since the last one.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else ""
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
    if not jars:
        raise BuildError("no Spark jars found: set SPARK_HOME")
    return jars


def sources(root=ROOT):
    engine = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    if not engine:
        raise BuildError(f"no engine sources under {os.path.join(root, 'src', 'main', 'scala')}")
    harness = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return engine + harness


def build(root=ROOT):
    """Returns the classes directory, compiling first if needed."""
    srcs = sources(root)
    jars = spark_jars()
    digest = hashlib.sha256()
    for p in srcs + jars:
        digest.update(p.encode())
        if p.endswith(".scala"):
            with open(p, "rb") as f:
                digest.update(f.read())
    stamp = digest.hexdigest()
    out_root = os.path.join(root, ".bench_build")
    classes = os.path.join(out_root, "classes")
    stamp_file = os.path.join(out_root, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    args_file = os.path.join(out_root, "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join(["-d", classes, "-nowarn", "-classpath", os.pathsep.join(jars)] + srcs))
    proc = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
         "scala.tools.nsc.Main", "@" + args_file],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
