"""Build file of the benchmark: compiles the engine's sources together with
the harness in ``perfbench/scala`` into one class directory, with the Scala
compiler that ships in Spark's jar directory (``$SPARK_HOME/jars``).

    python3 perfbench/build.py          # from the repository root

The output goes to ``$CARGO_TARGET_DIR`` (default ``.bench_build``) and is
reused while no source file changes.
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not os.path.isdir(jars):
        raise SystemExit("build: Spark's jar directory not found "
                         "(set SPARK_HOME)")
    return jars


def sources(root):
    engine = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**",
                                           "*.scala"), recursive=True))
    if not engine:
        raise SystemExit(f"build: no engine sources under {root}/src/main/scala")
    return engine + sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))


def build(root, out_root):
    """Returns the class directory, compiling first if a source changed."""
    srcs = sources(root)
    jars = spark_jars()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()[:16]
    classes = os.path.join(out_root, "classes-" + stamp)
    if os.path.exists(os.path.join(classes, ".ok")):
        return classes
    for old in glob.glob(os.path.join(out_root, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(classes)
    compiler = [glob.glob(os.path.join(jars, f"scala-{p}-2.13*.jar"))[0]
                for p in ("compiler", "library", "reflect")]
    cp = ":".join(sorted(glob.glob(os.path.join(jars, "*.jar"))))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g",
           "-cp", ":".join(compiler), "scala.tools.nsc.Main", "-nowarn", "-classpath", cp,
           "-d", classes] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        shutil.rmtree(classes, ignore_errors=True)
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("build: scalac failed")
    open(os.path.join(classes, ".ok"), "w").close()
    return classes


if __name__ == "__main__":
    print(build(os.getcwd(), os.path.abspath(
        os.environ.get("CARGO_TARGET_DIR", ".bench_build"))))
