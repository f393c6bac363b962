"""Build file of the benchmark package.

Compiles the program (`src/main/scala`) together with the benchmark's own
JVM sources (`perfbench/src`) with the Scala compiler that ships in the
Spark distribution, into `.bench_build/perfbench/classes` under the
checkout. A stamp of the sources' contents skips the compile when nothing
changed. Run directly to build only:

    python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")


def spark_jars():
    """The jars of the Spark distribution at `$SPARK_HOME`, or else those
    the `pyspark` package ships."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        import pyspark
        home = os.path.dirname(pyspark.__file__)
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
    if not jars:
        raise RuntimeError(f"no Spark jars under {home}")
    return jars


def sources():
    found = []
    for base in ("src/main/scala", "perfbench/src"):
        for dirpath, _, files in os.walk(os.path.join(ROOT, base)):
            found += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def build():
    """Compiles when needed; returns the run classpath as a list."""
    srcs = sources()
    if not any(s.startswith(os.path.join(ROOT, "src", "main", "scala")) for s in srcs):
        raise RuntimeError("program sources (src/main/scala) not found")
    jars = spark_jars()
    digest = hashlib.sha256()
    for s in srcs:
        digest.update(s[len(ROOT):].encode())
        with open(s, "rb") as f:
            digest.update(f.read())
    stamp_file = os.path.join(OUT, "stamp")
    classes = os.path.join(OUT, "classes")
    stamp = digest.hexdigest()
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == stamp):
        shutil.rmtree(classes, ignore_errors=True)
        os.makedirs(classes)
        cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
               "-cp", os.pathsep.join(jars), "scala.tools.nsc.Main",
               "-usejavacp", "-nowarn", "-d", classes] + srcs
        done = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                              text=True)
        if done.returncode != 0:
            sys.stderr.write(done.stdout[-4000:])
            raise RuntimeError("compile failed")
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return [classes] + jars


if __name__ == "__main__":
    build()
