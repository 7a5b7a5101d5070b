"""Build file of the benchmark: compiles the engine sources
(`src/main/scala`) together with the benchmark's own (`perfbench/src`) with
the Scala compiler that ships among the Spark jars, into
`.bench_build/classes-<hash>`. The hash covers every source file, so an
unchanged checkout compiles once.

    python3 perfbench/build.py      # compile only
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

# C1 only: one run is far too short for C2 to reach a steady state, and its
# background compilation on the same cores as Spark's task threads made the
# run-to-run spread several times wider. C1-only mode shrinks the code cache
# to 48 MB, which the code Spark generates for the operator queries fills:
# the JVM then stops compiling, or fails a task outright, so the cache is
# set back to its usual size. No perf-data file: the benchmark writes
# nothing outside its checkout.
JVM_OPTS = ["-Xmx3g", "-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=240m", "-XX:-UsePerfData"]
JVM_OPENS = [x for p in [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def spark_jars(root):
    """The Spark jar directory the engine's sbt build compiles against
    (its `unmanagedBase`), or `$SPARK_HOME/jars`."""
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    d = m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not glob.glob(os.path.join(d, "spark-core_*.jar")):
        sys.exit(f"no Spark jars in {d}")
    return d


def sources(root):
    return sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"), recursive=True) +
                  glob.glob(os.path.join(root, "perfbench", "src", "*.scala")))


def build(root, out):
    """Compile if needed; returns (classes dir, jar dir)."""
    jars = spark_jars(root)
    srcs = sources(root)
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    classes = os.path.join(out, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(classes, ".done")):
        return classes, jars
    for old in glob.glob(os.path.join(out, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(classes)
    compiler = [os.path.join(jars, j) for j in os.listdir(jars)
                if re.match(r"scala-(compiler|library|reflect)-2\.13\.\d+\.jar$", j)]
    cp = ":".join(sorted(glob.glob(os.path.join(jars, "*.jar"))))
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", ":".join(compiler),
                        "scala.tools.nsc.Main",
                        "-nowarn", "-classpath", cp, "-d", classes, "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(classes, ignore_errors=True)
        sys.exit("compile failed:\n" + r.stdout[-4000:])
    open(os.path.join(classes, ".done"), "w").close()
    return classes, jars


if __name__ == "__main__":
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    print(build(root, os.path.join(root, ".bench_build"))[0])
