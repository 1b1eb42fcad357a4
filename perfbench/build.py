"""Build file of the benchmark: compiles the library (`src/main/scala`) and
the benchmark harness (`perfbench/src`) from source with the Scala compiler
that ships in Spark's jar directory, into `.bench_build/classes`.

A stamp over every source file's path and bytes makes a rebuild free when
nothing changed. Also writes every key's oracle SQL to `.bench_build/oracle.json`.

    python3 perfbench/build.py          # from the repository root
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
ORACLE = os.path.join(BUILD, "oracle.json")

# Spark 4 on JDK 17 outside spark-submit needs these opens (the same list
# the repository's own build passes to forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the one beside a
    spark-submit on the PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.exists(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "spark-sql_*.jar")):
            return os.path.join(jars, "*")
    sys.exit("perfbench: no Spark jars found (set SPARK_HOME)")


def sources():
    lib = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(lib):
        sys.exit(f"perfbench: library sources not found at {lib}")
    files = []
    for d in (lib, os.path.join(HERE, "src")):
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(files)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def java_cmd(main, *args, tmp=os.path.join(BUILD, "tmp")):
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # a fixed heap: left to grow from its default start, G1 spent 2-4x the
    # GC time per pass and the run-to-run spread grew
    # no hsperfdata file in the system temp directory
    return ["java", "-Xms2g", "-Xmx2g", "-XX:-UsePerfData", *opens,
            f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.system.home={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false",
            "-cp", f"{CLASSES}{os.pathsep}{spark_jars()}", main, *args]


def build():
    files = sources()
    want = stamp(files)
    stamp_file = os.path.join(BUILD, "classes.stamp")
    if os.path.exists(stamp_file) and os.path.exists(ORACLE):
        with open(stamp_file) as f:
            if f.read() == want:
                return
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files) + "\n")
    jars = spark_jars()
    subprocess.run(["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", jars,
                    "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES,
                    "-classpath", jars, f"@{argfile}"],
                   check=True, stdout=sys.stderr)
    subprocess.run(java_cmd("perfbench.Harness", "--oracle", ORACLE),
                   check=True, stdout=sys.stderr)
    with open(stamp_file, "w") as f:
        f.write(want)


if __name__ == "__main__":
    build()
