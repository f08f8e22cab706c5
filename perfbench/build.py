"""Builds the program (src/main/scala) together with the benchmark's JVM
side (perfbench/src) with the Scala compiler shipped in the Spark
distribution, the same jars the repo's build.sbt compiles against. The
classes are rebuilt only when a source file or the compiler changes."""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))

# The module opens Spark 4 needs on JDK 17 outside spark-submit, as in
# build.sbt (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME/jars, else the jars next
    to the `spark-submit` on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    if not home:
        raise SystemExit("perfbench: set SPARK_HOME to the Spark distribution")
    return os.path.join(home, "jars")


def sources(root):
    main = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(main):
        raise SystemExit(f"perfbench: no program sources at {main}")
    found = []
    for base in (main, os.path.join(HERE, "src")):
        found += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    return sorted(found)


def compiler_jars(spark):
    jars = [glob.glob(os.path.join(spark, f"scala-{m}-2.13.*.jar"))
            for m in ("compiler", "library", "reflect")]
    if not all(len(j) == 1 for j in jars):
        raise SystemExit(f"perfbench: no Scala 2.13 compiler in {spark}")
    return [j[0] for j in jars]


def build(root, out):
    """Returns the classpath to run graft.perfbench.Harness with."""
    srcs = sources(root)
    spark = spark_jars()
    jars = compiler_jars(spark)
    h = hashlib.sha256()
    for p in srcs + jars:
        h.update(os.path.relpath(p, root).encode() + b"\0")
        if p in srcs:
            with open(p, "rb") as f:
                h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "classes.stamp")
    cp = f"{classes}:{spark}/*"
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return cp
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", ":".join(jars),
         "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
         "-classpath", f"{spark}/*", "@" + argfile],
        check=True, stdout=sys.stderr)
    shutil.rmtree(classes, ignore_errors=True)
    os.replace(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp
