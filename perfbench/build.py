"""Build file of the benchmark: compiles the program (`src/main/scala`)
and the JVM harness (`perfbench/harness`) with the Scala compiler that
ships among the Spark jars, into jars under `.bench_build/classes`, then
dumps a JVM class-data archive from a short training run
(`perfbench.Train`), which every measured run maps. A stamp of every
source's bytes skips the build when nothing changed.

The Spark jar directory is the one the repo's `build.sbt` names as
`unmanagedBase` (or `$SPARK_HOME/jars` when set), so the benchmark
compiles against exactly what the program's own build uses.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

# the module opens build.sbt gives its forked JVMs: Spark on JDK 17 needs them
JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
# flags of every harness JVM; the training run and the measured runs must
# share them, or a run cannot map the archive
JVM_FLAGS = ["-Xmx2g", "-XX:+UseParallelGC", "-XX:-UsePerfData", *JVM_OPENS,
             "-Dlog4j2.configurationFile=" + os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                                          "harness", "log4j2.properties")]


def archive(root):
    return os.path.join(root, ".bench_build", "classes", "app.jsa")


def spark_jars(root):
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        sys.exit("build.sbt names no unmanagedBase; set SPARK_HOME")
    return m.group(1)


def sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def scalac(jars, classpath, dest, files):
    os.makedirs(dest, exist_ok=True)
    args = dest + ".args"
    with open(args, "w") as f:
        f.write("\n".join(["-nowarn", "-d", dest, "-cp", classpath] + files))
    subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
                    "scala.tools.nsc.Main", "@" + args], check=True,
                   stdout=sys.stderr)


def build(root):
    """Compile if needed; return the run classpath."""
    prog_src = os.path.join(root, "src", "main", "scala")
    harness_src = os.path.join(root, "perfbench", "harness")
    prog, harness = sources(prog_src), sources(harness_src)
    if not prog or not harness:
        sys.exit(f"no program sources under {prog_src} or no harness under {harness_src}")
    jars = spark_jars(root)
    out = os.path.join(root, ".bench_build", "classes")
    h = hashlib.sha256(jars.encode())
    for f in prog + harness:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(out, "stamp")
    jar_cp = os.path.join(jars, "*")
    cp = os.pathsep.join([os.path.join(out, "harness.jar"), os.path.join(out, "program.jar"), jar_cp])
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return cp
    shutil.rmtree(out, ignore_errors=True)
    scalac(jars, jar_cp, os.path.join(out, "program"), prog)
    scalac(jars, os.pathsep.join([os.path.join(out, "program"), jar_cp]),
           os.path.join(out, "harness"), harness)
    for name in ("program", "harness"):
        jar(os.path.join(out, name), os.path.join(out, f"{name}.jar"))
    train = os.path.join(out, "train")
    os.makedirs(train)
    subprocess.run(["java", *JVM_FLAGS, f"-XX:ArchiveClassesAtExit={archive(root)}",
                    f"-Djava.io.tmpdir={train}", "-cp", cp, "perfbench.Train", train],
                   check=True, stdout=sys.stderr, timeout=300)
    shutil.rmtree(train)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return cp


def jar(classes, dest):
    """Classes directory -> jar (a class-data archive accepts jars only)."""
    with zipfile.ZipFile(dest, "w", zipfile.ZIP_STORED) as z:
        for d, _, files in sorted(os.walk(classes)):
            for f in sorted(files):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, classes))


if __name__ == "__main__":
    print(build(os.getcwd()))
