"""Build file of the benchmark: compiles the engine sources and the
benchmark harness from source with the Scala compiler that ships among the
Spark jars the engine's build.sbt names as its `unmanagedBase`, packs the
classes into one jar, and dumps a class-data-sharing archive of the classes
a Spark session loads, so that every run's JVM starts from it.

    python3 benchmark/build.py      # prints the build directory

Outputs go under `.bench_build/` at the repo root, keyed by a hash of every
source file, so an unchanged tree is built once.
"""
import hashlib
import os
import re
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))

# Spark on JDK 17 needs these when the session is created outside
# spark-submit; the same list the engine's build.sbt passes to forked runs.
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


class BuildError(Exception):
    pass


class Build:
    """One built source tree: `id` names it, `classpath` runs it, and
    `archive` is its class-data-sharing archive."""

    def __init__(self, out, jars):
        self.id = os.path.basename(out)
        self.jar = os.path.join(out, "graftbench.jar")
        self.archive = os.path.join(out, "classes.jsa")
        self.classpath = os.pathsep.join([self.jar, os.path.join(jars, "*")])


def jvm_flags():
    """JVM options of every benchmark JVM. The archive is only used by a JVM
    started with the options it was dumped with, so both share this list.
    -UsePerfData: the JVM would otherwise write its perf file outside the
    checkout. A fixed-size heap: with a growable one the peak RSS follows the
    collector's sizing decisions more than the workload."""
    flags = ["-XX:-UsePerfData", "-Xms1g", "-Xmx1g", "-Xss8m"]
    for p in ADD_OPENS:
        flags += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return flags


def spark_jars(root):
    """The jar directory from the engine's build.sbt `unmanagedBase`."""
    sbt = os.path.join(root, "build.sbt")
    if not os.path.isfile(sbt):
        raise BuildError(f"no build.sbt at {root}: not an engine checkout")
    with open(sbt) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m or not os.path.isdir(m.group(1)):
        raise BuildError("build.sbt names no readable unmanagedBase jar directory")
    return m.group(1)


def sources(root):
    out = []
    for base in (os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "scala")):
        if not os.path.isdir(base):
            raise BuildError(f"missing source directory {base}")
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def _run(cmd, what, cwd=None, env=None):
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=800, cwd=cwd, env=env)
    if r.returncode != 0:
        raise BuildError(f"{what} failed:\n" + r.stdout[-4000:])


def build(root):
    """Compile, pack and archive if needed; return the Build."""
    jars = spark_jars(root)
    srcs = sources(root)
    h = hashlib.sha256(jars.encode())
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    base = os.path.join(root, ".bench_build")
    # built in place: the archive records the jar's path
    out = os.path.join(base, "build-" + h.hexdigest()[:16])
    b = Build(out, jars)
    done = os.path.join(out, ".complete")
    if os.path.exists(done):
        return b
    os.makedirs(base, exist_ok=True)
    for old in os.listdir(base):  # this and earlier source trees' builds
        if old.startswith("build-"):
            subprocess.run(["rm", "-rf", os.path.join(base, old)], check=True)
    classes = os.path.join(out, "classes")
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    _run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
          "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes, "@" + argfile],
         "scalac")
    with zipfile.ZipFile(b.jar, "w") as z:
        for d, _, files in os.walk(classes):
            for f in sorted(files):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, classes))
    subprocess.run(["rm", "-rf", classes, argfile], check=True)
    work = os.path.join(out, "archive-run")
    os.makedirs(work)
    _run(["java"] + jvm_flags() + [f"-XX:ArchiveClassesAtExit={b.archive}",
          f"-Djava.io.tmpdir={work}", f"-Dspark.local.dir={work}",
          f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
          "-Dspark.ui.enabled=false",
          f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
          "-cp", b.classpath, "graftbench.ArchiveRun", work], "class archive run", cwd=work,
         env=dict(os.environ, GRAFTRC=os.path.join(work, "graftrc"), SPARK_LOCAL_IP="127.0.0.1"))
    subprocess.run(["rm", "-rf", work], check=True)
    if not os.path.isfile(b.archive):
        raise BuildError("the class archive run wrote no archive")
    open(done, "w").close()
    return b


if __name__ == "__main__":
    try:
        b = build(os.path.dirname(HERE))
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
    print(os.path.dirname(b.jar))
