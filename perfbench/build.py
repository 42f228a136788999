#!/usr/bin/env python3
"""Build file of the graft benchmark.

Compiles the program (src/main/scala) together with the benchmark's own
sources (perfbench/scala) with the Scala compiler that ships in the Spark
distribution, then writes the board's fixed input tier. Outputs go under
.bench_build/ in the checkout root, keyed by a hash of the sources, so an
unchanged tree is built once.

    python3 perfbench/build.py        # from the checkout root

Spark is found through $SPARK_HOME, else through `spark-submit` on PATH.
"""
import fcntl
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

BUILD_DIR = ".bench_build"

# Spark 4 on JDK 17 outside spark-submit needs these (the same list as the
# program's build.sbt, from org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError("no Spark distribution with a Scala compiler: set SPARK_HOME")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BuildError("no java: set JAVA_HOME or put java on PATH")
    return exe


def jvm_opts():
    opts = []
    for p in ADD_OPENS:
        opts += ["--add-opens", p + "=ALL-UNNAMED"]
    return opts + ["-XX:-UsePerfData", "-Dspark.ui.enabled=false",
                   "-Dspark.sql.session.timeZone=UTC"]


def _digest(paths, root):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def _sources(root):
    prog = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(root, "perfbench/scala/**/*.scala"), recursive=True))
    if not prog or not bench:
        raise BuildError("program or benchmark sources missing under " + root)
    return prog + bench


def _run(what, cmd, log, timeout):
    with open(log, "w") as f:
        r = subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT, timeout=timeout)
    if r.returncode != 0:
        with open(log) as f:
            tail = f.read()[-4000:]
        raise BuildError(f"{what} failed ({r.returncode}):\n{tail}")


def _jar(classes, resources, out):
    tmp = out + ".tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_STORED) as z:
        for base in (classes, resources):
            for d, _, files in sorted(os.walk(base)):
                for f in sorted(files):
                    p = os.path.join(d, f)
                    z.write(p, os.path.relpath(p, base))
    os.replace(tmp, out)


def ensure(root, cores):
    """Build what is missing; returns (classpath, JVM flags, tier_dir).

    The build is: compile, jar the classes with the program's resources, then
    one JVM run that writes the board's tier and dumps a class-data-sharing
    archive, which later runs map instead of loading Spark's classes anew."""
    jars = spark_jars()
    sources = _sources(root)
    build = os.path.join(root, BUILD_DIR)
    os.makedirs(build, exist_ok=True)
    resources = os.path.join(root, "src/main/resources")
    with open(os.path.join(build, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        out = os.path.join(build, "b-" + _digest(sources, root))
        jar, cds, tier = (os.path.join(out, n) for n in ("bench.jar", "classes.jsa", "tier"))
        cp = jar + ":" + jars + "/*"
        if not os.path.exists(os.path.join(out, ".done")):
            for old in glob.glob(os.path.join(build, "b-*")):
                shutil.rmtree(old, ignore_errors=True)
            classes = os.path.join(out, "classes")
            os.makedirs(classes)
            _run("compile", [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars + "/*",
                             "scala.tools.nsc.Main", "-nowarn", "-d", classes, "-cp", jars + "/*"]
                 + sources, os.path.join(build, "compile.log"), 600)
            _jar(classes, resources, jar)
            tmp = os.path.join(out, "tmp")
            os.makedirs(tmp)
            _run("tier generation", [java(), "-Xmx3g", "-XX:ArchiveClassesAtExit=" + cds]
                 + jvm_opts() + ["-Djava.io.tmpdir=" + tmp, "-Dspark.local.dir=" + tmp,
                                 "-cp", cp, "perfbench.Tier", tier, str(cores)],
                 os.path.join(build, "tier.log"), 600)
            shutil.rmtree(tmp, ignore_errors=True)
            open(os.path.join(out, ".done"), "w").close()
    flags = ["-XX:SharedArchiveFile=" + cds] if os.path.exists(cds) else []
    return cp, flags, tier


if __name__ == "__main__":
    try:
        cp, flags, tier = ensure(os.getcwd(), len(os.sched_getaffinity(0)))
    except BuildError as e:
        sys.exit(f"build failed: {e}")
    print(f"classpath {cp}\njvm flags {' '.join(flags)}\ntier {tier}")
