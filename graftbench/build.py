#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft's main sources together
with the benchmark's own Scala sources into one jar, with the Scala
compiler that ships in the Spark distribution (no sbt, no network), then
records a class-data-sharing archive from one short run, so each
benchmark JVM starts Spark without re-reading thousands of classes.

    python3 graftbench/build.py          # from the repository root

The output goes to .bench_build/<digest>/, keyed by a digest of every
source file, so a run after an unchanged build reuses it.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))


class BuildError(Exception):
    pass


def spark_jars():
    """The jars of $SPARK_HOME, or else of the first Spark distribution
    whose bin/spark-submit is on PATH."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
        if jars:
            return jars
    raise BuildError("no Spark jars found: set SPARK_HOME to a Spark distribution")


def sources(root):
    prog = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not prog:
        raise BuildError(f"no program sources under {root}/src/main/scala")
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return prog + bench


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


HEAP = "2g"

# what spark-submit would pass on JDK 17
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class Build:
    def __init__(self, out, key):
        self.jar = os.path.join(out, "graftbench.jar")
        self.archive = os.path.join(out, "classes.jsa")
        self.key = key

    def java(self, tmpdir, args, dump_archive=False):
        """The benchmark JVM's command line."""
        cds = (f"-XX:ArchiveClassesAtExit={self.archive}" if dump_archive
               else f"-XX:SharedArchiveFile={self.archive}")
        # class-data-sharing warnings go to stderr; Main reports whether
        # the archive was mapped
        return (["java", f"-Xmx{HEAP}", cds, "-Xlog:disable", "-Xlog:all=warning:stderr",
                 "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmpdir}",
                 "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
                + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
                + ["-cp", ":".join([self.jar] + spark_jars()), "graftbench.Main"] + args)


def ensure_built(root):
    """Returns the Build of the current sources, compiling when needed."""
    files = sources(root)
    key = digest(files)
    base = os.path.join(root, ".bench_build")
    out = os.path.join(base, key[:16])
    classes = os.path.join(out, "classes")
    build = Build(out, key)
    if os.path.exists(os.path.join(out, "ok")):
        return build
    jars = spark_jars()
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) != 3:
        raise BuildError("the Spark distribution lacks scala-compiler/library/reflect jars")
    if os.path.isdir(base):
        shutil.rmtree(base)
    os.makedirs(classes)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", ":".join(jars), "-d", classes] + files
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        raise BuildError("compilation failed:\n" + proc.stdout[-6000:])
    resources = os.path.join(root, "src", "main", "resources")
    if os.path.isdir(resources):
        shutil.copytree(resources, classes, dirs_exist_ok=True)
    # class-data sharing maps classes from jars only
    with zipfile.ZipFile(build.jar, "w") as z:
        for d, _, names in os.walk(classes):
            for n in names:
                z.write(os.path.join(d, n), os.path.relpath(os.path.join(d, n), classes))
    shutil.rmtree(classes)
    run = os.path.join(out, "cds-run")
    os.makedirs(os.path.join(run, "tmp"))
    proc = subprocess.run(
        build.java(os.path.join(run, "tmp"),
                   ["--workload", "ts_feature_store", "--seed", "0", "--seconds", "1", "--trace", "0",
                    "--dir", os.path.join(run, "data")], dump_archive=True),
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    shutil.rmtree(run, ignore_errors=True)
    if proc.returncode != 0 or not os.path.exists(build.archive):
        shutil.rmtree(out, ignore_errors=True)
        raise BuildError("the class-archive run failed:\n" + proc.stdout[-6000:])
    open(os.path.join(out, "ok"), "w").close()
    return build


if __name__ == "__main__":
    try:
        print(ensure_built(os.getcwd()).jar)
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
