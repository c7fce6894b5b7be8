#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program (`src/main/scala` of the checkout) together with the
benchmark's own sources (`perfbench/src`) with the Scala compiler that
ships in Spark's jar directory, into `.bench_build/graftbench/classes`.
A build is reused while a hash of every source file is unchanged.

    python3 perfbench/build.py           # build (no-op when up to date)
    python3 perfbench/build.py --test    # build, then run the self-tests
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
OUT = os.path.join(ROOT, ".bench_build", "graftbench")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "stamp")
TRACES = os.path.join(ROOT, ".bench_work", "trace")


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise BuildError("Spark not found: set SPARK_HOME")
    return jars


def sources():
    if not os.path.isdir(PROGRAM_SRC):
        raise BuildError(f"no program sources at {os.path.relpath(PROGRAM_SRC, ROOT)}")
    out = []
    for top in (PROGRAM_SRC, BENCH_SRC):
        for d, _, fs in os.walk(top):
            out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def classpath():
    return CLASSES + os.pathsep + os.path.join(spark_jars(), "*")


def trace_dir():
    """Span files and untraced pass walls of the current build: traced runs
    compare only with runs of the same sources."""
    with open(STAMP) as fh:
        return os.path.join(TRACES, fh.read()[:16])


def build():
    """Compile when any source changed; returns the runtime classpath."""
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == digest:
        return classpath()
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + srcs
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise BuildError(f"scalac exited with {r.returncode}")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(STAMP, "w") as fh:
        fh.write(digest)
    return classpath()


# what spark-submit passes on JDK 17 (JavaModuleOptions.defaultModuleOptions)
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def java_command(cp, work):
    """The JVM every run uses, with its scratch dirs under `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx2g", "-Xss8m"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    return cmd + [f"-Djava.io.tmpdir={tmp}",
                  f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
                  f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
                  f"-Dderby.system.home={work}",
                  "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                  "-cp", cp]


def main(argv):
    try:
        cp = build()
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    if "--test" in argv:
        return subprocess.run(["java", "-cp", cp, "graftbench.SelfTest"]).returncode
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
