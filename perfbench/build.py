"""Build file of the CDC benchmark.

Compiles the engine's sources (`src/main/scala`) together with the
benchmark's own sources (`perfbench/src`) with the Scala compiler that
ships in the engine's jar directory, into `.bench_build/classes` of the
checkout. A stamp over every source file and the jar listing makes a
second call a no-op. No sbt: its startup and `[info]` framing stay out
of every benchmark run.

Usage as a module: `ensure_built(root)` returns the classes directory and
raises BuildError when the checkout holds no engine to build.
"""
import fcntl
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"


class BuildError(Exception):
    pass


def jar_dir(root):
    """The engine's jar directory, read from the `unmanagedBase` line of
    its build.sbt (the single place the engine declares it)."""
    sbt = os.path.join(root, "build.sbt")
    if not os.path.isfile(sbt):
        raise BuildError("no build.sbt in %s: not an engine checkout" % root)
    with open(sbt) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m or not os.path.isdir(m.group(1)):
        raise BuildError("build.sbt names no existing unmanagedBase jar dir")
    return m.group(1)


def classpath_jars(root):
    d = jar_dir(root)
    return sorted(os.path.join(d, n) for n in os.listdir(d) if n.endswith(".jar"))


def _sources(root):
    out = []
    for top in ("src/main/scala", "perfbench/src"):
        base = os.path.join(root, top)
        if not os.path.isdir(base):
            raise BuildError("missing source tree %s" % top)
        for dirpath, _, files in os.walk(base):
            out += [os.path.join(dirpath, n) for n in files if n.endswith(".scala")]
    return sorted(out)


def _stamp(root, srcs, jars):
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    for j in jars:
        h.update(j.encode())
    return h.hexdigest()


def ensure_built(root):
    srcs = _sources(root)
    jars = classpath_jars(root)
    build = os.path.join(root, BUILD_DIR)
    os.makedirs(build, exist_ok=True)
    classes = os.path.join(build, "classes")
    stamp_file = os.path.join(classes, "STAMP")
    stamp = _stamp(root, srcs, jars)
    with open(os.path.join(build, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
            return classes
        tmp = classes + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        argfile = os.path.join(build, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs) + "\n")
        cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
               "-Djava.io.tmpdir=" + build, "-cp", os.pathsep.join(jars),
               "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
               "-d", tmp, "@" + argfile]
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
        if r.returncode != 0:
            sys.stderr.write(r.stdout.decode(errors="replace")[-8000:])
            raise BuildError("scalac failed (exit %d)" % r.returncode)
        with open(os.path.join(tmp, "STAMP"), "w") as f:
            f.write(stamp)
        shutil.rmtree(classes, ignore_errors=True)
        os.rename(tmp, classes)
        return classes


# Spark 4 on JDK 17 needs these outside spark-submit; the same list the
# engine's build.sbt passes to its forked JVMs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def java_cmd(root, classes, main, args, tmpdir, heap="2g"):
    """A plain `java` command line for `main` on the built classpath: a
    pinned heap (-Xms = -Xmx), temporary files under `tmpdir`, and the JIT
    stopped at its first tier. Much
    of the engine's cost is driver-side fixed overhead (planning, trigger
    and commit code), which the optimizing tier keeps speeding up for
    minutes of repetitions, far past one run; with the first tier only,
    per-operation times are flat after a short warm-up."""
    flags = ["-XX:TieredStopAtLevel=1", "-XX:-UsePerfData",
             "-Djava.io.tmpdir=" + tmpdir]
    for p in ADD_OPENS:
        flags += ["--add-opens", p + "=ALL-UNNAMED"]
    cp = os.pathsep.join([classes] + classpath_jars(root))
    return (["java", "-Xms" + heap, "-Xmx" + heap, "-XX:+UseG1GC"] + flags +
            ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-cp", cp, main] + list(args))
