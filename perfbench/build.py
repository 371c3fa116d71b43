"""Build file of the benchmark: compiles the engine's sources
(src/main/scala) together with the benchmark's own (perfbench/src) with the
Scala compiler that ships in the Spark distribution's jar directory.

The jar directory is $SPARK_HOME/jars, or else the `unmanagedBase` that
build.sbt names. Output goes to .bench_build/perfbench/perfbench.jar and
is reused while no source file changes; runs keep a class-data-sharing
archive of the JVM's loaded classes beside it (see run.py).

    python3 perfbench/build.py     # prints the runtime classpath
"""

import hashlib
import os
import re
import subprocess
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
CDS_ARCHIVE = os.path.join(BUILD, "classes.jsa")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perfbench", "src")]


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise BuildError("no Spark jar directory: set SPARK_HOME or name it as "
                     "unmanagedBase in build.sbt")


def sources():
    out = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise BuildError(f"missing source directory {os.path.relpath(d, ROOT)}")
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    if not any(s.startswith(SOURCE_DIRS[0]) for s in out):
        raise BuildError("no engine sources under src/main/scala")
    return sorted(out)


def build():
    """Compile if any source changed; return the runtime classpath."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256(jars.encode())
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    jar = os.path.join(BUILD, "perfbench.jar")
    stamp_file = os.path.join(BUILD, "stamp")
    cp = jar + os.pathsep + os.path.join(jars, "*")
    if os.path.isfile(jar) and os.path.isfile(stamp_file) and \
            open(stamp_file).read() == stamp:
        return cp
    for stale in (stamp_file, jar, CDS_ARCHIVE):
        if os.path.exists(stale):
            os.remove(stale)
    os.makedirs(classes, exist_ok=True)
    for base, _, files in os.walk(classes, topdown=False):
        for f in files:
            os.remove(os.path.join(base, f))
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-classpath", os.path.join(jars, "*"), "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    # a jar, not a directory: class-data sharing archives only jars
    with zipfile.ZipFile(jar, "w") as z:
        for base, _, files in os.walk(classes):
            for f in sorted(files):
                full = os.path.join(base, f)
                z.write(full, os.path.relpath(full, classes))
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
