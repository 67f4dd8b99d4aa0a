"""Build the program and the benchmark harness from source.

Compiles the repo's ``src/main/scala`` together with ``perfbench/harness``
into ``<build dir>/classes`` with the Scala compiler that ships among the
jars the repo's ``build.sbt`` declares as its classpath (``unmanagedBase``).
A stamp of every source file skips the compile when nothing changed.

    python3 perfbench/build.py [BUILD_DIR]      # default .bench_build
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys


class BuildError(Exception):
    pass


def jar_dir(root):
    sbt = os.path.join(root, "build.sbt")
    if not os.path.isfile(sbt):
        raise BuildError("no build.sbt: not a checkout of the program")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
    if not m or not glob.glob(os.path.join(m.group(1), "scala-compiler-*.jar")):
        raise BuildError("build.sbt declares no jar directory with a Scala "
                         "compiler")
    return m.group(1)


def sources(root):
    srcs = []
    for base in ("src/main/scala", "perfbench/harness"):
        for d, _, files in os.walk(os.path.join(root, base)):
            srcs += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    if not any("/src/main/scala/" in s for s in srcs):
        raise BuildError("no program sources under src/main/scala")
    return sorted(srcs)


def build(root, build_dir):
    """Return the runtime classpath, compiling first when sources changed."""
    jars = jar_dir(root)
    srcs = sources(root)
    h = hashlib.sha256(jars.encode())
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    classes = os.path.join(build_dir, "classes")
    stamp = os.path.join(build_dir, "classes.stamp")
    classpath = classes + os.pathsep + os.path.join(jars, "*")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classpath
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    proc = subprocess.run(
        ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData",
         "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main", "-nowarn", "-d", classes,
         "-classpath", os.path.join(jars, "*"), "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        raise BuildError("compile failed:\n" + proc.stdout[-4000:])
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return classpath


if __name__ == "__main__":
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = sys.argv[1] if len(sys.argv) > 1 else os.path.join(root, ".bench_build")
    try:
        print(build(root, out))
    except BuildError as e:
        sys.exit(str(e))
