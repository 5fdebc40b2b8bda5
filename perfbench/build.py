"""Builds the program (src/main/scala) and the benchmark (perfbench/src) from
source with the Scala compiler that ships in Spark's jar directory
($SPARK_HOME/jars, else the unmanagedBase that build.sbt names).

    python3 perfbench/build.py        # from the repository root

Output goes to .bench_build/classes. A stamp over the source paths and
contents skips the compile when nothing changed.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys


def spark_jars(root):
    """$SPARK_HOME/jars, else the jar directory build.sbt names as its
    unmanagedBase: the Spark the program is built and tested with."""
    home = os.environ.get("SPARK_HOME")
    if home:
        jars = os.path.join(home, "jars")
    else:
        try:
            with open(os.path.join(root, "build.sbt")) as fh:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        except OSError:
            m = None
        if not m:
            raise SystemExit("Spark not found: set SPARK_HOME (build.sbt names no unmanagedBase)")
        jars = m.group(1)
    if not os.path.isdir(jars):
        raise SystemExit(f"Spark jars not found at {jars} (set SPARK_HOME)")
    return jars


def java_bin():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.exists(os.path.join(home, "bin", "java")):
        return os.path.join(home, "bin", "java")
    found = shutil.which("java")
    if not found:
        raise SystemExit("java not found")
    return found


def sources(root):
    out = []
    for base in ("src/main/scala", "perfbench/src"):
        for d, _, files in os.walk(os.path.join(root, base)):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def classpath(root, classes):
    return os.pathsep.join([classes, os.path.join(root, "src/main/resources"),
                            os.path.join(spark_jars(root), "*")])


def build(root):
    """Compile if needed; returns the classes directory."""
    if not os.path.isdir(os.path.join(root, "src/main/scala")):
        raise SystemExit("program sources (src/main/scala) not found")
    out = os.path.join(root, ".bench_build", "classes")
    files = sources(root)
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    stamp_file = os.path.join(out, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cmd = [java_bin(), "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars(root), "*"),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp", "-d", out] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("compile failed")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return out


if __name__ == "__main__":
    print(build(os.getcwd()))
