"""Build file of the benchmark package: compiles the program
(`src/main/scala`) and the benchmark harness (`perfbench/harness`) into
one class directory with the Scala compiler that ships in the program's
Spark jar directory.

The jar directory and the Scala version are read from the program's own
`build.sbt` (`unmanagedBase`, `scalaVersion`), so both builds see the
same dependencies. A build is keyed by a hash of every source file and
reused while that hash holds.

Usage: python3 perfbench/build.py   (prints the class directory)
"""

import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(HERE, ".build")


class BuildError(Exception):
    pass


def toolchain():
    """(jar directory, scala version) declared by the program's build.sbt."""
    path = os.path.join(ROOT, "build.sbt")
    if not os.path.isfile(path):
        raise BuildError("no build.sbt at %s: run from a checkout of the program" % ROOT)
    with open(path, encoding="utf-8") as f:
        text = f.read()
    jars = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', text)
    version = re.search(r'scalaVersion\s*:=\s*"([^"]+)"', text)
    if not jars or not version:
        raise BuildError("build.sbt declares no unmanagedBase or scalaVersion")
    return jars.group(1), version.group(1)


def sources():
    program = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    if not program:
        raise BuildError("no program sources under %s/src/main/scala" % ROOT)
    return program + sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))


def ensure():
    """Returns (class directory, jar directory), compiling if the sources changed."""
    jars, version = toolchain()
    srcs = sources()
    h = hashlib.sha256(version.encode())
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    out = os.path.join(BUILD_DIR, h.hexdigest()[:16])
    if os.path.isdir(out):
        return out, jars
    compiler = [os.path.join(jars, "scala-%s-%s.jar" % (m, version)) for m in ("compiler", "library", "reflect")]
    missing = [c for c in compiler if not os.path.isfile(c)]
    if missing:
        raise BuildError("Scala compiler jars not found: %s" % ", ".join(missing))
    shutil.rmtree(BUILD_DIR, ignore_errors=True)
    tmp = out + ".tmp"
    os.makedirs(tmp)
    args_file = os.path.join(BUILD_DIR, "sources.txt")
    with open(args_file, "w", encoding="utf-8") as f:
        f.write("\n".join(srcs))
    print("perfbench: compiling %d sources" % len(srcs), file=sys.stderr, flush=True)
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
         "-nowarn", "-classpath", os.path.join(jars, "*"), "-d", tmp, "@" + args_file],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=850)
    if r.returncode != 0:
        raise BuildError("compile failed:\n" + r.stdout[-4000:])
    os.rename(tmp, out)
    return out, jars


if __name__ == "__main__":
    print(ensure()[0])
