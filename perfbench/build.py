"""Build file of the benchmark package.

Compiles the engine (`src/main/scala`) together with the benchmark's own
JVM sources (`perfbench/scala`) with the Scala compiler that ships among
the Spark jars, into `.bench_build/classes` of the checkout. The Spark jar
directory is the one `build.sbt` names as `unmanagedBase`, and the JVM
options are the ones `tools/jrun.sh` launches the engine with, so neither
list is copied here. A build is skipped when the sources have not changed.

    python3 perfbench/build.py            # build (or confirm) and print the classpath
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
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
REQUIRED = ["build.sbt", "tools/jrun.sh", "src/main/scala", "examples"]


class BuildError(RuntimeError):
    pass


def check_tree(root=ROOT):
    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(root, p))]
    if missing:
        raise BuildError("not a checkout of the engine; missing: " + ", ".join(missing))


def spark_jars(root=ROOT):
    with open(os.path.join(root, "build.sbt")) as fh:
        text = fh.read()
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', text)
    if not m:
        raise BuildError("build.sbt names no unmanagedBase jar directory")
    jars = sorted(glob.glob(os.path.join(m.group(1), "*.jar")))
    if not jars:
        raise BuildError(f"no jars under {m.group(1)}")
    return jars


def jvm_options(root=ROOT):
    """The add-opens set and -D flags of tools/jrun.sh."""
    with open(os.path.join(root, "tools/jrun.sh")) as fh:
        text = fh.read()
    opens = re.findall(r"java\.base/[A-Za-z0-9_.]+", text)
    if not opens:
        raise BuildError("tools/jrun.sh lists no --add-opens packages")
    flags = [f for f in re.findall(r"-D[A-Za-z0-9_.]+=[^\s\"$]+", text)]
    out = []
    for p in dict.fromkeys(opens):
        out += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return out + flags


def sources(root=ROOT):
    files = []
    for base in ("src/main/scala", "perfbench/scala"):
        for d, _, names in os.walk(os.path.join(root, base)):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    return sorted(files)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root=ROOT, log=sys.stderr):
    """Compile if needed; return (classpath list, source stamp)."""
    check_tree(root)
    jars = spark_jars(root)
    files = sources(root)
    st = stamp(files)
    stamp_file = os.path.join(CLASSES, ".stamp")
    if os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == st:
                return [CLASSES] + jars, st
    os.makedirs(BUILD, exist_ok=True)
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cp = os.pathsep.join(jars)
    print(f"[perfbench] compiling {len(files)} sources", file=log, flush=True)
    res = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
         "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        raise BuildError("compile failed:\n" + res.stdout[-4000:])
    with open(os.path.join(tmp, ".stamp"), "w") as fh:
        fh.write(st)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    return [CLASSES] + jars, st


if __name__ == "__main__":
    try:
        cp, _ = build()
    except BuildError as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        sys.exit(2)
    print(os.pathsep.join(cp))
