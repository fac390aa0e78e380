"""Build the benchmark: compile graft's sources (src/main/scala) and the
benchmark's own (perfbench/src) into one class directory with the Scala
compiler that ships among the Spark jars.

The jar directory is the one the program's build.sbt names as
`unmanagedBase`. Output goes to $CARGO_TARGET_DIR (default
`.bench_build`) under the checkout root; a stamp of the sources'
contents skips the compile when nothing changed.

    python3 perfbench/build.py        # build (or confirm up to date)
"""
import glob
import hashlib
import os
import re
import subprocess
import sys

SCALA_JARS = ("scala-compiler", "scala-library", "scala-reflect")


class BuildError(Exception):
    pass


def jar_dir(root):
    """The Spark jar directory the program's build.sbt compiles against."""
    sbt = os.path.join(root, "build.sbt")
    if not os.path.isfile(sbt):
        raise BuildError(f"no build.sbt under {root}: the program's sources are not here")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
    if not m:
        raise BuildError("build.sbt names no unmanagedBase jar directory")
    d = m.group(1)
    if not os.path.isdir(d):
        raise BuildError(f"jar directory {d} named by build.sbt does not exist")
    return d


def sources(root):
    prog = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    bench = sorted(glob.glob(os.path.join(root, "perfbench", "src", "**", "*.scala"),
                             recursive=True))
    if not prog:
        raise BuildError(f"no program sources under {root}/src/main/scala")
    if not bench:
        raise BuildError("no benchmark sources under perfbench/src")
    return prog + bench


def out_dir(root):
    target = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(root if not os.path.isabs(target) else "", target, "perfbench")


def ensure_built(root, log=sys.stderr):
    """Compile if the sources changed since the last build. Returns
    (classes_dir, jar_dir)."""
    jars = jar_dir(root)
    srcs = sources(root)
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        h.update(open(s, "rb").read())
    stamp = h.hexdigest()
    out = out_dir(root)
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    if os.path.isfile(stamp_file) and open(stamp_file).read().strip() == stamp:
        return classes, jars, stamp
    all_jars = sorted(glob.glob(os.path.join(jars, "*.jar")))
    compiler = [j for j in all_jars
                if os.path.basename(j).rsplit("-", 1)[0] in SCALA_JARS]
    if len(compiler) != len(SCALA_JARS):
        raise BuildError(f"the Scala compiler jars are not in {jars}")
    tmp = classes + ".tmp"
    subprocess.run(["rm", "-rf", tmp, classes, stamp_file], check=True)
    os.makedirs(tmp)
    print(f"[perfbench] compiling {len(srcs)} sources", file=log, flush=True)
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
         "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
         "-classpath", os.pathsep.join(all_jars)] + srcs,
        stdout=log, stderr=log, timeout=840)
    if r.returncode != 0:
        raise BuildError(f"scalac exited with {r.returncode}")
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    return classes, jars, stamp


if __name__ == "__main__":
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    try:
        print(ensure_built(root)[0])
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(1)
