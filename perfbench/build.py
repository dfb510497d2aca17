"""Build file of the benchmark: compiles the engine (`src/main`) and the
benchmark code (`perfbench/src`) with the Scala compiler that ships in
the engine's jar directory (the `unmanagedBase` named in `build.sbt`).

Outputs go under `<build_dir>/perfbench` and are reused while no source,
resource or jar changes.

Usage: python3 perfbench/build.py [build_dir]   (default .bench_build)
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


class BuildError(Exception):
    pass


def jar_dir():
    """The engine's jar directory, as its build.sbt declares it."""
    sbt = os.path.join(ROOT, "build.sbt")
    if not os.path.isfile(sbt):
        raise BuildError("no build.sbt: not an engine checkout")
    with open(sbt) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m or not os.path.isdir(m.group(1)):
        raise BuildError("build.sbt names no readable unmanagedBase jar directory")
    return m.group(1)


def _sources(top, exts=(".scala", ".java")):
    out = []
    for dirpath, _, files in os.walk(top):
        out += [os.path.join(dirpath, f) for f in files if f.endswith(exts)]
    return sorted(out)


def _key(paths, jars):
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    return h.hexdigest()


def _scalac(jars, classpath, out, files):
    lib = sorted(glob.glob(os.path.join(jars, "scala-library-2.13.*.jar")))
    if not lib:
        raise BuildError(f"no scala-library-2.13 jar in {jars}")
    ver = re.search(r"scala-library-(2\.13\.\d+)\.jar", lib[-1]).group(1)
    tool = [os.path.join(jars, f"scala-{n}-{ver}.jar") for n in ("compiler", "library", "reflect")]
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(tool),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath, "-d", tmp] + files
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise BuildError(f"scalac failed for {out}")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


def build(build_dir):
    """Compile if needed; return the run classpath."""
    jars = jar_dir()
    prog_src = os.path.join(ROOT, "src", "main", "scala")
    prog_res = os.path.join(ROOT, "src", "main", "resources")
    bench_src = os.path.join(HERE, "src")
    prog = _sources(prog_src)
    bench = _sources(bench_src)
    if not prog:
        raise BuildError("no engine sources under src/main/scala")
    res = _sources(prog_res, exts=("",)) if os.path.isdir(prog_res) else []
    out = os.path.join(os.path.abspath(build_dir), "perfbench")
    os.makedirs(out, exist_ok=True)
    prog_cls = os.path.join(out, "classes-program")
    bench_cls = os.path.join(out, "classes-bench")
    stamp = os.path.join(out, "stamp")
    key = _key(prog + res + bench, jars)
    jar_cp = os.path.join(jars, "*")
    cp = os.pathsep.join([bench_cls, prog_cls, jar_cp])
    if os.path.isfile(stamp) and open(stamp).read() == key:
        return cp
    if os.path.exists(stamp):
        os.remove(stamp)
    _scalac(jars, jar_cp, prog_cls, prog)
    for r in res:
        dst = os.path.join(prog_cls, os.path.relpath(r, prog_res))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(r, dst)
    _scalac(jars, os.pathsep.join([prog_cls, jar_cp]), bench_cls, bench)
    with open(stamp, "w") as f:
        f.write(key)
    return cp


if __name__ == "__main__":
    try:
        print(build(sys.argv[1] if len(sys.argv) > 1 else ".bench_build"))
    except BuildError as e:
        sys.exit(f"build failed: {e}")
