"""Build file of the benchmark: compiles the program and the benchmark.

The program's main sources (src/main/scala) compile with
scalac against the Spark distribution's jars, which also carry the Scala
compiler, so no build tool or network is needed. The benchmark's own
Scala sources (perfbench/scala) then compile against the result. Outputs
go to .bench_build/ in the checkout (or $CARGO_TARGET_DIR when set); a
stamp of the sources' content skips the build when nothing changed.

Usage: python3 perfbench/build.py   (prints the runtime classpath)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "perfbench")


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def spark_jars():
    """The Spark jars the program builds against: build.sbt's
    `unmanagedBase`, else $SPARK_HOME/jars."""
    dirs = []
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m:
            dirs.append(m.group(1))
    if os.environ.get("SPARK_HOME"):
        dirs.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for jars in dirs:
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return os.path.join(jars, "*")
    raise SystemExit("build: no Spark jars with a Scala compiler in %s" % dirs)


def _sources(d):
    out = []
    for base, _, files in os.walk(d):
        out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def _stamp(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _scalac(srcs, out, classpath):
    if os.path.isdir(out):
        shutil.rmtree(out)
    os.makedirs(out)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xmx3g", "-Xss8m", "-cp", spark_jars(), "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", classpath, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit("build: scalac failed for " + out)


def build():
    """Compile what changed; return the runtime classpath."""
    bd = build_dir()
    main_out = os.path.join(bd, "classes", "main")
    bench_out = os.path.join(bd, "classes", "bench")
    resources = os.path.join(ROOT, "src", "main", "resources")
    jars = spark_jars()
    main_srcs = _sources(os.path.join(ROOT, "src", "main", "scala"))
    if not main_srcs:
        raise SystemExit("build: no program sources under src/main")
    bench_srcs = _sources(os.path.join(BENCH, "scala"))
    main_cp = os.pathsep.join([main_out, resources, jars])
    stamp_main = _stamp(main_srcs)
    stamp_bench = _stamp(main_srcs + bench_srcs)
    os.makedirs(bd, exist_ok=True)

    def fresh(name, stamp):
        p = os.path.join(bd, name)
        return os.path.exists(p) and open(p).read() == stamp

    if not fresh("stamp.main", stamp_main):
        _scalac(main_srcs, main_out, jars)
        open(os.path.join(bd, "stamp.main"), "w").write(stamp_main)
    if not fresh("stamp.bench", stamp_bench):
        _scalac(bench_srcs, bench_out, main_cp)
        open(os.path.join(bd, "stamp.bench"), "w").write(stamp_bench)
    return os.pathsep.join([bench_out, main_out, resources, jars])


if __name__ == "__main__":
    print(build())
