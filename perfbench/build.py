"""Build file of the benchmark: compiles graft's sources (`src/main/scala`)
together with the benchmark harness (`perfbench/harness`) into
`.bench_build/classes` with the Scala compiler that ships in the Spark jar
directory the project builds against (`unmanagedBase` in build.sbt, or
`$SPARK_HOME/jars`).

The build is keyed by a hash of every source file and of the toolchain's
jar names: an unchanged tree reuses the classes, a changed one is
recompiled once. Build-tool start-up therefore never lands in a timed
figure. Run it alone with `python3 perfbench/build.py`.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
SCALA_VERSION_RE = re.compile(r'scalaVersion\s*:=\s*"([^"]+)"')
UNMANAGED_RE = re.compile(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)')


def spark_jars(root: str) -> str:
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    with open(os.path.join(root, "build.sbt")) as f:
        m = UNMANAGED_RE.search(f.read())
    if not m or not os.path.isdir(m.group(1)):
        raise SystemExit("perfbench: no Spark jar directory (set SPARK_HOME)")
    return m.group(1)


def classpath(root: str) -> str:
    jars = sorted(glob.glob(os.path.join(spark_jars(root), "*.jar")))
    return os.pathsep.join([os.path.join(root, ".bench_build", "classes")] + jars)


def sources(root: str) -> list:
    main = glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                     recursive=True)
    harness = glob.glob(os.path.join(HERE, "harness", "*.scala"))
    return sorted(main) + sorted(harness)


def stamp(root: str, srcs: list, jars: list) -> str:
    h = hashlib.sha256()
    for p in srcs + [os.path.join(root, "build.sbt")]:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    for j in jars:
        h.update(os.path.basename(j).encode())
    return h.hexdigest()


def ensure_built(root: str) -> str:
    """Compile if the sources changed since the last build; return the
    run-time classpath."""
    jar_dir = spark_jars(root)
    jars = sorted(glob.glob(os.path.join(jar_dir, "*.jar")))
    srcs = sources(root)
    want = stamp(root, srcs, jars)
    out = os.path.join(root, ".bench_build")
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return classpath(root)
    with open(os.path.join(root, "build.sbt")) as f:
        version = SCALA_VERSION_RE.search(f.read()).group(1)
    tool = [os.path.join(jar_dir, f"scala-{p}-{version}.jar")
            for p in ("compiler", "library", "reflect")]
    missing = [t for t in tool if not os.path.exists(t)]
    if missing:
        raise SystemExit(f"perfbench: Scala {version} compiler jars not found: {missing}")
    tmp = os.path.join(out, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(out, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(tool),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", os.pathsep.join(jars), "@" + args_file]
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-6000:])
        raise SystemExit("perfbench: compilation failed")
    final = os.path.join(out, "classes")
    shutil.rmtree(final, ignore_errors=True)
    os.replace(tmp, final)
    with open(stamp_file, "w") as f:
        f.write(want)  # last: marks the build complete
    return classpath(root)


if __name__ == "__main__":
    ensure_built(os.getcwd())
