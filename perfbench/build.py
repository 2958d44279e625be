"""Build file of the benchmark: compiles the program (`src/main`) and the
benchmark's JVM harness (`perfbench/src`) from source with the Scala
compiler that ships among the program's Spark jars, into
`.bench_build/perfbench/`. No build tool runs and nothing is written
outside the checkout.

    python3 perfbench/build.py      # prints the run-time classpath

A stamp over every source file and jar name lets later runs reuse the
classes; any source change rebuilds from scratch.
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
OUT = os.path.join(ROOT, ".bench_build", "perfbench")


def spark_jars():
    """The jar directory the program's build.sbt names as `unmanagedBase`."""
    with open(os.path.join(ROOT, "build.sbt"), encoding="utf-8") as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def _sources(top):
    found = []
    for dirpath, _, files in os.walk(top):
        found += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def _stamp(groups, jars):
    h = hashlib.sha256()
    for path in [p for g in groups for p in g] + jars:
        h.update(path.encode())
        if not path.endswith(".jar"):
            with open(path, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def _scalac(jars, classpath, dest, sources, log):
    os.makedirs(dest)
    subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(jars),
                    "scala.tools.nsc.Main", "-nowarn", "-d", dest,
                    "-classpath", os.pathsep.join(classpath)] + sources,
                   check=True, stdout=log, stderr=log)


def build():
    """Compile if the stamp is stale; return the run-time classpath."""
    jars = sorted(glob.glob(os.path.join(spark_jars(), "*.jar")))
    if not jars:
        raise SystemExit(f"no jars under {spark_jars()}")
    main_srcs = _sources(os.path.join(ROOT, "src", "main"))
    bench_srcs = _sources(os.path.join(HERE, "src"))
    main_cls, bench_cls = os.path.join(OUT, "main"), os.path.join(OUT, "bench")
    resources = os.path.join(ROOT, "src", "main", "resources")
    classpath = [bench_cls, main_cls] + jars
    stamp = _stamp([main_srcs, bench_srcs], jars)
    stamp_file = os.path.join(OUT, "stamp")
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return classpath
    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(OUT)
    with open(os.path.join(OUT, "build.log"), "w") as log:
        try:
            _scalac(jars, jars, main_cls, main_srcs, log)
            if os.path.isdir(resources):
                shutil.copytree(resources, main_cls, dirs_exist_ok=True)
            _scalac(jars, [main_cls] + jars, bench_cls, bench_srcs, log)
        except subprocess.CalledProcessError:
            log.flush()
            with open(os.path.join(OUT, "build.log")) as f:
                sys.stderr.write(f.read()[-4000:])
            raise SystemExit("build failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath


if __name__ == "__main__":
    print(os.pathsep.join(build()))
