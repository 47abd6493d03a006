"""Build file of the benchmark: compiles the program (src/main/scala) and
the harness (perfbench/scala) into .bench_build/ with the Scala compiler
that ships among the Spark jars, and writes the benchmark's input tables.

Each step is skipped when a stamp of its inputs says it is up to date.
The Spark jars come from $SPARK_HOME/jars, else from the `unmanagedBase`
that build.sbt names.

    python3 perfbench/build.py
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
OUT = os.path.join(ROOT, ".bench_build")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise BuildError("no Spark jars: set SPARK_HOME")


def _stamp(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _fresh(step, inputs, make):
    """Runs make(dir) into OUT/step unless the stamp of inputs matches."""
    d = os.path.join(OUT, step)
    stamp = _stamp(inputs)
    ok = os.path.join(d, "stamp")
    if os.path.exists(ok) and open(ok).read() == stamp:
        return d
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    make(d)
    with open(ok, "w") as f:
        f.write(stamp)
    return d


def _scalac(jars, classpath, sources, dest):
    os.makedirs(dest, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", dest,
           "-cp", os.pathsep.join(classpath)] + sorted(sources)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise BuildError("scalac failed")


def build():
    """Returns (classpath list, data dir)."""
    jars = spark_jars()
    main_src = glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                         recursive=True)
    harness_src = glob.glob(os.path.join(HERE, "scala", "*.scala"))
    if not main_src or not harness_src:
        raise BuildError("no sources to build")
    jar_cp = os.path.join(jars, "*")
    main = _fresh("main", main_src, lambda d: _scalac(
        jars, [jar_cp], main_src, os.path.join(d, "classes")))
    main_cls = os.path.join(main, "classes")
    harness = _fresh("harness", harness_src + main_src, lambda d: _scalac(
        jars, [main_cls, jar_cp], harness_src, os.path.join(d, "classes")))

    gen = os.path.join(HERE, "gen_data.py")
    data = _fresh("data", [gen, __file__], lambda d: subprocess.run(
        [sys.executable, gen, os.path.join(d, "tables")], check=True))
    return [os.path.join(harness, "classes"), main_cls, jar_cp], os.path.join(data, "tables")


if __name__ == "__main__":
    try:
        cp, data = build()
    except BuildError as e:
        sys.exit(f"build failed: {e}")
    print(os.pathsep.join(cp))
