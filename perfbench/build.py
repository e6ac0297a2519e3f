#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft (src/main/scala) and the
benchmark harness (perfbench/src) with the Scala compiler that ships in
Spark's jars directory, into .bench_build/ under the repository root.

Run from the repository root:  python3 perfbench/build.py
A build is skipped when the sources are unchanged since the last one.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BUILD = Path(".bench_build")
LIB_SRC = Path("src/main/scala")
BENCH_SRC = Path("perfbench/src")


def spark_jars():
    """Spark's jars directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(os.path.realpath(submit)).parent.parent)
    jars = Path(home or "") / "jars"
    if not home or not jars.is_dir():
        raise SystemExit("build: Spark jars not found (set SPARK_HOME)")
    return jars


def jar(jars, prefix):
    found = sorted(jars.glob(prefix + "-[0-9]*.jar"))
    if not found:
        raise SystemExit(f"build: {prefix} jar not found in {jars}")
    return str(found[-1])


def sources(root):
    return sorted(str(p) for p in root.rglob("*.scala"))


def classpath():
    """Runtime classpath: graft, the harness, Spark."""
    jars = spark_jars()
    return os.pathsep.join([str(BUILD / "lib"), str(BUILD / "bench"), str(jars / "*")])


def scalac(jars, cp, out, srcs):
    compiler = os.pathsep.join(jar(jars, n) for n in
                               ("scala-compiler", "scala-library", "scala-reflect"))
    if out.exists():
        shutil.rmtree(out)
    out.mkdir(parents=True)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", compiler,
           "scala.tools.nsc.Main", "-nowarn", "-classpath", cp, "-d", str(out)] + srcs
    subprocess.run(cmd, check=True, stdout=sys.stderr)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        h.update(Path(f).read_bytes())
    return h.hexdigest()


def step(name, srcs, stamp_inputs, cp, jars):
    """Compile `srcs` into .bench_build/<name> unless its stamp matches."""
    stamp = BUILD / f"{name}.stamp"
    want = digest(stamp_inputs)
    if stamp.exists() and stamp.read_text() == want:
        return
    BUILD.mkdir(exist_ok=True)
    stamp.unlink(missing_ok=True)
    print(f"build: compiling {name}", file=sys.stderr)
    scalac(jars, cp, BUILD / name, srcs)
    stamp.write_text(want)


def build():
    lib, bench = sources(LIB_SRC), sources(BENCH_SRC)
    if not lib:
        raise SystemExit(f"build: no Scala sources under {LIB_SRC}")
    if not bench:
        raise SystemExit(f"build: no Scala sources under {BENCH_SRC}")
    jars = spark_jars()
    step("lib", lib, lib, str(jars / "*"), jars)
    step("bench", bench, lib + bench,
         os.pathsep.join([str(BUILD / "lib"), str(jars / "*")]), jars)


if __name__ == "__main__":
    try:
        build()
    except subprocess.CalledProcessError as e:
        sys.exit(f"build: compiler failed ({e.returncode})")
