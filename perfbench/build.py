#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and
the benchmark's JVM side (perfbench/scala) with the Scala compiler that
ships in the Spark distribution ($SPARK_HOME/jars, the same jars the sbt
build compiles against). No sbt launch, no network, and every output
stays under .bench_build/ in the checkout: sbt keeps its launcher,
server and dependency state under the home directory (~/.sbt,
~/.cache/coursier), outside the checkout the benchmark may write to.

So that this build cannot drift from build.sbt unnoticed, it refuses to
run when build.sbt names another Scala version than the compiler jar,
other unmanaged jars, compiler options or a dependency of the main
sources.

    python3 perfbench/build.py      # prints the runtime classpath

A stamp over each set of sources skips its compile when nothing changed.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(ROOT, "perfbench", "scala")


class BuildError(RuntimeError):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        raise BuildError("SPARK_HOME is not set (the engine builds against its jars)")
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError(f"no Scala compiler among the Spark jars in {jars}")
    return os.path.join(jars, "*")


def check_sbt(jars):
    """Raise when build.sbt compiles the engine differently from build():
    another Scala version, other jars, compiler options or a main
    dependency."""
    path = os.path.join(ROOT, "build.sbt")
    if not os.path.exists(path):
        return
    with open(path) as fh:
        text = fh.read()
    want = re.search(r'scalaVersion\s*:=\s*"([^"]+)"', text)
    have = glob.glob(os.path.join(os.path.dirname(jars), "scala-compiler-*.jar"))
    have = os.path.basename(have[0])[len("scala-compiler-"):-len(".jar")]
    if want and want.group(1) != have:
        raise BuildError(f"build.sbt asks for Scala {want.group(1)}, the jars hold {have}")
    base = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', text)
    if base and os.path.realpath(base.group(1)) != os.path.realpath(os.path.dirname(jars)):
        raise BuildError(f"build.sbt compiles against {base.group(1)}, not {os.path.dirname(jars)}")
    if "scalacOptions" in text or "addCompilerPlugin" in text:
        raise BuildError("build.sbt sets compiler options that build.py does not mirror")
    for dep in re.findall(r'"[^"]+"\s*%%?\s*"[^"]+"\s*%\s*"[^"]+"(\s*%\s*\w+)?', text):
        if dep.strip(" %") != "Test":
            raise BuildError("build.sbt adds a main dependency that build.py does not mirror")


def sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def compile_if_stale(name, files, inputs, jars, classpath, resources=None):
    """Compile `files` into .bench_build/<name> unless the stamp over
    `inputs` says they are unchanged; returns the stamp file."""
    out = os.path.join(BUILD, name)
    stamp_file = out + ".stamp"
    want = stamp(inputs)
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return stamp_file
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    argfile = out + ".args"
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", classpath, "-d", out, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    if resources and os.path.isdir(resources):
        shutil.copytree(resources, out, dirs_exist_ok=True)
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return stamp_file


def build():
    """Compile what changed; return the runtime classpath."""
    engine = sources(ENGINE_SRC)
    bench = sources(BENCH_SRC)
    if not engine:
        raise BuildError(f"no engine sources under {ENGINE_SRC}")
    if not bench:
        raise BuildError(f"no benchmark sources under {BENCH_SRC}")
    jars = spark_jars()
    check_sbt(jars)
    resources = sorted(f for f in glob.glob(os.path.join(ENGINE_RES, "**", "*"), recursive=True)
                       if os.path.isfile(f))
    os.makedirs(BUILD, exist_ok=True)
    classes = os.path.join(BUILD, "classes")
    engine_stamp = compile_if_stale("classes", engine, engine + resources, jars, jars,
                                    resources=ENGINE_RES)
    # the engine's stamp is an input, so a rebuilt engine rebuilds the bench
    compile_if_stale("bench-classes", bench, bench + [engine_stamp], jars,
                     os.pathsep.join([classes, jars]))
    return os.pathsep.join([os.path.join(BUILD, "bench-classes"), classes, jars])


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
