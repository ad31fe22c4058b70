"""Build file of the benchmark package.

Compiles the engine's sources (``src/main/scala``) together with the
benchmark's own sources (``perfbench/src``) using the Scala 2.13 compiler
that ships among the Spark distribution's jars, into
``.bench_build/perfbench/classes-<hash>`` under the checkout root. The hash
covers every source file, so an unchanged tree is not rebuilt.

    python3 perfbench/build.py          # from the checkout root
"""

import fcntl
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_JARS, else
    $SPARK_HOME/jars, else the one beside `spark-submit` on the PATH."""
    if os.environ.get("SPARK_JARS"):
        return os.environ["SPARK_JARS"]
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    submit = shutil.which("spark-submit")
    if submit:
        return os.path.join(os.path.dirname(os.path.realpath(submit)), "..", "jars")
    raise BuildError("Spark not found: set SPARK_HOME or SPARK_JARS")


class BuildError(Exception):
    pass


def sources(root):
    """Every Scala source the benchmark is built from, sorted."""
    engine = os.path.join(root, "src", "main", "scala")
    bench = os.path.join(HERE, "src")
    if not os.path.isdir(engine):
        raise BuildError(f"engine sources not found: {engine} "
                         "(run from the root of a full checkout)")
    found = []
    for base in (engine, bench):
        for d, _, fs in os.walk(base):
            found += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(found)


def classpath_jars():
    d = spark_jars()
    jars = sorted(glob.glob(os.path.join(d, "*.jar")))
    if not any("scala-compiler" in os.path.basename(j) for j in jars):
        raise BuildError(f"no Scala compiler among the jars in {d}")
    return jars


def build(root):
    """Compile if needed; return the classes directory."""
    srcs = sources(root)
    jars = classpath_jars()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update("\n".join(os.path.basename(j) for j in jars).encode())
    base = os.path.join(root, ".bench_build", "perfbench")
    out = os.path.join(base, "classes-" + h.hexdigest()[:16])
    os.makedirs(base, exist_ok=True)
    with open(os.path.join(base, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(os.path.join(out, ".built")):
            return out
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        argfile = os.path.join(base, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs) + "\n")
        cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
               "-cp", os.pathsep.join(jars), "scala.tools.nsc.Main",
               "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile]
        print(f"[perfbench] compiling {len(srcs)} sources", file=sys.stderr)
        if subprocess.run(cmd).returncode != 0:
            raise BuildError("scalac failed")
        open(os.path.join(tmp, ".built"), "w").close()
        os.rename(tmp, out)
        return out


if __name__ == "__main__":
    try:
        print(build(os.getcwd()))
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
