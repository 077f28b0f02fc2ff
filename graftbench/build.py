"""Build file of the benchmark: compiles the repository's main sources
(`src/main/scala`, unchanged) together with the harness in
`graftbench/src` against the Spark jars, with the Scala compiler those
jars ship, and copies `src/main/resources`.

Output goes to `.bench_build/graftbench/<digest>/classes`, keyed by a
digest of every input file, so a checkout builds once and an edited
source tree rebuilds. Run directly to build: `python3 graftbench/build.py`.
"""
import fcntl
import glob
import hashlib
import os
import shutil
import subprocess
import sys


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME, else the one whose
    spark-submit is on PATH. They carry Spark, Scala and the compiler."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise BuildError("no Spark distribution: set SPARK_HOME")
    return os.path.join(home, "jars")


def sources(root):
    main = os.path.join(root, "src", "main", "scala")
    harness = os.path.join(root, "graftbench", "src")
    if not os.path.isdir(main) or not os.path.isdir(harness):
        raise BuildError(f"no sources under {main} and {harness}: run from the repository root")
    return sorted(glob.glob(f"{main}/**/*.scala", recursive=True) +
                  glob.glob(f"{harness}/**/*.scala", recursive=True))


def resources(root):
    res = os.path.join(root, "src", "main", "resources")
    return sorted(p for p in glob.glob(f"{res}/**/*", recursive=True) if os.path.isfile(p))


def digest(root, files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build(root):
    """Returns the classes directory, compiling first when needed."""
    srcs, res = sources(root), resources(root)
    key = digest(root, srcs + res)
    base = os.path.join(root, ".bench_build", "graftbench")
    out = os.path.join(base, key, "classes")
    os.makedirs(base, exist_ok=True)
    with open(os.path.join(base, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.isdir(out):
            return out
        for old in os.listdir(base):
            if old != "lock":
                shutil.rmtree(os.path.join(base, old), ignore_errors=True)
        tmp = out + ".tmp"
        os.makedirs(tmp)
        argfile = os.path.join(base, key, "sources.txt")
        with open(argfile, "w") as fh:
            fh.write("\n".join(srcs) + "\n")
        cp = os.path.join(spark_jars(), "*")
        r = subprocess.run(["java", "-Xss16m", "-Xmx3g", "-XX:-UsePerfData", "-cp", cp,
                            "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", cp,
                            "@" + argfile],
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            raise BuildError("scalac failed:\n" + r.stdout[-4000:])
        res_root = os.path.join(root, "src", "main", "resources")
        for f in res:
            dst = os.path.join(tmp, os.path.relpath(f, res_root))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copyfile(f, dst)
        os.rename(tmp, out)
        return out


if __name__ == "__main__":
    try:
        print(build(os.getcwd()))
    except BuildError as e:
        sys.exit(f"build failed: {e}")
