"""Build the program and the benchmark harness from source.

Compiles the program's main sources (`src/main/scala`) together with
the harness (`perfbench/src`) in one scalac call against the Spark
jars, into `<build dir>/classes`. The build is skipped when the source
digest matches the last successful build.

    python3 perfbench/build.py    # prints the classes directory
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
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def spark_jars():
    """The jar directory the repo's sbt build compiles against (its
    `unmanagedBase`), or `$SPARK_HOME/jars`."""
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if m:
        return m.group(1)
    if "SPARK_HOME" not in os.environ:
        raise RuntimeError("build.sbt names no unmanagedBase and SPARK_HOME is unset")
    return os.path.join(os.environ["SPARK_HOME"], "jars")


def sources():
    files = []
    for d in SOURCE_DIRS:
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(files)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update(" ".join(sorted(os.listdir(spark_jars()))).encode())
    return h.hexdigest()


def build(log=sys.stderr):
    """Compile if needed; return the classes directory."""
    files = sources()
    if not any(f.startswith(SOURCE_DIRS[0]) for f in files):
        raise RuntimeError(f"no program sources under {SOURCE_DIRS[0]}")
    out = os.path.join(build_dir(), "classes")
    stamp = os.path.join(build_dir(), "classes.digest")
    want = digest(files)
    if os.path.isdir(out) and os.path.exists(stamp) and open(stamp).read() == want:
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    print(f"[perfbench] compiling {len(files)} sources", file=log, flush=True)
    argfile = os.path.join(build_dir(), "scalac.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g",
           "-cp", os.path.join(spark_jars(), "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile]
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise RuntimeError(f"scalac failed with exit code {r.returncode}")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(stamp, "w") as fh:
        fh.write(want)
    return out


if __name__ == "__main__":
    try:
        print(build())
    except RuntimeError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
