"""Build file of the benchmark: compiles the engine and the benchmark's
own JVM harness with the Scala compiler shipped in the Spark jars, so
neither the repo's `build.sbt` nor a network-resolved toolchain is
involved.

    python3 perfbench/build.py            # from the repo root

Outputs go to `.bench_build/classes/{engine,bench}`. A build is skipped
when the sources' digest matches the stamp of the last good build; a
build writes to a fresh directory and renames it into place, so an
interrupted build never leaves classes that look complete.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
OUT = ".bench_build"
ENGINE_SRC = os.path.join("src", "main", "scala")
ENGINE_RES = os.path.join("src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")


def spark_jars() -> str:
    """`$SPARK_HOME/jars`, else the jars directory the repo's own build
    declares as its `unmanagedBase`."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open("build.sbt") as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m:
        raise SystemExit("no Spark jars directory: set SPARK_HOME")
    return m.group(1)


def _sources(root: str) -> list:
    return sorted(glob.glob(os.path.join(root, "**", "*.scala"),
                            recursive=True))


def _digest(files: list) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _scalac(out_dir: str, classpath: str, files: list) -> None:
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", out_dir, "-classpath", classpath] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"scalac failed for {out_dir}")


def _build_one(name: str, files: list, classpath: str, digest: str) -> str:
    out = os.path.join(OUT, "classes", name)
    stamp = os.path.join(OUT, "classes", f"{name}.stamp")
    if os.path.isdir(out) and os.path.exists(stamp) \
            and open(stamp).read() == digest:
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    _scalac(tmp, classpath, files)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return out


def build() -> str:
    """Compile engine then harness; return the runtime classpath."""
    jars = os.path.join(spark_jars(), "*")
    engine_files = _sources(ENGINE_SRC)
    if not engine_files:
        raise SystemExit(f"no engine sources under {ENGINE_SRC}")
    engine_digest = _digest(engine_files) + jars
    engine = _build_one("engine", engine_files, jars, engine_digest)
    bench_files = _sources(BENCH_SRC)
    # the harness is rebuilt whenever the engine it links against changes
    bench = _build_one("bench", bench_files, os.pathsep.join([engine, jars]),
                       _digest(bench_files) + engine_digest)
    return os.pathsep.join(os.path.abspath(p) for p in
                           [bench, engine, ENGINE_RES]) + os.pathsep + jars


if __name__ == "__main__":
    print(build())
