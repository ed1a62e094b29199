"""Build file of the benchmark package.

Compiles the program under test (``src/main/scala`` of the checkout) and
the benchmark sources (``perfbench/src``) with the Scala compiler that
ships among the Spark jars, into a directory keyed by a hash of every
source file. A second call with unchanged sources reuses that directory.

    python3 perfbench/build.py      # prints the classes directory
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = BENCH / "src"
BUILD = ROOT / ".bench_build"


class BuildFailed(Exception):
    pass


def spark_jars() -> Path:
    """The Spark jar directory: $SPARK_HOME/jars, else the `unmanagedBase`
    the repository's build.sbt compiles against."""
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    sbt = ROOT / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m and Path(m.group(1)).is_dir():
            return Path(m.group(1))
    raise BuildFailed("no Spark jars: set SPARK_HOME or keep build.sbt's unmanagedBase")


def sources() -> list:
    if not PROGRAM_SRC.is_dir():
        raise BuildFailed(f"program sources not found under {PROGRAM_SRC.relative_to(ROOT)}")
    files = sorted(PROGRAM_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))
    if not any(f.is_relative_to(PROGRAM_SRC) for f in files):
        raise BuildFailed("no program sources to build")
    return files


def build(log=sys.stderr) -> Path:
    """Returns the classes directory, compiling first when needed."""
    files = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    out = BUILD / f"classes-{h.hexdigest()[:16]}"
    if (out / "BUILD_OK").is_file():
        return out
    BUILD.mkdir(parents=True, exist_ok=True)
    staging = Path(tempfile.mkdtemp(prefix="staging-", dir=BUILD))
    try:
        argfile = staging / "sources.txt"
        argfile.write_text("\n".join(str(f) for f in files) + "\n")
        classes = staging / "classes"
        classes.mkdir()
        cmd = ["java", "-Xmx2g", "-Xss4m", "-cp", str(jars / "*"),
               "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
               "-d", str(classes), f"@{argfile}"]
        print(f"[perfbench] compiling {len(files)} sources", file=log, flush=True)
        proc = subprocess.run(cmd, stdout=log, stderr=log)
        if proc.returncode != 0:
            raise BuildFailed(f"scalac exited with {proc.returncode}")
        (classes / "BUILD_OK").write_text("ok\n")
        try:
            classes.rename(out)
        except OSError:
            if not (out / "BUILD_OK").is_file():
                raise
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    for old in BUILD.glob("classes-*"):
        if old != out:
            shutil.rmtree(old, ignore_errors=True)
    return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildFailed as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(1)
