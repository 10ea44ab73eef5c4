"""Build file of the benchmark: compiles the engine and the harness from source.

The engine (src/main/scala) and the harness (perfbench/src) are compiled
with the Scala compiler that ships with the Spark distribution, against
the Spark jars, into content-addressed directories under .bench_build/.
A directory is reused only when its sources hash to the same digest, so
an edited checkout always rebuilds.

    python3 perfbench/build.py      # build, print the classpath
"""

import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build" / "perfbench"
ENGINE_SRC = ROOT / "src" / "main" / "scala"
ENGINE_RES = ROOT / "src" / "main" / "resources"
BENCH_SRC = ROOT / "perfbench" / "src"
SCALA_VERSION = "2.13.17"


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    """$SPARK_HOME/jars, else the jar directory the sbt build compiles against."""
    if "SPARK_HOME" in os.environ:
        jars = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        sbt = ROOT / "build.sbt"
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                      sbt.read_text() if sbt.is_file() else "")
        if not m:
            raise BuildError("set SPARK_HOME: no unmanagedBase in build.sbt")
        jars = Path(m.group(1))
    if not (jars / f"scala-compiler-{SCALA_VERSION}.jar").is_file():
        raise BuildError(f"no Scala {SCALA_VERSION} compiler in {jars}")
    return jars


def sources(d: Path) -> list:
    if not d.is_dir():
        raise BuildError(f"missing source directory {d.relative_to(ROOT)}")
    files = sorted(p for p in d.rglob("*") if p.suffix in (".scala", ".java"))
    if not files:
        raise BuildError(f"no sources under {d.relative_to(ROOT)}")
    return files


def digest(files: list, extra: str = "") -> str:
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(b"\0")
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def scalac(out: Path, classpath: list, files: list, jars: Path) -> None:
    if out.is_dir():
        return
    tmp = out.with_name(out.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    compiler = os.pathsep.join(str(jars / f"scala-{m}-{SCALA_VERSION}.jar")
                               for m in ("compiler", "library", "reflect"))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-cp", os.pathsep.join(map(str, classpath)),
           *map(str, files)]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    try:
        os.replace(tmp, out)
    except OSError:
        # another build of the same sources finished first
        shutil.rmtree(tmp, ignore_errors=True)
        if not out.is_dir():
            raise


def build() -> list:
    """Compile what is stale and return the run classpath."""
    jars = spark_jars()
    if not ENGINE_RES.is_dir():
        raise BuildError(f"missing resource directory {ENGINE_RES.relative_to(ROOT)}")
    engine_files = sources(ENGINE_SRC)
    bench_files = sources(BENCH_SRC)
    engine_key = digest(engine_files)
    engine_out = BUILD / f"engine-{engine_key}"
    bench_out = BUILD / f"bench-{digest(bench_files, engine_key)}"
    scalac(engine_out, [jars / "*"], engine_files, jars)
    scalac(bench_out, [engine_out, jars / "*"], bench_files, jars)
    return [bench_out, engine_out, ENGINE_RES, jars / "*"]


if __name__ == "__main__":
    try:
        print(os.pathsep.join(map(str, build())))
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
