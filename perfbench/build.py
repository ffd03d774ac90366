"""Build file of the benchmark package.

Compiles the engine (`src/main/scala` + `src/main/resources`) together with
the benchmark's own sources (`perfbench/src/main/scala`) into
`.bench_build/classes`, using the Scala compiler that ships in the Spark
distribution's `jars/` directory. No sbt, no dependency resolution, no
network. A content stamp over every source file skips the compile when
nothing changed since the last build.

    python3 perfbench/build.py          # build (or confirm up to date)
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
OUT = ROOT / ".bench_build"
CLASSES = OUT / "classes"
STAMP = OUT / "stamp"


class BuildError(Exception):
    pass


def spark_home() -> Path:
    """$SPARK_HOME, else the distribution that `spark-submit` on PATH belongs to."""
    env = os.environ.get("SPARK_HOME")
    submit = shutil.which("spark-submit")
    home = Path(env) if env else Path(submit).resolve().parent.parent if submit else None
    if home is None or not (home / "jars").is_dir():
        raise BuildError("no Spark distribution found (set SPARK_HOME)")
    return home


def classpath() -> str:
    return f"{CLASSES}{os.pathsep}{spark_home() / 'jars' / '*'}"


def _sources():
    engine = ROOT / "src" / "main" / "scala"
    bench = BENCH / "src" / "main" / "scala"
    if not engine.is_dir():
        raise BuildError("engine sources not found: src/main/scala")
    files = sorted(engine.rglob("*.scala")) + sorted(bench.rglob("*.scala"))
    if not any(p.is_relative_to(engine) for p in files):
        raise BuildError("src/main/scala holds no Scala sources")
    resources = ROOT / "src" / "main" / "resources"
    res = sorted(p for p in resources.rglob("*") if p.is_file()) if resources.is_dir() else []
    return files, resources, res


def _digest(paths) -> str:
    h = hashlib.sha256()
    for p in paths:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build(log=sys.stderr) -> None:
    files, resources, res = _sources()
    digest = _digest(files + res + [Path(__file__).resolve()])
    if CLASSES.is_dir() and STAMP.is_file() and STAMP.read_text() == digest:
        return
    tmp = OUT / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in files) + "\n")
    jars = spark_home() / "jars" / "*"
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", str(jars), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", str(tmp), f"@{argfile}"]
    print(f"perfbench: compiling {len(files)} sources", file=log, flush=True)
    proc = subprocess.run(cmd, stdout=log, stderr=log)
    if proc.returncode != 0:
        raise BuildError(f"scalac exited with {proc.returncode}")
    for p in res:
        dst = tmp / p.relative_to(resources)
        dst.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(p, dst)
    shutil.rmtree(CLASSES, ignore_errors=True)
    tmp.rename(CLASSES)
    STAMP.write_text(digest)


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        sys.exit(2)
