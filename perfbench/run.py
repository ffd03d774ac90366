"""Benchmark entry point.

    python3 perfbench/run.py --workload stream_decode --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source (see build.py), then runs
one workload in a single JVM: Spark `local[n]` with n = min(4, nproc) and
one closed-loop client thread. The JVM prints a human-readable report and,
as the last stdout line, one JSON object with `correct`, `attempted`,
`failed` and `metrics`. The exit code is non-zero when the build fails,
the run fails, or any operation returned a wrong result.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("stream_decode", "lake_scan", "ingest_upsert")
JVM_TIMEOUT_S = 170
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    try:
        build.build()
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2

    work = build.OUT / f"run-{os.getpid()}"
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+UseG1GC", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={build.BENCH / 'log4j2.properties'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", build.classpath(), "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", str(work), "--heap", HEAP,
            "--trace-dir", str(build.OUT / "trace")]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, cwd=build.ROOT,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"perfbench: run exceeded {JVM_TIMEOUT_S}s", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = [ln for ln in out.splitlines() if ln.strip()]
    if proc.returncode != 0 and (not lines or not lines[-1].startswith("{")):
        sys.stdout.write(out)
        print(f"perfbench: JVM exited with {proc.returncode}", file=sys.stderr)
        return proc.returncode or 1
    try:
        result = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        sys.stdout.write(out)
        print("perfbench: no result line", file=sys.stderr)
        return 4
    sys.stdout.write("\n".join(lines[:-1]) + "\n")
    print(json.dumps(result))
    if proc.returncode != 0 or not result.get("correct") or result.get("failed"):
        return proc.returncode or 5
    return 0


if __name__ == "__main__":
    sys.exit(main())
