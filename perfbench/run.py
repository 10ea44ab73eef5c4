"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload scan --seed 1 --seconds 10 --trace 0

Builds the engine and the harness from source (see build.py), then runs
the harness in one JVM. Inputs are generated from --seed inside the
checkout's .bench_build/ directory and removed afterwards. With --trace 1
the per-layer metrics are printed instead of the end-to-end ones, and the
span dump and self-time table are kept under .bench_build/perfbench/traces/.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("scan", "extract", "neardup", "stream")
JVM_TIMEOUT_S = 165
HEAP = "3g"


def jvm_flags(tmp: Path) -> list:
    opens = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]
    flags = [f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+UseParallelGC", "-Xss8m",
             f"-Djava.io.tmpdir={tmp}"]
    for o in opens:
        flags += ["--add-opens", f"{o}=ALL-UNNAMED"]
    return flags


def git_commit() -> str:
    try:
        r = subprocess.run(["git", "-C", str(build.ROOT), "rev-parse", "HEAD"],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except OSError:
        return "unknown"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("gencheck",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    try:
        classpath = build.build()
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2

    work = build.BUILD / "work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    traces = build.BUILD / "traces"
    traces.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "tmp"),
               PERFBENCH_SOURCE_DIGEST=classpath[1].name, PERFBENCH_GIT_COMMIT=git_commit())
    cmd = ["java", *jvm_flags(work / "tmp"), "-cp", os.pathsep.join(map(str, classpath)),
           "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", str(work), "--traces", str(traces)]
    log = work.parent / f"{work.name}.log"
    t0 = time.monotonic()
    try:
        with open(log, "w") as err:
            proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                                    stderr=err, text=True)
            try:
                out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.communicate()
                print(f"perfbench: timed out after {JVM_TIMEOUT_S} s; log {log}",
                      file=sys.stderr)
                return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    for line in lines[:-1]:
        print(line)
    if proc.returncode != 0 or not lines:
        with open(log) as f:
            sys.stderr.write(f.read()[-6000:])
        print(f"perfbench: harness exited {proc.returncode}; log {log}", file=sys.stderr)
        return 4
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        print("perfbench: malformed result line", file=sys.stderr)
        return 5
    with open(log) as f:
        sys.stderr.writelines(l for l in f if l.startswith("perfbench:"))
    os.remove(log)
    print(f"perfbench: wall {time.monotonic() - t0:.1f} s", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
